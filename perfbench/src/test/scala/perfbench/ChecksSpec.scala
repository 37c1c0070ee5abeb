package perfbench

import graft.functions.VectorFunctions.dot
import org.scalatest.funsuite.AnyFunSuite

/** Every output check accepts the correct result and rejects a
  * deliberately corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private def unit(xs: Float*): Array[Float] = {
    val n = math.sqrt(xs.map(x => x.toDouble * x).sum).toFloat
    xs.map(_ / n).toArray
  }

  private val vectors: Map[Long, Array[Float]] = Map(
    1L -> unit(1f, 0f, 0f), 2L -> unit(0.9f, 0.1f, 0f), 3L -> unit(0f, 1f, 0f),
    4L -> unit(0.9f, 0.1f, 0f), 5L -> unit(0f, 0f, 1f))
  private val q = unit(1f, 0.05f, 0f)

  test("brute-force top-k ranks by score, ties by pk") {
    val top = Checks.bruteTopK(vectors, q, 3)
    assert(top.map(_._1) == Seq(1L, 2L, 4L)) // 2 and 4 tie on score
    assert(top.map(_._2) == Seq(1L, 2L, 4L).map(pk => dot(vectors(pk), q)))
  }

  test("exact top-k check rejects swapped ids") {
    val want = Checks.bruteTopK(vectors, q, 3)
    assert(Checks.exactTopK("q", want, want).isEmpty)
    val swapped = Seq(want(1), want(0), want(2))
    assert(Checks.exactTopK("q", swapped, want).nonEmpty)
    val tieSwapped = Seq(want(0), want(2), want(1))
    assert(Checks.exactTopK("q", tieSwapped, want).nonEmpty)
  }

  test("ivf check rejects a wrong score, a repeated pk and a short answer") {
    val good = Checks.bruteTopK(vectors, q, 3)
    assert(Checks.ivfHits("q", good, vectors, q, 3).isEmpty)
    // IVF may miss true neighbours, but every hit it returns is exact
    val approx = Seq(good(0), good(1), 3L -> dot(vectors(3L), q))
    assert(Checks.ivfHits("q", approx, vectors, q, 3).isEmpty)
    assert(Checks.ivfHits("q", Seq(good(0), good(1), 3L -> 0.5), vectors, q, 3).nonEmpty)
    assert(Checks.ivfHits("q", Seq(good(0), good(0), good(1)), vectors, q, 3).nonEmpty)
    assert(Checks.ivfHits("q", good.take(2), vectors, q, 3).nonEmpty)
    assert(Checks.ivfHits("q", Seq(good(1), good(0), good(2)), vectors, q, 3).nonEmpty)
  }

  test("recall counts the exact ids an answer contains") {
    assert(Checks.recall(Seq(1L, 2L, 9L), Seq(1L, 2L, 4L)) == 2.0 / 3)
  }

  test("sync check rejects a dropped upsert and a resurrected tombstone") {
    val live = collection.mutable.HashMap(1L -> vectors(1L), 2L -> vectors(3L), 6L -> vectors(5L))
    val deleted = collection.mutable.HashSet(4L)
    val good = live.toSeq.map { case (pk, v) => pk -> dot(v, q) }
    assert(Checks.syncedState(good, live, deleted, q).isEmpty)
    // pk 2 was updated to vectors(3); an index that dropped the upsert
    // still serves its old vector
    val staleUpdate = good.map { case (2L, _) => 2L -> dot(vectors(2L), q); case h => h }
    assert(Checks.syncedState(staleUpdate, live, deleted, q).exists(_.contains("old vector")))
    val droppedInsert = good.filterNot(_._1 == 6L)
    assert(Checks.syncedState(droppedInsert, live, deleted, q).exists(_.contains("not visible")))
    val resurrected = good :+ (4L -> dot(vectors(4L), q))
    assert(Checks.syncedState(resurrected, live, deleted, q).exists(_.contains("tombstoned")))
  }

  test("ingest check wants dense path-order ids over the decodable files") {
    val files = Seq("img_00000.jpg", "img_00001.jpg", "img_00002.jpg", "img_00003.jpg")
    val corrupt = Set("img_00001.jpg")
    val good = Seq(0L -> "/d/img_00000.jpg", 2L -> "/d/img_00002.jpg", 3L -> "/d/img_00003.jpg")
    assert(Checks.ingested("s", good, files, corrupt).isEmpty)
    assert(Checks.ingested("s", good.take(2), files, corrupt).nonEmpty)
    val shifted = Seq(0L -> "/d/img_00000.jpg", 1L -> "/d/img_00002.jpg", 2L -> "/d/img_00003.jpg")
    assert(Checks.ingested("s", shifted, files, corrupt).nonEmpty)
    assert(Checks.ingested("s", good :+ (1L -> "/d/img_00001.jpg"), files, corrupt).nonEmpty)
  }

  test("dedup check rejects a sub-threshold pair, a repeat and a reversed pair") {
    val base = (0 until 40).map(i => s"t$i")
    val docs = Map(
      0L -> base.mkString(" "),
      1L -> base.updated(20, "x").mkString(" "), // near duplicate of 0
      2L -> (base.take(20) ++ (20 until 40).map(i => s"u$i")).mkString(" "))
    val j01 = Checks.jaccard(Checks.shingles(docs(0L)), Checks.shingles(docs(1L)))
    val j02 = Checks.jaccard(Checks.shingles(docs(0L)), Checks.shingles(docs(2L)))
    assert(j01 >= 0.7 && j02 < 0.7, s"fixture: j01=$j01 j02=$j02")
    assert(Checks.dedupPairs(Seq(0L -> 1L), docs, 0.7).isEmpty)
    assert(Checks.dedupPairs(Seq(0L -> 1L, 0L -> 2L), docs, 0.7).exists(_.contains("below threshold")))
    assert(Checks.dedupPairs(Seq(0L -> 1L, 0L -> 1L), docs, 0.7).exists(_.contains("twice")))
    assert(Checks.dedupPairs(Seq(1L -> 0L), docs, 0.7).exists(_.contains("ordered")))
  }

  test("tail is the 11th-largest sample, at the percentile it stands for") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == (30.0, 75.0))
    assert(Stats.median(xs) == 20.5)
    intercept[IllegalArgumentException](Stats.tail(xs.take(10)))
  }

  test("self time subtracts the union of child spans") {
    val spans = Seq(Span(0, "a.x", -1, 0, 0L, 100L), Span(1, "b.y", 0, 0, 10L, 40L),
      Span(2, "b.z", 0, 0, 30L, 60L), Span(3, "c.w", 2, 0, 35L, 45L))
    assert(Trace.selfNs(spans) == Map(0 -> 50L, 1 -> 30L, 2 -> 20L, 3 -> 10L))
  }
}
