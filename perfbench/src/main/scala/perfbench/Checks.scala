package perfbench

import graft.functions.VectorFunctions.dot

/** Latency summaries. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample, at percentile `100 * (n - 10) / n`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 11, s"a tail needs 11 samples, got ${xs.length}")
    val s = xs.sorted; val n = s.length
    (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Output checks. Each returns the failures it found, empty when the
  * output is correct; none of them reads engine state. */
object Checks {

  /** Driver-side exact top-k: double left-fold dot over every live vector,
    * ordered by score descending, ties by pk ascending. */
  def bruteTopK(vectors: collection.Map[Long, Array[Float]], q: Array[Float],
      k: Int): Seq[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      // the heap head is the WORST kept hit: lowest score, then highest pk
      Ordering.by[(Double, Long), (Double, Long)](h => (-h._1, h._2)))
    vectors.foreach { case (pk, v) =>
      val s = dot(v, q)
      if (heap.size < k) heap.enqueue((s, pk))
      else {
        val (ws, wpk) = heap.head
        if (s > ws || (s == ws && pk < wpk)) { heap.dequeue(); heap.enqueue((s, pk)) }
      }
    }
    heap.dequeueAll[(Double, Long)].reverse.map { case (s, pk) => (pk, s) }
  }

  /** Exact search must return exactly the brute-force ranking. */
  def exactTopK(label: String, got: Seq[(Long, Double)],
      expected: Seq[(Long, Double)]): Seq[String] =
    if (got == expected) Nil
    else Seq(s"$label: exact top-${expected.length} ${fmt(got)} != brute force ${fmt(expected)}")

  /** IVF hits: distinct live pks, each scored by its exact cosine, in
    * non-increasing score order, `min(k, live)` of them. */
  def ivfHits(label: String, got: Seq[(Long, Double)],
      vectors: collection.Map[Long, Array[Float]], q: Array[Float], k: Int): Seq[String] = {
    val bad = got.collect {
      case (pk, _) if !vectors.contains(pk) => s"$label: ivf returned unknown pk $pk"
      case (pk, s) if s != dot(vectors(pk), q) =>
        s"$label: ivf score $s for pk $pk != exact cosine ${dot(vectors(pk), q)}"
    }
    val shape =
      if (got.map(_._1).distinct.length != got.length) Seq(s"$label: ivf returned a pk twice")
      else if (got.map(_._2) != got.map(_._2).sorted(Ordering[Double].reverse))
        Seq(s"$label: ivf hits not in score order")
      else if (got.length != math.min(k, vectors.size))
        Seq(s"$label: ivf returned ${got.length} hits, expected ${math.min(k, vectors.size)}")
      else Nil
    bad ++ shape
  }

  /** Recall of `got` against the exact top-k ids. */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.length

  /** Index contents after sync: `dump` is every indexed pk with its score
    * against the probe `q`. Every live pk must be there with the score of
    * its newest vector; no tombstoned pk may be. */
  def syncedState(dump: Seq[(Long, Double)],
      live: collection.Map[Long, Array[Float]], deleted: collection.Set[Long],
      q: Array[Float]): Seq[String] = {
    val got = dump.toMap
    val dup = if (got.size != dump.length) Seq("sync: index holds a pk twice") else Nil
    val missing = live.keys.filterNot(got.contains).toSeq.sorted
    val stale = live.collect {
      case (pk, v) if got.get(pk).exists(_ != dot(v, q)) => pk
    }.toSeq.sorted
    val resurrected = deleted.filter(got.contains).toSeq.sorted
    val unknown = got.keys.filterNot(k => live.contains(k) || deleted(k)).toSeq.sorted
    dup ++
      (if (missing.nonEmpty) Seq(s"sync: ${missing.size} synced pks not visible, e.g. ${missing.take(5)}") else Nil) ++
      (if (stale.nonEmpty) Seq(s"sync: ${stale.size} pks serve an old vector, e.g. ${stale.take(5)}") else Nil) ++
      (if (resurrected.nonEmpty) Seq(s"sync: ${resurrected.size} tombstoned pks still indexed, e.g. ${resurrected.take(5)}") else Nil) ++
      (if (unknown.nonEmpty) Seq(s"sync: ${unknown.size} pks never written, e.g. ${unknown.take(5)}") else Nil)
  }

  /** Ingest of one shard: the indexed `(id, path)` rows must be exactly
    * the decodable files, with dense ids in path order over all scanned
    * files (undecodable ones keep their id slot and are dropped). */
  def ingested(label: String, got: Seq[(Long, String)], files: Seq[String],
      corrupt: Set[String]): Seq[String] = {
    val expected = files.sorted.zipWithIndex.collect {
      case (f, i) if !corrupt(f) => (i.toLong, f)
    }
    val g = got.sortBy(_._1)
    if (g.length != expected.length)
      Seq(s"$label: ${g.length} rows ingested, ${expected.length} decodable images")
    else {
      val wrong = g.zip(expected).filter { case ((id, p), (eid, ef)) =>
        id != eid || !p.endsWith("/" + ef) }
      if (wrong.isEmpty) Nil
      else Seq(s"$label: ${wrong.size} rows with wrong id or path, e.g. ${wrong.head}")
    }
  }

  /** Distinct word-3-shingle set, the engine's near-duplicate definition:
    * whitespace tokens, consecutive triples joined by one space. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.intersect(b).size
    common.toDouble / (a.size + b.size - common)
  }

  /** Every reported pair is ordered, reported once, and its Jaccard,
    * recomputed from the raw documents, reaches the threshold. */
  def dedupPairs(pairs: Seq[(Long, Long)], docs: Long => String,
      threshold: Double): Seq[String] = {
    val unordered = pairs.filter { case (a, b) => a >= b }
    val dups = pairs.length - pairs.distinct.length
    val low = pairs.filter { case (a, b) => a < b }.flatMap { case (a, b) =>
      val j = jaccard(shingles(docs(a)), shingles(docs(b)))
      if (j < threshold) Some(f"($a,$b) jaccard $j%.4f") else None
    }
    (if (unordered.nonEmpty) Seq(s"dedup: ${unordered.size} pairs not ordered id_a < id_b") else Nil) ++
      (if (dups > 0) Seq(s"dedup: $dups pairs reported twice") else Nil) ++
      (if (low.nonEmpty) Seq(s"dedup: ${low.size} pairs below threshold $threshold, e.g. ${low.take(3)}") else Nil)
  }

  private def fmt(h: Seq[(Long, Double)]): String =
    h.map { case (pk, s) => f"$pk:$s%.6f" }.mkString("[", ",", "]")
}
