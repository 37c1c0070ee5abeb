package perfbench

import graft.embed.DeterministicEmbedder
import graft.functions.VectorFunctions.dot
import graft.index.{VectorIndex, VectorIndexCatalog}
import graft.ingest.BinaryIngest
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload run shares: the session, the tracer, the listener
  * (traced runs only), the directory it may write under and its seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val metrics: Option[SparkMetrics], val work: Path, val seed: Long,
    val cpus: Int, val tiny: Boolean) {
  def span[A](name: String)(f: => A): A = tracer.span(name)(f)

  /** Bytes the block manager holds for cached and checkpointed data. */
  def storageBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** `Array.tabulate` on the common fork-join pool. */
  def parTabulate[A: scala.reflect.ClassTag](n: Int)(f: Int => A): Array[A] = {
    val out = new Array[A](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }
}

/** A check that rejected an operation's output. `op` is -1 for a check of
  * state left by the whole run. */
final case class Failure(op: Int, msg: String)

/** One workload. The runner calls [[setup]] `setupReps` times (each call
  * replaces the previous state), then [[warmupOp]] until the warm-up time
  * is spent, then [[op]] in a closed loop, then [[check]]. */
abstract class Workload(val ctx: Ctx) {
  def setupReps: Int = 3
  /** Untimed warm-up before the loop, so JIT and codegen caches settle:
    * at least `warmupOps._1` and at most `warmupOps._2` ops, for
    * `warmupSeconds` in between. */
  def warmupSeconds: Double = 3.0
  def warmupOps: (Int, Int) = (2, Int.MaxValue)
  /** Fewest operations a run makes, so the tail percentile exists. */
  def minOps: Int = 11
  def maxOps: Int = Int.MaxValue
  def setup(rep: Int): Unit
  /** The `k`-th untimed operation before the measured loop. */
  def warmupOp(k: Int): Unit
  /** Run operation `i`; returns its latency in ms and the items it did.
    * Work outside the latency (feeding inputs, checks) is not timed. */
  def op(i: Int): (Double, Long)
  /** Checks of output recorded during the loop and of the final state. */
  def check(): Unit
  /** Per-layer metrics from the spans of the measured loop. */
  def layers(window: Seq[Span], ops: Int): Map[String, Double]
  /** Figures under the workload's own names, for the info line. */
  def named(lat: Seq[Double], opMs: Double, items: Long): Map[String, Double]

  val failures = mutable.ArrayBuffer.empty[Failure]
  protected def fail(op: Int, msgs: Seq[String]): Unit = failures ++= msgs.map(Failure(op, _))

  protected val emb = new DeterministicEmbedder(768)
  protected def spark: SparkSession = ctx.spark
  protected def span[A](name: String)(f: => A): A = ctx.span(name)(f)

  protected def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e6)
  }

  protected def hits(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(0), r.getAs[Double]("score")))

  protected val probe: Array[Float] = emb.embedText("perfbench probe vector")

  /** Every `(pk, score)` the index serves, scored against [[probe]]. */
  protected def dump(idx: VectorIndex, atMost: Int): Seq[(Long, Double)] =
    hits(idx.search(probe, atMost).collect())
}

object Workload {
  val names: Seq[String] =
    Seq("ingest_jpeg", "serve_exact_10k", "serve_ivf_10k", "sync_5k", "dedup_minhash")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_jpeg" => new Ingest(ctx)
    case "serve_exact_10k" => new Serve(ctx, ivf = false, (idx, v) => idx.search(v, 10).collect())
    case "serve_ivf_10k" => new Serve(ctx, ivf = true, (idx, v) => idx.searchIvf(v, 10).collect())
    case "sync_5k" => new Sync(ctx)
    case "dedup_minhash" => new DedupWl(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; known: ${names.mkString(", ")}")
  }
}

/** Spans of one name and what Spark did under them. */
final class Layer(ctx: Ctx, val spans: Seq[Span]) {
  def n: Int = spans.length
  def ms: Double = spans.map(_.durNs).sum / 1e6
  def meanMs: Double = if (n == 0) 0.0 else ms / n
  lazy val agg: GroupAgg = {
    val a = new GroupAgg
    ctx.metrics.foreach(m => spans.foreach(s => a.add(ctx.tracer.metricsOf(m, s))))
    a
  }
  /** Span wall not covered by Spark jobs, per span. */
  def driverMs: Double = if (n == 0) 0.0 else {
    val jobMs = spans.map { s =>
      ctx.metrics.map(m => ctx.tracer.metricsOf(m, s).jobWallMs).getOrElse(0L)
    }.sum
    (ms - jobMs) / n
  }
  def per(x: Double): Double = if (n == 0) 0.0 else x / n
}

/** Bulk write path: shards of seeded JPEGs through scan -> dense ids ->
  * decode + embed (768-d) -> `VectorIndex.build`, one shard per op. */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  private val shards = if (ctx.tiny) 2 else 12
  private val perShard = if (ctx.tiny) 12 else 25
  private val (w, h) = if (ctx.tiny) (64, 48) else (640, 480)
  private var corpus: Gen.JpegCorpus = _
  private val opStats = mutable.ArrayBuffer.empty[(Long, Long, Long)] // scanned, embedded, bytes
  // the decode and resample loops take the longest to reach steady state
  override def warmupSeconds: Double = 8.0
  override def setupReps: Int = 5

  def setup(rep: Int): Unit = {
    corpus = Gen.jpegCorpus(ctx.work.resolve("inputs"), shards, perShard, w, h,
      corruptPerShard = 1, ctx.seed, ctx.cpus)
    // landing-zone registration: one listing of every shard
    val listed = span("ingest.scan")(
      BinaryIngest.scan(spark, s"${corpus.dir}/shard_*", "*.jpg").count())
    if (listed != shards * perShard)
      fail(-1, Seq(s"ingest: listed $listed files, wrote ${shards * perShard}"))
  }

  def warmupOp(k: Int): Unit = ingestShard(k % shards, -1)

  def op(i: Int): (Double, Long) = ingestShard(i % shards, i)

  private def ingestShard(s: Int, i: Int): (Double, Long) = {
    val base = ctx.storageBytes
    val dir = corpus.shardDir(s).toString
    val name = s"ingest_$i"
    var scanned = -1L
    var embedded = -1L
    val (idx, ms) = timed {
      if (!ctx.tracer.enabled)
        VectorIndex.build(BinaryIngest.embedImages(BinaryIngest.withDenseIds(
          BinaryIngest.scan(spark, dir, "*.jpg")), emb), name, "image_id", "embedding")
      else {
        // traced: force each lazy layer at its boundary so it is timed alone
        val raw = span("ingest.scan") {
          val d = BinaryIngest.scan(spark, dir, "*.jpg").persist(); scanned = d.count(); d }
        val ided = span("ingest.dense_ids") {
          val d = BinaryIngest.withDenseIds(raw).persist(); d.count(); d }
        val vecs = span("embed.image") {
          val d = BinaryIngest.embedImages(ided, emb).persist(); embedded = d.count(); d }
        val built = span("index.build")(VectorIndex.build(vecs, name, "image_id", "embedding"))
        Seq(raw, ided, vecs).foreach(_.unpersist(blocking = true))
        built
      }
    }
    opStats += ((scanned, embedded, ctx.storageBytes - base))
    if (scanned >= 0 && scanned - embedded != corpus.corruptFiles(s).size)
      fail(i, Seq(s"ingest op $i: ${scanned - embedded} rows dropped at decode, " +
        s"${corpus.corruptFiles(s).size} planted undecodable"))
    val rows = idx.search(probe, perShard + 1, columns = Seq("filepath")).collect()
      .toSeq.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    fail(i, Checks.ingested(s"ingest op $i shard $s", rows.map(r => (r._1, r._2)),
      corpus.files(s), corpus.corruptFiles(s)))
    // one decodable image, embedded on the driver, must score the same
    rows.headOption.foreach { case (_, path, have) =>
      val want = emb.embedImage(Files.readAllBytes(java.nio.file.Paths.get(path)))
        .map(dot(_, probe))
      if (!want.contains(have))
        fail(i, Seq(s"ingest op $i: image $path scores $have, driver-side embedding gives $want"))
    }
    spark.catalog.clearCache()
    VectorIndexCatalog.drop(name)
    (ms, rows.length.toLong)
  }

  def check(): Unit = ()

  def layers(win: Seq[Span], ops: Int): Map[String, Double] = {
    def l(n: String) = new Layer(ctx, win.filter(_.name == n))
    val scan = l("ingest.scan"); val ids = l("ingest.dense_ids")
    val img = l("embed.image"); val build = l("index.build")
    val measured = opStats.takeRight(ops)
    val dropped = measured.map { case (sc, em, _) => sc - em }.sum
    val builtRows = measured.map(t => t._2).sum
    Map(
      "ingest.scan_s" -> scan.meanMs / 1e3,
      "ingest.input_bytes" -> scan.per(scan.agg.inputBytes.toDouble),
      "ingest.dense_ids_s" -> ids.meanMs / 1e3,
      "ingest.shuffle_write_bytes" -> ids.per(ids.agg.shuffleWriteBytes.toDouble),
      "embed.image_s" -> img.meanMs / 1e3,
      "embed.images_per_cpu_s" ->
        (if (img.agg.cpuNs == 0) 0.0 else measured.map(_._2).sum / (img.agg.cpuNs / 1e9)),
      "multimodal.dropped_rows" -> dropped.toDouble,
      "index.build_s" -> build.meanMs / 1e3,
      "index.mem_bytes_per_row" ->
        (if (builtRows == 0) 0.0 else measured.map(_._3).sum.toDouble / builtRows))
  }

  def named(lat: Seq[Double], opMs: Double, items: Long): Map[String, Double] =
    Map("ingest_images_per_s" -> items / (opMs / 1e3),
      "planted_corrupt" -> corpus.corrupt.size.toDouble)

  override def toString: String = s"$shards shards x $perShard ${w}x$h JPEGs"
}

/** Read-only text queries from one closed-loop client. Each op embeds one
  * query (`forQuery`) and answers it top-10 with `search`, the workload's
  * one operation type: exact `search` on `serve_exact_10k`, `searchIvf` on
  * `serve_ivf_10k`. Both share this set-up; only the IVF one builds the
  * IVF layout. */
final class Serve(ctx: Ctx, ivf: Boolean,
    search: (VectorIndex, Array[Float]) => Array[Row]) extends Workload(ctx) {
  private val n = if (ctx.tiny) 2000 else 10000
  private val topics = Gen.Topics(64, 40, ctx.seed)
  private val captions = Gen.captions(n, topics, ctx.seed)
  private val queries = Gen.queries(512, topics, ctx.seed)
  private lazy val vectors: Map[Long, Array[Float]] =
    ctx.parTabulate(n)(i => emb.embedText(captions(i))).zipWithIndex
      .map { case (v, i) => i.toLong -> v }.toMap
  private val searchSpan = if (ivf) "index.search_ivf" else "index.search"
  private var idx: VectorIndex = _
  private val answers = mutable.ArrayBuffer.empty[Serve.Answer]
  private var recallAt10 = 0.0
  // the IVF build makes each set-up about 3 s longer
  override def setupReps: Int = if (ivf) 2 else 3

  def setup(rep: Int): Unit = {
    spark.catalog.clearCache()
    val src = spark.createDataFrame(captions.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }).toDF("pk", "caption")
    idx = span("index.build")(VectorIndex.build(
      BinaryIngest.embedText(src, emb, "caption", "pk"), s"serve_$rep", "pk", "embedding"))
    if (ivf) span("index.ivf_build")(idx.buildIvf())
  }

  private def answer(i: Int): Serve.Answer = {
    val v = span("embed.query")(emb.forQuery(queries(i)))
    Serve.Answer(i, v, hits(span(searchSpan)(search(idx, v))))
  }

  // warm up on the queries from the end of the list, wrapping around
  def warmupOp(k: Int): Unit = answer(Serve.warmupQuery(k, queries.length))

  def op(i: Int): (Double, Long) = {
    val (a, ms) = timed(answer(i % queries.length))
    answers += a.copy(op = i)
    (ms, 1L)
  }

  def check(): Unit = {
    val every = math.max(1, answers.length / 32)
    val recalls = answers.zipWithIndex.flatMap { case (a, k) =>
      if (ivf) {
        fail(a.op, Checks.ivfHits(s"query ${a.op}", a.got, vectors, a.v, 10))
        Some(Checks.recall(a.got.map(_._1), Checks.bruteTopK(vectors, a.v, 10).map(_._1)))
      } else {
        if (k % every == 0)
          fail(a.op, Checks.exactTopK(s"query ${a.op}", a.got, Checks.bruteTopK(vectors, a.v, 10)))
        None
      }
    }
    if (ivf) recallAt10 = recalls.sum / recalls.length
  }

  def layers(win: Seq[Span], ops: Int): Map[String, Double] = {
    val s = new Layer(ctx, win.filter(_.name == searchSpan))
    val inSetup = (n: String) =>
      new Layer(ctx, ctx.tracer.spans.filter(x => x.name == n && x.req == -2))
    val common = Map(
      "embed.query_us" -> new Layer(ctx, win.filter(_.name == "embed.query")).meanMs * 1e3,
      "index.build_s" -> inSetup("index.build").meanMs / 1e3)
    if (ivf) common ++ Map(
      "index.ivf_build_s" -> inSetup("index.ivf_build").meanMs / 1e3,
      "index.search_ivf_ms" -> s.meanMs,
      "spark.ivf_executor_ms_per_query" -> s.per(s.agg.runMs.toDouble),
      "driver.ivf_ms" -> s.driverMs,
      "index.recall_at_10" -> recallAt10)
    else common ++ Map(
      "index.search_ms" -> s.meanMs,
      "spark.exact_executor_ms_per_query" -> s.per(s.agg.runMs.toDouble),
      "spark.exact_cpu_ms_per_query" -> s.per(s.agg.cpuNs / 1e6),
      "spark.tasks_per_query" -> s.per(s.agg.tasks.toDouble),
      "spark.jobs_per_query" -> s.per(s.agg.jobs.toDouble),
      "driver.exact_ms" -> s.driverMs)
  }

  def named(lat: Seq[Double], opMs: Double, items: Long): Map[String, Double] = {
    val kind = if (ivf) "ivf" else "exact"
    Map(s"${kind}_p50_ms" -> Stats.median(lat), s"${kind}_tail_ms" -> Stats.tail(lat)._1,
      "queries_per_s" -> items / (opMs / 1e3)) ++
      (if (ivf) Map("recall_at_10" -> recallAt10) else Map.empty)
  }

  override def toString: String =
    s"$n x 768 topic-clustered captions (${topics.nTopics} topics); per query top-10 by " +
      (if (ivf) "searchIvf" else "exact search")
}

object Serve {
  final case class Answer(op: Int, v: Array[Float], got: Seq[(Long, Double)])

  /** The query index of warm-up op `k`: from the end of the list of `n`
    * queries backwards, wrapping around, so any number of warm-up ops
    * stays in range. */
  def warmupQuery(k: Int, n: Int): Int = Math.floorMod(n - 1 - k, n)
}

/** TRIGGERED `IndexSync` over a seeded change feed (updates, inserts,
  * `_deleted` tombstones), one exact text query after every batch; an op
  * is one batch and its query. */
final class Sync(ctx: Ctx) extends Workload(ctx) {
  private val base = if (ctx.tiny) 500 else 5000
  private val batchSize = if (ctx.tiny) 10 else 50
  private val nBatches = 28
  private val topics = Gen.Topics(32, 40, ctx.seed)
  private val baseCaptions = Gen.captions(base, topics, ctx.seed)
  private val batches = Gen.changeBatches(base, nBatches, batchSize, topics, ctx.seed)
  private val queries = Gen.queries(256, topics, ctx.seed)
  private lazy val baseVectors: Array[Array[Float]] =
    ctx.parTabulate(base)(i => emb.embedText(baseCaptions(i)))
  private val changeSchema = StructType(Seq(
    StructField("pk", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true),
    StructField("version", LongType, nullable = false),
    StructField(VectorIndex.DeletedCol, BooleanType, nullable = false)))

  private var idx: VectorIndex = _
  private var dir: Path = _
  private val live = mutable.HashMap.empty[Long, Array[Float]]
  private val deleted = mutable.HashSet.empty[Long]
  private val addBatchMs = mutable.ArrayBuffer.empty[Double]
  private val syncMs = mutable.ArrayBuffer.empty[Double]
  private val queryMs = mutable.ArrayBuffer.empty[Double]
  private var memStart = 0L
  private var memEnd = 0L
  /** Batches of the stream consumed so far, by warm-up and measured ops. */
  private var consumed = 0
  // every batch grows index state, so every run syncs the same batches:
  // a time-bounded loop would start and stop at a speed-dependent state
  override def warmupOps: (Int, Int) = (8, 8)
  override def minOps: Int = 20
  override def maxOps: Int = 20

  def setup(rep: Int): Unit = {
    spark.catalog.clearCache()
    dir = ctx.work.resolve(s"sync-s${ctx.seed}-r$rep")
    Gen.deleteTree(dir)
    Files.createDirectories(dir.resolve("changes"))
    val src = spark.createDataFrame(baseCaptions.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }).toDF("pk", "caption")
    idx = span("index.build")(VectorIndex.build(
      BinaryIngest.embedText(src, emb, "caption", "pk"), s"sync_$rep", "pk", "embedding"))
    live.clear(); deleted.clear(); consumed = 0
    baseVectors.zipWithIndex.foreach { case (v, i) => live(i.toLong) = v }
  }

  def warmupOp(k: Int): Unit = {
    syncNext(-1, record = false)
    memStart = ctx.storageBytes
  }

  def op(i: Int): (Double, Long) = syncNext(i, record = true)

  /** Hands in the next batch, syncs it and runs one exact query. The op's
    * latency runs from the hand-in until the query is answered; the query
    * is then checked against the driver-side mirror of what the index
    * must hold now. */
  private def syncNext(i: Int, record: Boolean): (Double, Long) = {
    val b = consumed
    consumed += 1
    val batch = batches(b)
    val vecs = batch.map(c => if (c.deleted) null else emb.embedText(c.caption))
    batch.zip(vecs).foreach { case (c, v) =>
      if (c.deleted) { live.remove(c.pk); deleted += c.pk } else live(c.pk) = v }
    // hand the batch in: one new JSON-lines file of the change feed the
    // index syncs from, written without Spark and renamed into place
    val lines = batch.zip(vecs).map { case (c, v) =>
      val e = if (v == null) "null" else v.mkString("[", ",", "]")
      s"""{"pk":${c.pk},"embedding":$e,"version":${b + 1},"${VectorIndex.DeletedCol}":${c.deleted}}"""
    }
    val changes = dir.resolve("changes")
    val tmp = changes.resolve(f".batch-$b%05d.json")
    Files.write(tmp, lines.toSeq.asJava)
    Files.move(tmp, changes.resolve(f"batch-$b%05d.json"), StandardCopyOption.ATOMIC_MOVE)
    val t0 = System.nanoTime()
    val q = span("streaming.sync") {
      val q = graft.streaming.IndexSync.start(idx,
        spark.readStream.schema(changeSchema).json(changes.toString),
        dir.resolve("checkpoint").toString)
      ctx.tracer.alias(q.runId.toString)
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    val t1 = System.nanoTime()
    val v = span("embed.query")(emb.forQuery(queries(b % queries.length)))
    val got = hits(span("index.search")(idx.search(v, 10).collect()))
    val t2 = System.nanoTime()
    if (record) {
      syncMs += (t1 - t0) / 1e6
      queryMs += (t2 - t1) / 1e6
      addBatchMs += q.recentProgress
        .flatMap(p => Option(p.durationMs.get("addBatch"))).map(_.doubleValue).sum
    }
    fail(i, Checks.exactTopK(s"sync query after batch $b", got, Checks.bruteTopK(live, v, 10)))
    ((t2 - t0) / 1e6, batch.length.toLong)
  }

  def check(): Unit = {
    memEnd = ctx.storageBytes
    fail(-1, Checks.syncedState(dump(idx, live.size + deleted.size + 1), live, deleted, probe))
  }

  def layers(win: Seq[Span], ops: Int): Map[String, Double] = {
    val sync = new Layer(ctx, win.filter(_.name == "streaming.sync"))
    val searches = win.filter(_.name == "index.search")
    val s = new Layer(ctx, searches)
    def tasks(sp: Option[Span]) =
      sp.map(x => new Layer(ctx, Seq(x)).agg.tasks.toDouble).getOrElse(0.0)
    val upsert = addBatchMs.toSeq
    Map(
      "streaming.sync_batch_ms" -> sync.meanMs,
      "index.upsert_ms" -> upsert.sum / math.max(1, upsert.length),
      "streaming.overhead_ms" -> (sync.meanMs - upsert.sum / math.max(1, upsert.length)),
      "index.search_ms" -> s.meanMs,
      "spark.tasks_per_query" -> s.per(s.agg.tasks.toDouble),
      "spark.jobs_per_query" -> s.per(s.agg.jobs.toDouble),
      "spark.tasks_per_query_first" -> tasks(searches.headOption),
      "spark.tasks_per_query_last" -> tasks(searches.lastOption),
      "driver.exact_ms" -> s.driverMs,
      "embed.query_us" -> new Layer(ctx, win.filter(_.name == "embed.query")).meanMs * 1e3,
      "index.mem_bytes_start" -> memStart.toDouble,
      "index.mem_bytes_end" -> memEnd.toDouble)
  }

  def named(lat: Seq[Double], opMs: Double, items: Long): Map[String, Double] =
    Map("sync_p50_ms" -> Stats.median(syncMs.toSeq), "sync_tail_ms" -> Stats.tail(syncMs.toSeq)._1,
      "exact_p50_ms" -> Stats.median(queryMs.toSeq),
      "exact_tail_ms" -> Stats.tail(queryMs.toSeq)._1,
      "index_mem_mb_start" -> memStart / 1e6, "index_mem_mb" -> memEnd / 1e6)

  override def toString: String =
    s"$base-row index, batches of $batchSize changes, one exact query per batch"
}

/** `Dedup.minhashPairs` passes over a seeded corpus with planted
  * near-duplicate pairs. */
final class DedupWl(ctx: Ctx) extends Workload(ctx) {
  private val n = if (ctx.tiny) 400 else 1000
  private val planted = n / 20
  private val threshold = 0.7
  private var docs: Array[String] = _
  private var plantedPairs: Array[(Long, Long)] = _
  private var corpus: DataFrame = _
  private var firstRaw: Seq[(Long, Long)] = _
  private lazy val first: Set[(Long, Long)] = firstRaw.toSet
  private val passPairs = mutable.ArrayBuffer.empty[(Int, Set[(Long, Long)])]
  // planning and codegen of the multi-join pass take a dozen passes to settle
  override def warmupSeconds: Double = 12.0
  override def setupReps: Int = 5
  private var pairRecall = 0.0

  def setup(rep: Int): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    val (d, p) = Gen.dedupCorpus(n, planted, len = 120, vocab = 20000, ctx.seed)
    docs = d; plantedPairs = p
    corpus = spark.createDataFrame(docs.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "text").persist()
    corpus.count()
  }

  private def pass(): Seq[(Long, Long)] =
    span("dedup.minhash_pairs")(graft.ops.Dedup.minhashPairs(corpus, "id", "text",
      threshold = threshold).collect()).toSeq.map(r => (r.getLong(0), r.getLong(1)))

  def warmupOp(k: Int): Unit =
    if (k == 0) firstRaw = pass() else passPairs += ((-1, pass().toSet))

  def op(i: Int): (Double, Long) = {
    val (pairs, ms) = timed(pass())
    passPairs += ((i, pairs.toSet))
    (ms, n.toLong)
  }

  def check(): Unit = {
    fail(-1, Checks.dedupPairs(firstRaw, id => docs(id.toInt), threshold))
    passPairs.foreach { case (i, p) =>
      if (p != first) fail(i, Seq(s"dedup pass $i returned ${p.size} pairs, " +
        s"${(p diff first).size} not in the first pass, ${(first diff p).size} missing")) }
    pairRecall = plantedPairs.count(first).toDouble / plantedPairs.length
  }

  def layers(win: Seq[Span], ops: Int): Map[String, Double] = {
    val d = new Layer(ctx, win.filter(_.name == "dedup.minhash_pairs"))
    Map(
      "dedup.pairs_s" -> d.meanMs / 1e3,
      "dedup.pairs_out" -> first.size.toDouble,
      "dedup.pair_recall" -> pairRecall,
      "spark.shuffle_write_bytes" -> d.per(d.agg.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> d.per(d.agg.spillBytes.toDouble),
      "spark.executor_cpu_s" -> d.per(d.agg.cpuNs / 1e9),
      "spark.gc_s" -> d.per(d.agg.gcMs / 1e3))
  }

  def named(lat: Seq[Double], opMs: Double, items: Long): Map[String, Double] =
    Map("dedup_docs_per_s" -> items / (opMs / 1e3), "dedup_pair_recall" -> pairRecall)

  override def toString: String = s"$n docs x 120 tokens, $planted planted near-duplicate pairs"
}
