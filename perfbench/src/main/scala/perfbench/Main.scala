package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM entry point (`run.py` builds the classpath and
  * starts it):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * perfbench.Main --train --work <dir>
  * }}}
  *
  * Runs one workload on a `local[cpus]` session, `cpus` being the
  * processors the JVM may use: set-up (several times),
  * warm-up, a closed loop of operations for `--seconds`, then the output
  * checks. The last stdout line is the result object; the line before it
  * (`perfbench-info {...}`) carries the run's environment and the
  * workload's figures under their own names. Exit code 1 when a check
  * failed. `--train` instead runs every workload once at tiny size, so
  * `run.py` can dump a class-data sharing archive at its exit. */
object Main {

  /** End-to-end metrics (untraced runs): name -> unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "tail_ms" -> "ms", "items_per_s" -> "1/s")

  /** Per-layer metrics (traced runs): name -> unit. A layer a workload does
    * not exercise reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "ingest.scan_s" -> "s", "ingest.input_bytes" -> "bytes",
    "ingest.dense_ids_s" -> "s", "ingest.shuffle_write_bytes" -> "bytes",
    "embed.image_s" -> "s", "embed.images_per_cpu_s" -> "1/s",
    "multimodal.dropped_rows" -> "count",
    "index.build_s" -> "s", "index.ivf_build_s" -> "s",
    "index.mem_bytes_per_row" -> "bytes",
    "index.search_ms" -> "ms", "spark.exact_executor_ms_per_query" -> "ms",
    "spark.exact_cpu_ms_per_query" -> "ms", "spark.tasks_per_query" -> "count",
    "spark.jobs_per_query" -> "count", "driver.exact_ms" -> "ms",
    "index.search_ivf_ms" -> "ms", "spark.ivf_executor_ms_per_query" -> "ms",
    "driver.ivf_ms" -> "ms", "index.recall_at_10" -> "ratio",
    "embed.query_us" -> "us",
    "streaming.sync_batch_ms" -> "ms", "index.upsert_ms" -> "ms",
    "streaming.overhead_ms" -> "ms", "spark.tasks_per_query_first" -> "count",
    "spark.tasks_per_query_last" -> "count", "index.mem_bytes_start" -> "bytes",
    "index.mem_bytes_end" -> "bytes",
    "dedup.pairs_s" -> "s", "dedup.pairs_out" -> "count",
    "dedup.pair_recall" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "jvm.gc_s" -> "s", "trace.window_ms_per_op" -> "ms",
    "trace.unattributed_ms_per_op" -> "ms", "trace.spark_job_ms_per_op" -> "ms") ++
    Layers.selfLayers.map(l => s"self.${l}_ms_per_op" -> "ms")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, cpus: Int, tiny: Boolean)

  /** `--key value` pairs; `--train` takes no workload, seed or trace. */
  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val train = a.contains("--train")
    def req(k: String, default: String) =
      kv.getOrElse(k, if (train) default else throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload", ""), req("--seed", "1").toLong, req("--seconds", "1").toInt,
      req("--trace", "1") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(req("--work", "")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors(), tiny = train)
  }

  /** A finished run: what the result line and the info line print. */
  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], info: Map[String, Any],
      failures: Seq[Failure])

  def main(argv: Array[String]): Unit =
    if (argv.contains("--train")) train(parse(argv)) else measure(parse(argv))

  /** One tiny traced pass over every workload in one JVM, so a class-data
    * sharing archive dumped at its exit holds the classes runs load. */
  def train(args: Args): Unit = {
    val spark = session(args.cpus, args.work)
    try Workload.names.foreach { w =>
      val r = run(spark, args.copy(workload = w, work = args.work.resolve("train")))
      require(r.correct, s"training pass of $w failed: ${r.failures.take(3)}")
    } finally spark.stop()
  }

  def measure(args: Args): Unit = {
    require(Workload.names.contains(args.workload),
      s"unknown workload '${args.workload}'; known: ${Workload.names.mkString(", ")}")
    val spark = session(args.cpus, args.work)
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1fs session up")
    val result =
      try run(spark, args)
      finally spark.stop()
    result.failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed (op ${f.op}): ${f.msg}"))
    println("perfbench-info " + Json.obj(result.info))
    println(resultLine(result))
    System.out.flush()
    if (!result.correct) sys.exit(1)
  }

  def session(cpus: Int, work: Path): org.apache.spark.sql.SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def resultLine(r: Result): String = Json.obj(Seq(
    "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
    "metrics" -> Json.Raw(Json.obj(r.metrics.map { case (n, v, u) =>
      n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }))))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def run(spark: org.apache.spark.sql.SparkSession, args: Args): Result = {
    Files.createDirectories(args.work)
    val metrics = if (args.trace) Some(new SparkMetrics) else None
    metrics.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, args.trace)
    val ctx = new Ctx(spark, tracer, metrics, args.work, args.seed, args.cpus, args.tiny)
    val born = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(p: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - born) / 1e3}%.1fs $p")
    try {
      val w = Workload(args.workload, ctx)

      tracer.request(-2)
      val setupS = (0 until w.setupReps).map { r =>
        val t = System.nanoTime(); w.setup(r); (System.nanoTime() - t) / 1e9 }
      phase("set up")
      tracer.request(-1)
      val warmNs = ((if (args.tiny) 0.5 else w.warmupSeconds) * 1e9).toLong
      val w0 = System.nanoTime()
      var k = 0
      val (minWarm, maxWarm) = w.warmupOps
      while (k < minWarm || (k < maxWarm && System.nanoTime() - w0 < warmNs)) {
        w.warmupOp(k); k += 1
      }
      phase(s"warmed up ($k ops)")
      System.gc()

      val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
      var items = 0L
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val budget = args.seconds * 1000000000L
      var i = 0
      while (i < w.maxOps && (i < w.minOps || System.nanoTime() - t0 < budget)) {
        tracer.request(i)
        val (ms, n) = w.op(i)
        lat += ms; items += n; i += 1
      }
      val windowNs = System.nanoTime() - t0
      val gcS = (gcMs() - gc0) / 1e3
      phase(s"measured $i ops")
      tracer.request(-3)
      w.check()
      phase("checked")

      val opMs = lat.sum
      val (tail, tailPct) = Stats.tail(lat.toSeq)
      val e2eValues = Map("setup_s" -> Stats.median(setupS),
        "p50_ms" -> Stats.median(lat.toSeq), "tail_ms" -> tail,
        "items_per_s" -> items / (opMs / 1e3))
      val e2e = endToEnd.map { case (n, u) => (n, e2eValues(n), u) }
      val layerMetrics =
        if (!args.trace) Nil
        else {
          metrics.foreach(_.drain(spark.sparkContext))
          val win = tracer.spans.filter(s => s.req >= 0)
          val got = w.layers(win, i) ++ Layers.accounting(ctx, win, i, windowNs) +
            ("jvm.gc_s" -> gcS)
          val unknown = got.keySet -- perLayer.map(_._1)
          require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
          writeSpans(args, tracer.spans, t0)
          perLayer.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
        }
      val failedOps = w.failures.map(_.op).distinct.size
      val info = Map[String, Any](
        "workload" -> args.workload, "shape" -> w.toString, "seed" -> args.seed,
        "trace" -> args.trace, "cpus" -> args.cpus,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "git_head" -> System.getProperty("perfbench.head", "none"),
        "source_sha256" -> System.getProperty("perfbench.source", "none"),
        "ops" -> i, "window_s" -> windowNs / 1e9,
        "op_ms" -> Json.Raw(lat.map(x => f"$x%.1f").mkString("[", ",", "]")),
        "setup_s_each" -> Json.Raw(setupS.mkString("[", ",", "]")),
        "tail_percentile" -> tailPct, "tail_samples_beyond" -> 10,
        "jvm_gc_s" -> gcS, "index_mem_mb_end" -> ctx.storageBytes / 1e6,
        "failed_ops_ratio" -> failedOps.toDouble / i,
        "named" -> Json.Raw(Json.obj(w.named(lat.toSeq, opMs, items).toSeq.sortBy(_._1))))
      // a traced run reports its own end-to-end figures too: against an
      // untraced run of the same seed they give the tracing overhead
      val traceInfo =
        if (args.trace) Map("e2e_traced" -> Json.Raw(Json.obj(e2eValues))) else Map.empty
      Result(w.failures.isEmpty, i, math.min(i, failedOps),
        if (args.trace) layerMetrics else e2e, info ++ traceInfo, w.failures.toSeq)
    } finally metrics.foreach(spark.sparkContext.removeSparkListener)
  }

  private def writeSpans(args: Args, spans: Seq[Span], t0: Long): Unit = {
    val out = args.work.resolve(s"trace-${args.workload}-s${args.seed}.jsonl")
    Files.write(out, Trace.toJsonLines(spans, t0).toSeq.asJava)
  }
}

/** Self-time accounting of a traced loop: where the window's wall went. */
object Layers {
  val selfLayers: Seq[String] =
    Seq("ingest", "embed", "index", "streaming", "dedup")

  def accounting(ctx: Ctx, win: Seq[Span], ops: Int, windowNs: Long): Map[String, Double] = {
    val self = Trace.selfNs(win)
    val perOp = (ns: Double) => ns / 1e6 / math.max(1, ops)
    val bySelf = selfLayers.map { l =>
      s"self.${l}_ms_per_op" -> perOp(win.filter(_.layer == l).map(s => self(s.id)).sum.toDouble)
    }.toMap
    val roots = win.filter(_.parent < 0)
    val jobMs = ctx.metrics.map { m =>
      val a = new GroupAgg
      win.foreach(s => a.add(ctx.tracer.metricsOf(m, s)))
      a.jobWallMs
    }.getOrElse(0L)
    bySelf ++ Map(
      "trace.window_ms_per_op" -> perOp(windowNs.toDouble),
      "trace.unattributed_ms_per_op" -> perOp((windowNs - roots.map(_.durNs).sum).toDouble),
      "trace.spark_job_ms_per_op" -> jobMs.toDouble / math.max(1, ops))
  }
}

/** Just enough JSON for the result and info lines. */
object Json {
  final case class Raw(s: String)

  def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case other => str(other.toString)
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
