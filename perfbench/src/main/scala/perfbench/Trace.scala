package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One traced layer call. `parent` is -1 for a top-level span; `req` is
  * the operation (request) the span belongs to. Times are `nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, req: Int,
    startNs: Long, var endNs: Long = 0L) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** Task/job totals the listener attributes to one job group. */
final class GroupAgg {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** `(start, end)` wall-clock millis of every job, for job-time unions. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: GroupAgg): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    jobIntervals ++= o.jobIntervals
  }

  /** Millis covered by the union of this group's job intervals. */
  def jobWallMs: Long = {
    var covered = 0L; var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** Sums task metrics per job group. Events arrive on Spark's listener
  * bus thread; read the totals only after [[drain]]. */
final class SparkMetrics extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val groups = new ConcurrentHashMap[String, GroupAgg]()

  private def agg(g: String): GroupAgg = groups.computeIfAbsent(g, _ => new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val a = agg(g)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "")
    val s: Long = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    val a = agg(g)
    a.synchronized { a.jobIntervals += ((s, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Totals of one job group (empty when it ran no job). */
  def group(g: String): GroupAgg = Option(groups.get(g)).getOrElse(new GroupAgg)

  /** Block until every posted event has reached this listener. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.ListenerDrain.waitUntilEmpty(sc)
}

/** Span recorder. Disabled, [[span]] is a plain call. Enabled, every span
  * runs under a job group of its own (`pb-<id>`), so the listener's task
  * metrics attribute to the innermost span that launched the job; spans
  * stay in memory until [[spans]] is read at the end of the run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var req = -1
  /** Job groups Spark assigns itself (a streaming run id) -> the span
    * whose call started them. */
  private val aliases = scala.collection.mutable.HashMap.empty[String, Int]

  def groupOf(s: Span): String = s"pb-${s.id}"

  /** Mark the start of operation `i`; later spans carry it as request id. */
  def request(i: Int): Unit = req = i

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(recorded.length, name, stack.headOption.map(_.id).getOrElse(-1),
        req, System.nanoTime())
      recorded += s
      stack = s :: stack
      sc.setJobGroup(groupOf(s), name)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attribute jobs Spark ran under its own group id to the current span. */
  def alias(sparkGroup: String): Unit =
    stack.headOption.foreach(s => aliases(sparkGroup) = s.id)

  def spans: Seq[Span] = recorded.toSeq

  /** Listener totals of one span, its own job group plus aliased ones. */
  def metricsOf(m: SparkMetrics, s: Span): GroupAgg = {
    val a = new GroupAgg
    a.add(m.group(groupOf(s)))
    aliases.collect { case (g, id) if id == s.id => a.add(m.group(g)) }
    a
  }
}

object Trace {

  /** Self time of each span: its duration minus the union of the
    * intervals its direct children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      var covered = 0L; var end = Long.MinValue
      kids.getOrElse(s.id, Nil).sortBy(_.startNs).foreach { c =>
        if (c.endNs > end) { covered += c.endNs - math.max(c.startNs, end); end = c.endNs }
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Spans as JSON lines, for the trace file written at the end of a run. */
  def toJsonLines(spans: Seq[Span], t0: Long): Iterator[String] =
    spans.iterator.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        f""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }
}
