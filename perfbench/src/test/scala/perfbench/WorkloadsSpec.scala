package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every workload, at tiny size, passes its own checks and emits every
  * metric the benchmark declares, with its unit; the declaration in
  * BENCHMARK.json matches what the runs emit. */
class WorkloadsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory(Paths.get("target"), "spec-work").toAbsolutePath
  private lazy val spark = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(work)
  }

  for (w <- Workload.names; trace <- Seq(false, true)) {
    test(s"$w (trace=$trace) emits every declared metric and passes its checks") {
      val r = Main.run(spark, Main.Args(w, 7L, 1, trace, work.resolve(w), 2, tiny = true))
      assert(r.correct, r.failures.take(3))
      assert(r.attempted >= 11 && r.failed == 0)
      val declared = if (trace) Main.perLayer else Main.endToEnd
      assert(r.metrics.map(m => (m._1, m._3)) == declared)
      assert(r.metrics.forall(m => !m._2.isNaN && !m._2.isInfinite))
      if (!trace) assert(r.metrics.forall(_._2 > 0), r.metrics)
      val line = parse(Main.resultLine(r))
      assert((line \ "metrics").asInstanceOf[JObject].obj.map(_._1) == declared.map(_._1))
    }
  }

  test("serve's warm-up wraps around its query list, however many ops it runs") {
    assert((0 until 5000).map(Serve.warmupQuery(_, 512)).forall(q => q >= 0 && q < 512))
    assert(Serve.warmupQuery(0, 512) == 511 && Serve.warmupQuery(512, 512) == 511)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, false), None,
      work.resolve("warmup"), 7L, 2, tiny = true)
    val stub = new Serve(ctx, ivf = false, (_, _) => Array.empty[Row])
    (0 until 1200).foreach(stub.warmupOp)
  }

  test("BENCHMARK.json declares exactly the metrics and workloads the runs emit") {
    val bench = parse(new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    def pairs(key: String) = (bench \ key).asInstanceOf[JArray].arr.map { m =>
      ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s) }
    assert(pairs("end_to_end") == Main.endToEnd)
    assert(pairs("per_layer") == Main.perLayer)
    assert((bench \ "workloads").asInstanceOf[JArray].arr
      .map(w => (w \ "name").asInstanceOf[JString].s) == Workload.names)
  }
}
