package graftbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Runs every workload end to end at smoke size — its ops, output checks
  * and metric names — in one local session. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = new File("target/smoke-work").getAbsoluteFile
  private lazy val spark: SparkSession = Main.session(2, dir)

  private val declared = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def names(key: String): Seq[(String, String)] = {
    val it = declared.get(key).elements()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(dir)
  }

  private def smoke(workload: String, trace: Boolean): Main.Result = {
    val a = Main.Args(workload = workload, seed = 3, seconds = 0, trace = trace, smoke = true, cores = 2,
      out = dir.getPath)
    Main.bench(a, spark, new File(dir, workload))
  }

  test("frames do not depend on their partitioning") {
    val p = Gen.PointSet(3000, 1000, 5, Gen.S.Points)
    def rows(parts: Int) = p.frame(spark, "pid", parts).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1).toSeq
    assert(rows(1) == rows(7))
    val c = Gen.Coverage(12, 0, 100, 0.2, 7, 5, Gen.S.JitterA)
    def tiles(parts: Int) = c.frame(spark, "tid", 3, parts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1).toSeq
    assert(tiles(2) == tiles(5))
  }

  for (w <- Workload.names) test(s"$w runs, passes its checks and reports every end-to-end metric") {
    val r = smoke(w, trace = false)
    // a cold and one warm pass over five ops
    assert(r.correct && r.failed == 0 && r.attempted == 10)
    assert(r.metrics.map(m => m._1 -> m._3) == names("end_to_end"))
    assert(r.metrics.forall(m => m._2 > 0 && !m._2.isNaN), r.metrics)
    val json = new ObjectMapper().readTree(Main.json(r))
    assert(json.get("correct").asBoolean && json.get("metrics").size == r.metrics.size)
  }

  test("a traced run reports every per-layer metric and leaves a span file") {
    val r = smoke("join_overlay", trace = true)
    assert(r.correct)
    assert(r.metrics.map(m => m._1 -> m._3) == names("per_layer"))
    val spans = new ObjectMapper().readTree(new File(dir, "trace-join_overlay-seed3.json"))
    val layers = (0 until spans.size).map(i => spans.get(i).get("layer").asText).toSet
    assert(Set("workload", "pass", "op", "job", "stage", "kernel").subsetOf(layers))
  }
}
