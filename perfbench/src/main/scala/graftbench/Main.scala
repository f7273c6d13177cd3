package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One op call: wall time (NaN when it threw) and, when traced, its counters. */
final case class Call(wallS: Double, stats: Option[OpStats])

final case class Pass(calls: IndexedSeq[Call], traced: Boolean, spanId: Long) {
  def totalS: Double = calls.map(_.wallS).sum
}

/** Runs passes over a workload's ops: times each call, checks its output
  * (untimed) and, in traced passes, records spans and Spark counters. */
final class Runner(w: Workload, tracer: Tracer, probe: Probe) {
  var attempted, failed = 0L
  val failures = ArrayBuffer.empty[String]

  def pass(label: String, traced: Boolean, parent: Long): Pass = {
    // collect the previous pass's (and its checks') garbage outside this one
    System.gc()
    if (traced) probe.attach()
    try {
      val id = tracer.newId()
      val t0 = tracer.nowUs
      val calls = w.ops.indices.map(i => call(i, traced, id))
      if (traced) tracer.add(Span(id, parent, "pass", label, t0, tracer.nowUs))
      Pass(calls, traced, id)
    } finally if (traced) probe.detach()
  }

  private def call(i: Int, traced: Boolean, passSpan: Long): Call = {
    attempted += 1
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val opSpan = tracer.newId()
    val stats = if (traced) Some(probe.begin(opSpan)) else None
    val s0 = tracer.nowUs
    val t0 = System.nanoTime()
    val res = Try(w.run(i))
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) {
      tracer.add(Span(opSpan, passSpan, "op", w.ops(i), s0, tracer.nowUs))
      probe.end()
    }
    stats.foreach { st =>
      st.wallS = wall
      st.codegenMs = (CodeGenerator.compileTime - compile0) / 1e6
      st.codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
      res.foreach { r =>
        r.qes.foreach { qe => st.addPlan(qe); st.scanRows += probe.scanRows(qe) }
        st.resultRows = r.digest.rows
      }
    }
    val errors = res match {
      case Success(r) => Try(w.check(i, r)).fold(e => Seq(s"check threw $e"), identity)
      case Failure(e) => Seq(s"threw $e")
    }
    if (errors.nonEmpty) { failed += 1; failures ++= errors.map(e => s"${w.ops(i)}: $e") }
    Call(if (res.isSuccess) wall else Double.NaN, stats)
  }
}

object Main {
  val SetUpReps = 5
  val WarmUpS = 10.0

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 15, trace: Boolean = false,
                        smoke: Boolean = false, cores: Int = math.min(8, Runtime.getRuntime.availableProcessors),
                        out: String = ".bench_build/perfbench")

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--size" :: v :: rest =>
      require(v == "full" || v == "smoke", s"--size must be full or smoke, got $v")
      parse(rest, a.copy(smoke = v == "smoke"))
    case "--out" :: v :: rest => parse(rest, a.copy(out = v))
    case other => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }

  def session(cores: Int, dir: java.io.File): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.default.parallelism", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", new java.io.File(dir, "spark-local").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new java.io.File(dir, "warehouse").getAbsolutePath)
    .config("spark.sql.catalogImplementation", "in-memory")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // joins graft leaves to Spark are planned as at scale: partitioned on
    // their keys, never broadcast because a benchmark-sized side is small
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    // and their shuffles keep one partition per core: AQE would coalesce a
    // benchmark-sized shuffle into a single task that runs the whole join
    .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // row groups small enough for bbox statistics to prune a window read
    .config("spark.hadoop.parquet.block.size", (8 << 20).toString)
    .getOrCreate()

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workload.names.contains(a.workload), s"--workload must be one of ${Workload.names.mkString(", ")}")
    val dir = new java.io.File(a.out, s"${a.workload}-${ProcessHandle.current().pid()}")
    dir.mkdirs()
    val res = try run(a, dir) finally deleteTree(dir)
    println(json(res))
    sys.exit(if (res.correct) 0 else 1)
  }

  /** Start a session and build the workload's inputs in it: set-up time. */
  def setUp(a: Args, dir: java.io.File, start: => SparkSession): (SparkSession, Workload, Double) = {
    val t0 = System.nanoTime()
    val spark = start
    val w = Workload(a.workload, spark, a.seed, a.smoke, a.cores, dir)
    w.setup()
    (spark, w, secs(t0))
  }

  def run(a: Args, dir: java.io.File): Result = {
    // set-up runs five times, each in a fresh session, and its median
    // counts: the first one also pays the JVM's class loading and JIT
    val reps = if (a.smoke) 1 else SetUpReps
    val tries = (1 to reps).map { r =>
      val t = setUp(a, dir, session(a.cores, dir))
      if (r < reps) { t._2.release(); t._1.stop() }
      t
    }
    val (spark, w, _) = tries.last
    val setupS = Stats.summary(tries.map(_._3))
    log(f"setup_s = ${setupS.median}%.4f s ($setupS): " + tries.map(t => f"${t._3}%.3f").mkString(", "))
    try measure(a, spark, w, setupS.median) finally { w.release(); spark.stop() }
  }

  /** Set up once in a running session and measure: the smoke tests' entry. */
  def bench(a: Args, spark: SparkSession, dir: java.io.File): Result = {
    val (_, w, setupS) = setUp(a, dir, spark)
    try measure(a, spark, w, setupS) finally w.release()
  }

  def measure(a: Args, spark: SparkSession, w: Workload, setupS: Double): Result = {
    val tracer = new Tracer
    val probe = new Probe(spark, tracer)
    val runner = new Runner(w, tracer, probe)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val root = tracer.newId()
    val r0 = tracer.nowUs
    val cold = runner.pass("cold", a.trace, root)
    // untimed passes for a fixed time before the measured ones: the driver's
    // planning code and each pass's freshly generated classes keep being
    // JIT-compiled for tens of seconds, so pass times fall until then
    if (!a.smoke) {
      val w0 = System.nanoTime()
      do runner.pass("warm-up", traced = false, root) while (secs(w0) < WarmUpS)
    }
    val warm = ArrayBuffer.empty[Pass]
    // traced runs alternate traced and untraced passes, for the overhead
    val minWarm = (if (a.smoke) 1 else 4) + (if (a.trace) 1 else 0)
    val start = System.nanoTime()
    while (warm.size < minWarm || secs(start) < a.seconds)
      warm += runner.pass(s"warm ${warm.size + 1}", a.trace && warm.size % 2 == 0, root)
    val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val kernels = if (a.trace) Kernels.measure(a.seed, Some(tracer), root) else Nil
    tracer.add(Span(root, 0, "workload", w.name, r0, tracer.nowUs))

    val plain = warm.filterNot(_.traced).toSeq
    val warmS = Stats.summary(plain.map(_.totalS))
    val opS = w.ops.indices.map(i => Stats.summary(plain.map(_.calls(i).wallS)))
    w.ops.indices.foreach { i =>
      log(f"op${i + 1}_s = ${w.ops(i)}_s = ${opS(i).median}%.4f s (${opS(i)}; cold ${cold.calls(i).wallS}%.4f s)")
    }
    log(f"cold_s = ${cold.totalS}%.4f s, warm_s = ${warmS.median}%.4f s ($warmS), heap_peak_mb = $heapPeakMb%.1f")
    log("warm passes: " + warm.map(p => f"${p.totalS}%.3f" + (if (p.traced) " (traced)" else "")).mkString(", "))
    log(f"error_rate = ${runner.failed.toDouble / runner.attempted}%.4f (${runner.failed} of ${runner.attempted} op calls)")
    runner.failures.distinct.take(20).foreach(f => log(s"FAILED $f"))

    val metrics =
      if (!a.trace)
        Seq(("setup_s", setupS, "s"), ("cold_s", cold.totalS, "s"), ("warm_s", warmS.median, "s"),
          ("heap_peak_mb", heapPeakMb, "MB"))
      else {
        val traced = warm.filter(_.traced).toSeq
        val spans = tracer.all
        Ledger.write(new java.io.File(a.out, s"trace-${w.name}-seed${a.seed}.json"), spans)
        Ledger.opMetrics(w.ops.size, cold, traced, a.cores) ++ kernels ++ Ledger.selfTimes(spans, traced) :+
          (("trace_overhead_s", Stats.summary(traced.map(_.totalS)).median - warmS.median, "s"))
      }
    Result(runner.failed == 0, runner.attempted, runner.failed, metrics)
  }

  def log(s: String): Unit = println(s"[perfbench] $s")

  def json(r: Result): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0.0" else v.toString
    val ms = r.metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
