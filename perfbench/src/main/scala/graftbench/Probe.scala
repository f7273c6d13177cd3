package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one op call. Times in seconds unless named. */
final class OpStats {
  var wallS, planMs, codegenMs = 0.0
  var codegenClasses, tasks, scanRows, resultRows = 0L
  var maxTaskS, taskS, cpuS, gcS, shuffleWriteMb, spillMb, inputMb, outputMb = 0.0

  def addPlan(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
}

/** Collects per-op Spark counters and job/stage spans through Spark's
  * public listener interfaces. Jobs are tied to the op span that caused
  * them by a local property set on the driver thread before each call. */
final class Probe(spark: SparkSession, tracer: Tracer)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val SpanKey = "graftbench.span"
  private val Marker = "marker"
  private val sc = spark.sparkContext
  private val stats = new ConcurrentHashMap[Long, OpStats]()
  private val opOfStage = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobOfStage = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span, op span, start µs)
  @volatile private var current = 0L
  @volatile private var markerJob = -1
  @volatile private var markerDone = new CountDownLatch(0)

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }
  def detach(): Unit = { sc.removeSparkListener(this); spark.listenerManager.unregister(this) }

  def begin(opSpan: Long): OpStats = {
    val st = new OpStats
    stats.put(opSpan, st)
    current = opSpan
    sc.setLocalProperty(SpanKey, opSpan.toString)
    st
  }

  /** Wait until every event of the op just run has reached this listener:
    * a marker job is posted after them on the same queue. */
  def end(): Unit = {
    markerDone = new CountDownLatch(1)
    sc.setLocalProperty(SpanKey, Marker)
    sc.parallelize(Seq(0), 1).count()
    require(markerDone.await(60, TimeUnit.SECONDS), "listener queue did not drain")
    sc.setLocalProperty(SpanKey, null)
    current = 0L
  }

  /** Rows produced by the scans of an executed plan. */
  def scanRows(qe: QueryExecution): Long = {
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    collect(qe.executedPlan) {
      case s: FileSourceScanExec => rows(s)
      case s: InMemoryTableScanExec => rows(s)
    }.sum
  }

  private def us(ms: Long): Long = ms * 1000

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    tag match {
      case Some(Marker) => markerJob = e.jobId
      case Some(op) =>
        jobs.put(e.jobId, (tracer.newId(), op.toLong, us(e.time)))
        e.stageIds.foreach { s => opOfStage.put(s, op.toLong); jobOfStage.put(s, e.jobId.toLong) }
      case None =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (e.jobId == markerJob) markerDone.countDown()
    Option(jobs.remove(e.jobId)).foreach { case (id, op, start) =>
      tracer.add(Span(id, op, "job", s"job ${e.jobId}", start, us(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for {
      job <- Option(jobOfStage.get(info.stageId))
      (jobSpan, _, _) <- Option(jobs.get(job.toInt))
      start <- info.submissionTime
      stop <- info.completionTime
    } tracer.add(Span(tracer.newId(), jobSpan, "stage", s"stage ${info.stageId}.${info.attemptNumber()}",
      us(start), us(stop)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = opOfStage.get(e.stageId)
    val st = if (op == null) null else stats.get(op.longValue)
    val m = e.taskMetrics
    if (st != null && m != null) st.synchronized {
      val mb = 1024.0 * 1024.0
      st.tasks += 1
      st.maxTaskS = math.max(st.maxTaskS, e.taskInfo.duration / 1e3)
      st.taskS += m.executorRunTime / 1e3
      st.cpuS += m.executorCpuTime / 1e9
      st.gcS += m.jvmGCTime / 1e3
      st.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / mb
      st.spillMb += m.diskBytesSpilled / mb
      st.inputMb += m.inputMetrics.bytesRead / mb
      st.outputMb += m.outputMetrics.bytesWritten / mb
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(stats.get(current)).foreach(_.addPlan(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(stats.get(current)).foreach(_.addPlan(qe))
}
