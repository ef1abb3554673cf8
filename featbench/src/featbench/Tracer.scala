package featbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer spans for the traced run. A `SparkListener` and a
  * `QueryExecutionListener` record jobs, tasks and Catalyst phases in
  * memory; each span is one public graft call, timed through its action,
  * and owns the events whose timestamps fall inside it. Listeners are
  * attached for the timed phase only, and drained before detaching. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var events = 0L
  val calls = mutable.ArrayBuffer.empty[Call]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = e.time; events += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
      events += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, m.diskBytesSpilled)
      events += 1
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      events += 1
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * (no open job and no new event for a quiet interval), then detach. */
  def drainAndDetach(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val (n, open) = synchronized((events, jobStarts.size))
      if (n == last && open == 0) quiet += 1 else { quiet = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def call(span: String, startMs: Long, endMs: Long, wallS: Double,
      inputRows: Long, gcMs: Long): Unit =
    calls += Call(span, startMs, endMs, wallS, inputRows, gcMs)

  /** Metrics of one call from the events inside its interval. */
  def measure(c: Call): Measured = synchronized {
    def in(t: Long) = t >= c.startMs && t <= c.endMs
    val js = jobs.filter { case (s, _) => in(s) }
      .map { case (s, e) => (s, math.min(e, c.endMs)) }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    js.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    val ts = tasks.filter(t => in(t.finishMs))
    Measured(
      wallS = c.wallS,
      planMs = plans.filter(p => in(p._1)).map(_._2).sum.toDouble,
      jobs = js.size,
      tasks = ts.size,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      shuffleMb = ts.map(_.shuffleBytes).sum / 1e6,
      outMb = ts.map(_.outBytes).sum / 1e6,
      gapS = math.max(0.0, c.wallS - covered / 1e3),
      rowsWritten = ts.map(_.outRecords).sum,
      spillMb = ts.map(_.spillBytes).sum / 1e6)
  }
}

object Tracer {
  final case class TaskRec(finishMs: Long, cpuNs: Long, shuffleBytes: Long,
      outBytes: Long, outRecords: Long, spillBytes: Long)
  final case class Call(span: String, startMs: Long, endMs: Long,
      wallS: Double, inputRows: Long, gcMs: Long)
  final case class Measured(wallS: Double, planMs: Double, jobs: Int,
      tasks: Int, cpuS: Double, shuffleMb: Double, outMb: Double,
      gapS: Double, rowsWritten: Long, spillMb: Double) {
    def byName: Seq[(String, Double)] = Seq(
      "wall_s" -> wallS, "plan_ms" -> planMs, "jobs" -> jobs.toDouble,
      "tasks" -> tasks.toDouble, "cpu_s" -> cpuS, "shuffle_mb" -> shuffleMb,
      "out_mb" -> outMb, "gap_s" -> gapS)
  }

  /** The spans, one per public call the workloads make. */
  val Spans: Seq[String] = Seq(
    "events.sessionStats", "events.trailingWindow", "events.snapshot",
    "relational.pointInTimeTrainingSet",
    "load.runLoad", "load.readCurrent", "load.readSnapshotAsOf",
    "dq.checkSuite",
    "ann.knnGraphIncrement", "ann.knnGraphDelete", "ann.compactKnnStore",
    "ann.knnGraphRefresh",
    "streaming.knnGraphView")

  val SpanMetricUnits: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "plan_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "cpu_s" -> "s", "shuffle_mb" -> "MB", "out_mb" -> "MB", "gap_s" -> "s")
}
