package featbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The run loop's one timing primitive. Every public store call a
  * workload makes goes through [[Runner.op]]: the call is timed through
  * its action, then (untimed) its cached state is released, leaks are
  * checked, the heap is collected, and one canary runs. A call that
  * throws is counted as failed and never timed. Set-up ops are followed
  * by a set-up canary instead, whose time is left out of set-up. */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  import Runner._

  /** True in the timed phase: ops are sampled and each is followed by a canary. */
  var recording = false
  /** True in the traced run's timed phase: each op is recorded as a span. */
  var tracing = false
  /** True during set-up: each op is followed by a set-up canary. */
  var settingUp = false

  val samples = ArrayBuffer.empty[Sample]
  val canaries = ArrayBuffer.empty[Double]
  val setupCanaries = ArrayBuffer.empty[Double]
  /** Seconds of set-up spent in set-up canaries and their GCs. */
  var setupPauseS = 0.0
  var attempted = 0
  var failed = 0

  def write(span: String, inputRows: Long = 0L)(body: => Unit): Unit =
    op(span, isWrite = true, inputRows)(body)

  /** A read call, timed through a full materialization of its result. */
  def read(span: String)(df: => DataFrame): Unit =
    op(span, isWrite = false, 0L) {
      df.write.format("noop").mode("overwrite").save()
    }

  def op(span: String, isWrite: Boolean, inputRows: Long)(body: => Unit): Unit = {
    if (recording) attempted += 1
    val gc0 = Runner.gcMillis()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case NonFatal(e) =>
        System.err.println(s"[featbench] $span FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        false
    }
    val raw = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    if (tracing && ok)
      tracer.call(span, ms0, ms1, raw, inputRows, Runner.gcMillis() - gc0)
    release(span)
    if (settingUp) setupCanary()
    if (recording) {
      canaries += Canary.once(spark)
      if (ok) samples += Sample(span, isWrite, raw) else failed += 1
    } else if (!ok) throw new IllegalStateException(s"untimed op $span failed")
  }

  /** Caches.releaseAll, clearCache, the leak check, then (in the timed
    * phase) GC, so one op's garbage is not collected inside the next. */
  private def release(span: String): Unit = {
    graft.util.Caches.releaseAll(spark)
    spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs
    if (leaked.nonEmpty)
      throw new LeakError(s"$span left ${leaked.size} persisted RDD(s) after " +
        s"Caches.releaseAll: ${leaked.values.map(_.toString).mkString("; ")}")
    if (recording) System.gc()
  }

  /** A GC, then one canary that normalizes set-up time. */
  def setupCanary(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    setupCanaries += Canary.once(spark)
    setupPauseS += (System.nanoTime() - t0) / 1e9
  }

}

object Runner {
  final case class Sample(span: String, isWrite: Boolean, rawS: Double)

  /** A persisted RDD survived an op's release — fatal for the run. */
  final class LeakError(msg: String) extends Error(msg)

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

/** The machine-drift canary. CODE-FROZEN: normalization divides every
  * timing by its median, so any edit to it changes every reported time.
  * A fixed pure-Spark range → groupBy aggregate with no graft code. */
object Canary {
  def once(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{avg, sum}
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, 3)
      .selectExpr("id % 9973 AS k", "id % 1009 AS v")
      .groupBy("k")
      .agg(sum("v").as("s"), avg("v").as("a"))
      .filter("s > 0").count()
    (System.nanoTime() - t0) / 1e9
  }
}
