package graft

import graft.tools.Harness
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Job-level profiler for composite queries: runs each named query once
  * (after one untimed warm-up) with a listener that records every Spark
  * job's wall time and description, then prints a per-job table. The
  * multi-job store-maintenance queries (x185/x187/x188/x189/x76/x190/
  * x191) spend their time across many small jobs — per-query totals
  * alone cannot say which pass to optimize (guide §1.1: find where the
  * time actually goes before changing anything).
  *
  * "Accounted in jobs" is the time covered by at least one job (the
  * union of the job intervals), so the gap is never negative.
  *
  * Usage: `runMain graft.Profile <sfDir> <queryName...]`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Harness.session()
    case class Job(id: Int, desc: String, start: Long, var end: Long = -1L)
    val jobs = mutable.ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs += Job(js.jobId, desc, js.time)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == je.jobId).foreach(_.end = je.time)
        }
    }
    // The listener bus delivers asynchronously: wait until every recorded
    // job has its end and no new job arrived for three polls, or a job
    // would drop out of "accounted" and inflate the gap.
    def drain(name: String): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      var (last, quiet) = (-1, 0)
      while (quiet < 3) {
        if (System.nanoTime() > deadline)
          sys.error(s"[profile] $name: listener bus not drained in 30 s")
        Thread.sleep(50)
        val (n, open) = jobs.synchronized((jobs.size, jobs.count(_.end < 0)))
        if (n == last && open == 0) quiet += 1 else { quiet = 0; last = n }
      }
    }
    // session warm-up
    spark.range(1000).selectExpr("sum(id)").collect()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      Harness.timed(spark, s"[profile] $name warm-up")(
        fn(spark, sfDir).count())
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val total =
        Harness.timed(spark, s"[profile] $name")(fn(spark, sfDir).count())
      if (total < 0) sys.error(s"[profile] $name failed")
      drain(name)
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n=== $name total ${total}%.3f s, ${jobs.size} jobs ===")
      jobs.synchronized {
        jobs.sortBy(_.start).foreach { j =>
          println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  " +
            j.desc.take(100))
        }
        val accounted = covered(jobs.map(j => (j.start, j.end)).toSeq) / 1e3
        println(f"  accounted in jobs: ${accounted}%.3f s " +
          f"(gaps = planning/FS/driver: ${total - accounted}%.3f s)")
      }
    }
    spark.stop()
  }

  /** Milliseconds covered by the union of the `(start, end)` intervals:
    * concurrent jobs overlap, and summing their durations would count
    * the shared time twice (and drive the gap negative). */
  def covered(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((total, reach), (s, e)) =>
        (total + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }._1
}
