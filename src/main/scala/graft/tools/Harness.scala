package graft.tools

import org.apache.spark.sql.SparkSession

/** How every tool main starts Spark and times work: one session recipe,
  * one release between runs and one warm-up + median-of-3 discipline, so
  * a number from Bench, ScaleGate, StoreGate or Profile means the same
  * thing. The only place in `src/main/scala` that builds a SparkSession.
  *
  * Env: `SPARK_GRAFT_CPUS` (default 4) sets local cores and shuffle
  * partitions; `SPARK_GRAFT_ONLY=q_a,q_b` narrows the queries Bench and
  * Verify run.
  */
object Harness {
  private val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  private val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).toSet)

  /** Whether `SPARK_GRAFT_ONLY` (unset ⇒ every query) selects `query`. */
  def selected(query: String): Boolean = only.forall(_.contains(query))

  /** Timed repeats per median: absorbs one GC/JIT outlier per query
    * (single-shot timings on a shared JVM swing >2x with no code change)
    * at 4x the single-shot cost. */
  val Repeats = 3

  /** A local session in UTC with no UI, `GraftExtensions` and WARN logs.
    * `fixedPlans` pins `local[4]`, 4 shuffle partitions and AQE off, so
    * dumped plans show the final codegen'd shape and do not depend on the
    * host's core count. */
  def session(fixedPlans: Boolean = false): SparkSession = {
    val n = if (fixedPlans) 4 else cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", !fixedPlans)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops the session's tracked persists and checkpoint blocks and every
    * cached plan, then collects garbage, so one run's residue does not
    * tax the next. */
  def release(spark: SparkSession): Unit = {
    graft.util.Caches.releaseAll(spark)
    spark.catalog.clearCache()
    System.gc()
  }

  /** Seconds one run of `thunk` takes, then an untimed [[release]]. A run
    * that throws gives -1, so a swallowed failure can never read as a fast
    * run, and is logged as `<label> FAILED` to stderr: stdout carries the
    * tools' machine-read lines. */
  def timed(spark: SparkSession, label: String)(thunk: => Any): Double = {
    val t0 = System.nanoTime()
    val ok = try { thunk; true } catch {
      case e: Throwable =>
        System.err.println(s"$label FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
        false
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    release(spark)
    if (ok) elapsed else -1.0
  }

  /** One untimed warm-up (codegen, footer cache, broadcast build), then the
    * median of [[Repeats]] timed runs. Any failed repeat makes it -1: a
    * flaky run must read as failed, not as its fastest success. */
  def median(spark: SparkSession, label: String)(thunk: => Any): Double = {
    timed(spark, label)(thunk)
    val ts = Seq.fill(Repeats)(timed(spark, label)(thunk)).sorted
    if (ts.exists(_ < 0)) -1.0 else ts(Repeats / 2)
  }
}
