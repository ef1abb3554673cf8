package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <suffix> [queryName...]`
  * (no names ⇒ every query). Writes `<outDir>/<query>_<suffix>.txt`,
  * whose first line is `git rev-parse HEAD` of the working directory,
  * followed by `git status --short` of the `src/main` files that differ
  * from it, if any — so a file names the code it came from.
  *
  * AQE is disabled for the dump so the file shows the final codegen'd
  * shape (join strategy, Exchange count, PushedFilters) rather than an
  * unresolved AdaptiveSparkPlan placeholder — same rationale as
  * [[ExplainCheck]]. Queries that build side-effect stores (x185/x187/
  * x188/x189/x76/x190/x191) run their maintenance eagerly at plan
  * construction; the dumped plan is the published view's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    import scala.sys.process._
    val stamp = Seq("git", "rev-parse", "HEAD").!! + Seq("git", "status",
      "--short", "--untracked-files=no", "--", "src/main").!!
    for (name <- names) {
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), stamp + plan)
        println(s"[plandump] wrote $name")
      } catch {
        case e: Exception =>
          println(s"[plandump] $name FAILED: ${e.getMessage.take(160)}")
      }
    }
    spark.stop()
  }
}
