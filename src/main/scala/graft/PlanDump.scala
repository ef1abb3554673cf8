package graft

import graft.tools.Harness
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
  * The [[Harness]]'s fixed-plan session disables AQE, so the file shows
  * the final codegen'd shape (join strategy, Exchange count,
  * PushedFilters) rather than an unresolved AdaptiveSparkPlan
  * placeholder. Queries that build side-effect stores (x185/x187/x188/
  * x189/x76/x190/x191) run their maintenance eagerly at plan
  * construction; the dumped plan is the published view's.
  *
  * A query that fails has its old file deleted, and the tool exits
  * nonzero after the loop, naming every failed query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(fixedPlans = true)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    import scala.sys.process._
    val stamp = Seq("git", "rev-parse", "HEAD").!! + Seq("git", "status",
      "--short", "--untracked-files=no", "--", "src/main").!!
    val failed = names.filterNot { name =>
      val out = java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt")
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        java.nio.file.Files.writeString(out, stamp + plan)
        println(s"[plandump] wrote $name")
        true
      } catch {
        case e: Exception =>
          // an older dump must not pass as this commit's evidence
          java.nio.file.Files.deleteIfExists(out)
          println(s"[plandump] $name FAILED: " +
            String.valueOf(e.getMessage).take(160))
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] FAIL: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
