package graft

import graft.tools.Harness
import org.apache.spark.sql.execution.SimpleMode

/** Plan diagnostics: prints scan pushdown, join strategy and codegen
  * markers for each query — the checklist a plan regression would show up
  * in (scans must push filters, star joins must broadcast, hot paths must
  * stay inside WholeStageCodegen).
  *
  * AQE is off (the [[Harness]]'s fixed-plan session): it would show the
  * pre-execution plan, with no codegen markers yet.
  *
  * Usage: `runMain graft.ExplainCheck [sfDir] [queryName...]` (no names ⇒
  * every query).
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(fixedPlans = true)
    for (name <- names) {
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(SimpleMode)
        val lines = plan.linesIterator.toSeq
        def n(marker: String) = lines.count(_.contains(marker))
        val pushed = lines.filter(_.contains("PushedFilters: ["))
          .count(!_.contains("PushedFilters: []"))
        println(f"$name%-28s codegen=${n("*(")}%2d " +
          f"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
          f"bnlj=${n("BroadcastNestedLoopJoin")} " +
          f"exch=${n("Exchange")} pushedScans=$pushed")
      } catch {
        case e: Exception => println(s"$name FAILED: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
