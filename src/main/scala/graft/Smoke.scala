package graft

import graft.tools.Harness

/** Local smoke runner: exercises the flagship `SparkEntry.entry` the way the
  * driver's t1 smoke does (rows > 0 on sf0.001) and prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
  }
}
