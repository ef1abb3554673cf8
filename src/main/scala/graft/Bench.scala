package graft
import graft.tools.Harness
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Name order: Map hash order varies across builds. Every query ends
    // with a release and GC, so no query's residue taxes the next.
    val ordered = SparkEntry.queries.toSeq
      .filter { case (n, _) => Harness.selected(n) }
      .sortBy(_._1)
    // Untimed warmup: the first query of a fresh session pays ~5-6s of
    // class loading, codegen compilation and FS/footer caching that
    // belongs to the JVM, not to whichever query sorts first.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count().collect()
    } catch { case _: Throwable => () }
    // CODE-FROZEN machine-drift canary — DO NOT CHANGE: cross-round
    // normalization divides totals by this. A fixed shuffle+codegen
    // workload with no graft code and no sf-dir dependence, so its
    // round-over-round ratio isolates machine speed from code changes
    // (the r9 postmortem: ~20% uniform drift on untouched queries made
    // absolute totals mushy).
    val canary = Harness.median(spark, "[bench] canary") {
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id % 9973 AS k", "id % 1009 AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("s"),
          org.apache.spark.sql.functions.avg("v").as("a"))
        .filter("s > 0").count()
    }
    // Repeat-median per query (Harness.median); a failed query reads -1
    val results = ordered.map { case (name, fn) =>
      name ->
        Harness.median(spark, s"[bench] $name")(fn(spark, sfDir).count())
    }
    // A failed query's -1 sentinel must not silently shave the headline
    // total: sum only successes and carry an explicit failed count so a
    // failing run's JSON is self-describing (promote_bench.py already
    // refuses runs with sentinels; this makes the stdout line honest too).
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failed = results.count(_._2 < 0)
    // DECLARED COUNTER-EXAMPLES: queries kept on the board deliberately
    // to demonstrate a scale failure mode next to their fix (q_x179
    // fixed-nlist bucketed LOF, measured super-linear at sf1 exponent
    // 1.10 vs its adaptive fix q_x179b at 0.52 — BASELINE wave 35).
    // Tagged in the JSON so the board reads clean without hiding them.
    val counterExamples = graft.tools.ScaleGate.declaredCounterExamples
      .toSeq.sorted.filter(n => results.exists(_._1 == n))
    val ceJson = counterExamples.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // declared compute-bound rows (row-parallel decode, scales out —
    // see ScaleGate.declaredComputeBound) tagged for the same
    // transparency as counter-examples
    val cbJson = graft.tools.ScaleGate.declaredComputeBound
      .toSeq.sorted.filter(n => results.exists(_._1 == n))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver captures only the LAST 2000 chars of output; a full
    // ~120-query map (~4.4 KB) truncates and the JSON line never parses
    // (BENCH_r6..r8 all landed "parsed: null"). So: full-precision
    // per-query map goes to BENCH_RUN.json in the working directory,
    // and the final stdout line carries the slowest queries at 3
    // decimals — small enough to fit the tail window whole.
    // BENCH_RUN.json is a SINGLE run's record — the committed board
    // (BENCH_FULL.json) is produced by the explicit min-merge step
    // `python3 scripts/promote_bench.py` (the r13 min-of-two method as
    // a script), so an ad-hoc bench can never silently overwrite the
    // transient-free board (the r13 footgun).
    def fmt(entries: Seq[(String, Double)], dec: Boolean): String =
      entries.map { case (k, v) =>
        "\"" + k + "\":" + (if (dec) f"$v%.3f" else v.toString)
      }.mkString("{", ",", "}")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_RUN.json")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath),
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"canary_sec":$canary,"counter_examples":$ceJson,"compute_bound":$cbJson,"queries":${fmt(results, dec = false)},"sf":"$sfDir"}""")
    // FULL per-query map first, then a COMPACT summary as the FINAL
    // stdout line. The driver's output capture keeps only the LAST 2000
    // characters, and
    // the per-query line outgrew that window rounds ago: every
    // BENCH_r01..r16.json carries parsed:null, so the driver's
    // round-over-round per-query comparison has never actually run.
    // The final line is a complete JSON object comfortably inside the
    // window: headline totals + the slowest queries (time desc, name
    // asc — deterministic, and the expensive rows are exactly the ones
    // whose deltas exceed noise) up to a fixed character budget.
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","failed":$failed,"canary_sec":${f"$canary%.3f"},"counter_examples":$ceJson,"compute_bound":$cbJson,"queries":${fmt(results, dec = true)},"sf":"$sfDir"}""")
    val prefix = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","failed":$failed,"canary_sec":${f"$canary%.3f"},"n":${results.size},"queries":{"""
    val suffix = s"""},"sf":"$sfDir"}"""
    val budget = 1700 - prefix.length - suffix.length
    val compact = new StringBuilder
    results.sortBy { case (n, v) => (-v, n) }.foreach { case (n, v) =>
      val entry = (if (compact.nonEmpty) "," else "") +
        "\"" + n + "\":" + f"$v%.3f"
      if (compact.length + entry.length <= budget) compact.append(entry)
    }
    println(prefix + compact + suffix)
    spark.stop()
  }
}
