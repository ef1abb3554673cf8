package graft.tools

/** THE SCALE GATE (r13 verdict item 2, institutionalized): the per-round
  * sf0.1 → sf1 exponent probe as a tool instead of a hand-run ritual.
  * Runs each named query against a small and a big data directory
  * (the big one typically `/tmp/sf1_synth` from [[ScaleUp]] ×10),
  * times both with [[Harness.median]] (the Bench discipline), prints the
  * BASELINE.md wave table, and FAILS — nonzero exit — when any query's
  * exponent `log_factor(t_big / t_small)` exceeds [[exponentGate]]
  * unless the query is on the DECLARED counter-example list, or when
  * any of its runs failed. A board can therefore never silently grow a
  * super-linear query: the wave that would record it aborts instead.
  *
  * The default query set is the STANDING GATE: all 22 TPC-H shapes
  * (r13 verdict item 7 — so the 0.33–0.35 watch rows a20/a28/a29 get
  * tracked round-over-round) plus the stats watch row f82. Pass an
  * explicit comma list to probe a new wave's queries.
  *
  * Usage:
  *   runMain graft.tools.ScaleGate <smallDir> <bigDir> <factor> [q1,q2,…]
  */
object ScaleGate {

  /** Declared scale counter-examples — queries KEPT on the board to
    * demonstrate a failure mode beside their fix (q_x179: fixed-nlist
    * bucketed LOF, O(N²/nlist) by design, fix = q_x179b's adaptive
    * nlist). The single source of truth: [[graft.Bench]] tags these in
    * its JSON and this gate exempts them. */
  val declaredCounterExamples: Set[String] = Set("q_x179_lof_bucketed")

  /** Declared COMPUTE-BOUND rows (wave 37): the audio decode family —
    * per-row media synth + decode with zero shuffle in the decode
    * stage (m6/m7 plans have NO Exchange at all, PlanGuardSpec-pinned;
    * m8 is decode-dominated, its banded join probed separately). A
    * row-parallel map's WALL-TIME exponent at FIXED cores is
    * structurally ~1 — total work is linear and nothing amplifies
    * per-row cost with corpus size — which is a different animal from
    * a super-linear join: on a real cluster these scale OUT with
    * executors. The wave-37 readings slightly above 1.0 (1.15–1.17)
    * are single-JVM GC amplification of the synth fixture's
    * allocation churn (javax.sound stream objects per row), not
    * relation growth. The gate therefore exempts them under their own
    * verdict label instead of the failure list — the exemption says
    * "linear and horizontally scalable", never "super-linear but
    * tolerated". */
  val declaredComputeBound: Set[String] = Set("q_m6_wav_decode",
    "q_m7_audio_fingerprint", "q_m8_audio_neardup")

  /** The compute-bound exemption is CONDITIONAL, not a blank check:
    * the wave-37 readings sit at 1.00–1.17 (linear work + single-JVM
    * GC amplification), so anything past 1.3 is no longer "row-
    * parallel map at fixed cores" — it means the family regressed to
    * genuinely super-linear behavior (e.g. the m8 banded join going
    * quadratic) and must FAIL like any other row, not hide under the
    * declaration. */
  val computeBoundCap: Double = 1.3

  /** The largest exponent an undeclared query may show. */
  val exponentGate: Double = 0.8

  /** The standing gate: every TPC-H shape + the stats watch row. */
  val standingGate: Seq[String] = Seq(
    "q_a1_pricing_summary", "q_a13_shipping_priority",
    "q_a14_local_supplier_volume", "q_a15_volume_shipping",
    "q_a16_market_share", "q_a17_disjunctive_revenue",
    "q_a18_min_cost_supplier", "q_a19_small_quantity_revenue",
    "q_a20_waiting_orders", "q_a21_global_sales_opportunity",
    "q_a22_dominant_share_supplier", "q_a23_priority_check",
    "q_a24_forecast_revenue", "q_a25_product_profit",
    "q_a26_returned_items", "q_a27_important_stock",
    "q_a28_shipmode_priority", "q_a29_customer_distribution",
    "q_a30_promo_effect", "q_a31_top_supplier",
    "q_a32_supplier_relationship", "q_a33_large_orders",
    "q_f82_friedman",
    // r14 ANN watch rows (wave 36: 0.24-0.35, CC/cell-join bound)
    "q_x181_lof_halo", "q_x182_knn_graph", "q_x183_mutual_knn_clusters")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleGate <smallDir> <bigDir> <factor> [q1,q2,...]")
    val (smallDir, bigDir) = (args(0), args(1))
    val factor = args(2).toDouble
    require(factor > 1.0, s"factor must be > 1, got $factor")
    val names =
      if (args.length >= 4) args(3).split(",").map(_.trim).toSeq
      else standingGate
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Harness.session()
    def median(name: String, dir: String): Double =
      Harness.median(spark, s"[scalegate] $name")(
        graft.SparkEntry.queries(name)(spark, dir).count())
    def secs(t: Double): String = if (t < 0) "failed" else f"$t%.2f"

    println(s"[scalegate] ${names.size} queries, factor $factor, " +
      s"gate $exponentGate, repeats ${Harness.Repeats}")
    println("| query | small s | big s | exponent | verdict |")
    println("|---|---|---|---|---|")
    val rows = names.map { n =>
      val tS = median(n, smallDir)
      val tB = median(n, bigDir)
      // a failed run has no exponent: the row fails
      val exp =
        if (tS < 0 || tB < 0) None
        else Some(math.log(tB / tS) / math.log(factor))
      val verdict = exp match {
        case None => "FAIL"
        case Some(e) if e <= exponentGate => "ok"
        case _ if declaredCounterExamples.contains(n) =>
          "DECLARED counter-example"
        case Some(e) if declaredComputeBound.contains(n) &&
            e <= computeBoundCap =>
          "declared compute-bound (row-parallel, scales out)"
        case _ => "FAIL"
      }
      println(s"| $n | ${secs(tS)} | ${secs(tB)} | " +
        s"${exp.fold("—")(e => f"$e%.2f")} | $verdict |")
      (n, tS, tB, exp, verdict)
    }
    val failed = rows.filter(_._5 == "FAIL")
    // one machine-readable line for the round log
    val json = rows.map { case (n, tS, tB, e, v) =>
      val ej = e.fold("null")(x => f"$x%.3f")
      f"""\"$n\":{\"small\":$tS%.3f,\"big\":$tB%.3f,\"exp\":$ej,\"ok\":${v != "FAIL"}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scalegate","gate":$exponentGate,"factor":$factor,"failed":${failed.size},"queries":$json}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[scalegate] FAIL: ${failed.size} queries " +
        s"failed a run, or above exponent $exponentGate and not declared: " +
        failed.map(r => s"${r._1} (${r._4.fold("failed run")(e =>
          f"$e%.2f")})").mkString(", "))
      sys.exit(1)
    }
    println("[scalegate] PASS")
  }
}
