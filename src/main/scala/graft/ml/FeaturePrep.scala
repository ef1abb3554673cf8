package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic feature-preparation transforms.
  *
  * Min-max scaling is chosen over z-score standardization deliberately:
  * min/max are EXACT under any aggregation order, so the scaled values
  * are bit-identical across engines and across reruns — a double `sum`
  * (the mean/stddev path) is partial-aggregated in nondeterministic order
  * and can drift in the last ulp between plans. Determinism is a design
  * requirement of this library (SURVEY §7.1). */
object FeaturePrep {

  /** Scale each column to [0, 1] by its global (min, max); constant
    * columns map to 0.0. The stats come from ONE aggregate row that joins
    * back by broadcast cross-join — two scans total, no shuffle of the
    * data side, scale-safe at any row count. Appends `<col>_scaled`. */
  def minMaxScale(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "minMaxScale needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__min_$c"),
      max(col(c).cast("double")).as(s"__max_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val scaled = cols.foldLeft(joined) { (d, c) =>
      val lo = col(s"__min_$c")
      val hi = col(s"__max_$c")
      d.withColumn(s"${c}_scaled",
        when(hi > lo,
          graft.functions.q6((col(c).cast("double") - lo) / (hi - lo)))
          .otherwise(lit(0.0)))
    }
    scaled.drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
  }

  /** F14: POINT-IN-TIME TRAINING-MATRIX ASSEMBLY — the feature-store
    * payoff operation: one label table AS-OF-joined against N feature
    * tables so every feature column holds the value that was visible
    * AT the label's timestamp, never after (no label leakage, the
    * whole point of a point-in-time store). Each feature table is
    * `(keys, tsCol, value columns…)`, value columns get `<prefix>_`
    * names and `<prefix>_asof_ts` records which feature row actually
    * matched — per feature, all columns come from the SAME matched row
    * ([[graft.relational.Joins.asOfJoin]]'s struct-payload contract).
    *
    * Scale shape: one [[graft.relational.Joins.asOfTables]] pass for
    * all N tables — ONE shuffle keyed on the entity and one window over
    * labels ∪ every feature table (zero pair explosion); the label table
    * stays the spine, so row count never grows. Feature tables must be
    * unique per (keys, ts) — pre-aggregate upstream or set
    * `checkUnique`, which checks every table in one aggregate. */
  def pointInTimeMatrix(labels: DataFrame, keys: Seq[String],
      labelTs: String, features: Seq[(String, DataFrame, String)],
      toleranceSec: Option[Long] = None,
      checkUnique: Boolean = false): DataFrame =
    graft.relational.Joins.asOfTables("pointInTimeMatrix", labels, keys,
      labelTs, features.map { case (prefix, feat, ftsCol) =>
        graft.relational.Joins.AsOfSide(prefix, feat, ftsCol, s"${prefix}_")
      }, toleranceSec, checkUnique)

  /** F45: STANDARD SCALER — the fit/transform pair done as honest
    * relational operators: [[standardScalerFit]] computes per-feature
    * (n, mean, sample std) from DECIMAL-exact Σx/Σx² in ONE pass (the
    * moment identity over order-immune sums — a double running mean
    * drifts with partition order); [[standardScalerTransform]]
    * broadcast-joins the params back and emits `(x − mean)/std`
    * quantized-6. Persist the fit output and transform at inference
    * with the SAME table — train/serve skew becomes a diffable
    * artifact instead of a re-fit.
    *
    * Zero-variance features transform to NULL (not 0 — a constant
    * carries no scale; silently zeroing hides the degenerate feature).
    * NULL inputs stay NULL. */
  def standardScalerFit(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one feature column")
    val aggs = cols.flatMap { c =>
      val x = col(c).cast("decimal(18,6)")
      Seq(count(col(c)).as(s"__n_$c"),
        sum(x).as(s"__s_$c"), sum(x * x).as(s"__q_$c"))
    }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      val n = col(s"__n_$c").cast("double")
      val s = col(s"__s_$c").cast("double")
      val q = col(s"__q_$c").cast("double")
      struct(lit(c).as("feature"), col(s"__n_$c").as("n"),
        graft.functions.q6(when(col(s"__n_$c") > 0, s / n)).as("mean"),
        graft.functions.q6(when(col(s"__n_$c") > 1,
          sqrt((q - s * s / n) / (n - lit(1.0))))).as("std"))
    }
    m.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Transform side of [[standardScalerFit]]: appends `<c>_scaled` for
    * every feature in `params`. The params table is feature-count-
    * bounded by construction (one row per fitted column), so it folds
    * into LITERAL expressions — whole-stage codegen, zero joins, the
    * data relation never shuffles. */
  def standardScalerTransform(df: DataFrame, params: DataFrame)
      : DataFrame = {
    val p = params.select(col("feature"), col("mean"), col("std"))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    p.foldLeft(df) { case (acc, (c, (mean, std))) =>
      val scaled =
        if (mean == null || std == null) lit(null).cast("double")
        else if (std.asInstanceOf[Double] == 0.0) lit(null).cast("double")
        else graft.functions.q6(
          (col(c).cast("double") - lit(mean.asInstanceOf[Double])) /
            lit(std.asInstanceOf[Double]))
      acc.withColumn(s"${c}_scaled", scaled)
    }
  }

  /** X140: SIGNED FEATURE HASHING (the hashing trick — Weinberger et
    * al. 2009, ICML): map arbitrary-cardinality categorical features
    * into a FIXED `dims`-bucket space with a ±1 sign hash, so
    * collision bias cancels in expectation (unsigned hashing
    * systematically inflates colliding buckets). The way a 100 TB
    * pipeline one-hot-encodes URLs/domains/user-agents without ever
    * materializing (or even counting) the vocabulary — no fit step,
    * no dictionary broadcast, new values at inference hash to the
    * same space.
    *
    * Hashes are the engine-neutral md5 idiom over the canonical
    * `hashInput(feature-name, value)` encoding (NULL values hash as
    * the [[graft.functions.HashNull]] sentinel — they carry signal):
    * bucket = first-8-hex-digits mod dims, sign from hex digit 9.
    * Output SPARSE: one row per (id, bucket) with the summed signed
    * weight (same-bucket collisions within a row pre-combine here) —
    * exact integers end to end. One narrow map pass + one (id,
    * bucket) aggregate. */
  def hashFeatures(df: DataFrame, idCol: String, cols: Seq[String],
      dims: Int): DataFrame = {
    require(cols.nonEmpty, "need at least one feature column")
    require(dims >= 2, s"dims must be >= 2, got $dims")
    val features = cols.map { c =>
      val h = md5(graft.functions.hashInput(Seq(lit(c), col(c))))
      struct(
        (conv(substring(h, 1, 8), 16, 10).cast("long") % dims)
          .as("bucket"),
        when(substring(h, 9, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L)
          .otherwise(-1L).as("w"))
    }
    df.select(col(idCol).as("id"),
        explode(array(features: _*)).as("__f"))
      .groupBy(col("id"), col("__f.bucket").as("bucket"))
      .agg(sum(col("__f.w")).as("weight"))
  }

  /** F34: WEIGHT-OF-EVIDENCE / INFORMATION-VALUE table (Siddiqi 2006,
    * the credit-scoring standard) for one categorical feature against a
    * binary label: per value, `woe = ln(((g+0.5)/G) / ((b+0.5)/B))` —
    * the +0.5 adjusted-WOE convention applied UNIFORMLY so zero cells
    * never reach ln(0) and every value is computed by the same tree —
    * and `iv_term = (g/G - b/B) * woe`, plus the feature-level
    * `iv_total` on every row.
    *
    * Determinism: counts are exact BIGINTs; each woe/iv_term is a fixed
    * IEEE tree; `iv_total` is the sum of the QUANTIZED-6 terms carried
    * as scaled LONGs (order-free integer addition — a raw double sum
    * over values would drift in the last ulp with aggregation order).
    *
    * 100 TB: one map-side-combined groupBy on the feature value; totals
    * are a second aggregate over the VALUE table (cardinality-sized)
    * broadcast back. NULL feature values group as their own row (they
    * carry signal too); NULL labels are rejected loudly — silently
    * counting them as "bad" would corrupt both shares. */
  def woeTable(df: DataFrame, category: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column): DataFrame = {
    val base = df.select(category.as("value"),
      label.cast("int").as("__y"))
    val counted = base.groupBy(col("value")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("__y") === 1, 1L)), lit(0L)).as("n_good"),
      coalesce(sum(when(col("__y") === 0, 1L)), lit(0L)).as("n_bad"),
      coalesce(sum(when(col("__y").isNull, 1L)), lit(0L)).as("__n_null"))
    val g = col("n_good").cast("double")
    val b = col("n_bad").cast("double")
    val totals = counted.agg(sum(col("n_good")).as("__g_tot"),
      sum(col("n_bad")).as("__b_tot"),
      sum(col("__n_null")).as("__null_tot"))
    val gt = col("__g_tot").cast("double")
    val bt = col("__b_tot").cast("double")
    val woe = log(((g + lit(0.5)) / gt) / ((b + lit(0.5)) / bt))
    val ivTerm = (g / gt - b / bt) * woe
    val terms = counted.crossJoin(broadcast(totals))
      // the NULL-label guard lives INSIDE a kept column so Catalyst
      // cannot prune it away: any NULL label anywhere fails every row
      .withColumn("woe",
        when(col("__null_tot") > 0,
          raise_error(concat(lit("woeTable: NULL labels present: "),
            col("__null_tot")))).otherwise(graft.functions.q6(woe)))
      .withColumn("__iv_scaled",
        floor(ivTerm * lit(1e6) + lit(0.5)).cast("long"))
    val ivTotal = terms
      .agg(sum(col("__iv_scaled")).as("__iv_tot_scaled"))
    terms.crossJoin(broadcast(ivTotal))
      .select(col("value"), col("n"), col("n_good"), col("n_bad"),
        col("woe"),
        (col("__iv_scaled").cast("double") / lit(1e6)).as("iv_term"),
        (col("__iv_tot_scaled").cast("double") / lit(1e6)).as("iv_total"))
  }
}
