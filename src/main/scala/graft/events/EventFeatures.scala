package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Derived-feature operators from the reference's feature catalogue
  * (reference: docs/feature_examples.md:1-125 — "Weekly average maximum
  * spend", "Gradient of weekly output call duration over last 2 months",
  * "First quantile (0.1) daily event count", inter-purchase intervals).
  *
  * Determinism note: the regression/average formulas are computed from
  * exact integer sums (counts, epoch-second diffs, week indexes) with ONE
  * final double division — both engines produce bit-identical doubles, so
  * results oracle-check without tolerance. `regr_slope`-style built-ins
  * are avoided for exactly this reason: their incremental formulations
  * differ between engines in the last ulp.
  */
object EventFeatures {

  /** E10: trailing event-time ROLLING features — for EVERY event, the
    * count, value sum and max of the same entity's events in the
    * trailing `windowSec` seconds (inclusive of the event itself): the
    * leakage-safe per-event feature (each row sees only its own past)
    * that bucketed weekly aggregates cannot express — the standard
    * velocity/fraud-feature shape ("transactions in the last hour").
    *
    * Frames are over epoch seconds (`ts` cast to long): ties (same
    * entity + second) share one frame and therefore the same trailing
    * values, so output is order-independent and deterministic. Cost: one
    * exchange keyed on the entity, an O(n log n) sort within partitions
    * and an O(n) pass of the [[SlidingFrame]] kernel, whatever the
    * events per frame. The sum is exact — each value is added as it
    * enters the frame and subtracted as it leaves, in exact integer
    * arithmetic — and is then rounded to 2 places; it is null when the
    * frame holds no non-null value. Output: the input columns, then
    * `n_trailing`, `sum_trailing`, `max_trailing`, with rows sorted by
    * entity and time inside each partition. */
  def trailingWindow(events: DataFrame, windowSec: Long,
      c: EventCols = EventCols()): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive, got $windowSec")
    val vIx = events.schema.fieldIndex(c.value)
    val vt = events.schema(vIx).dataType
    SlidingFrame.run(events, c.entity, col(c.ts).cast("long"),
        Seq(c.ts, c.id).filter(events.columns.contains).map(col),
        windowSec, inclusive = true,
        Seq(StructField("n_trailing", LongType, nullable = false),
          StructField("sum_trailing", SlidingFrame.sumTypeOf(vt)),
          StructField("max_trailing", vt)))(
        () => new SlidingFrame.Trailing(vIx, vt))
      .withColumn("sum_trailing", round(col("sum_trailing"), 2))
  }

  /** Weekly activity buckets per entity: event count and value sum per
    * ISO week (date_trunc) — the building block of every "weekly X"
    * feature. One shuffle on (entity, week). */
  def weeklyActivity(events: DataFrame, attribute: String,
      c: EventCols = EventCols()): DataFrame =
    events.filter(col(c.eventType) === attribute)
      .groupBy(col(c.entity),
        date_trunc("week", col(c.ts)).cast("date").cast("string").as("week"))
      .agg(count(lit(1)).as("n"),
        round(sum(col(c.value)), 2).as("value_sum"))

  /** Least-squares gradient of weekly event count over time per entity
    * (x = epoch-week index, y = weekly count): the "gradient of weekly X"
    * feature family. Closed form over exact integer sums:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). */
  def weeklyCountGradient(events: DataFrame, attribute: String,
      c: EventCols = EventCols()): DataFrame = {
    val weekly = events.filter(col(c.eventType) === attribute)
      .groupBy(col(c.entity),
        floor(unix_timestamp(date_trunc("week", col(c.ts))) / 604800L)
          .cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    weekly.groupBy(col(c.entity))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") > 1)
      .select(col(c.entity),
        graft.functions.q6(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("gradient"))
  }

  /** Type-1 (rank-based) quantile of event values per entity: the value at
    * rank ceil(q·n) in ascending (value, id) order — exact, no
    * interpolation, identical in any engine.
    *
    * One partial+final hash aggregate: `collect_list` the (value, id)
    * structs, `array_sort`, pick the rank — no shuffle-sort and no second
    * window pass over the same partition (the double-window form cost 2
    * sorts over 600k events at sf0.1). Per-group state is bounded by
    * events-per-entity, the same bound any exact per-entity quantile has. */
  def valueQuantile(events: DataFrame, attribute: String, q: Double,
      c: EventCols = EventCols()): DataFrame =
    events.filter(col(c.eventType) === attribute)
      .groupBy(col(c.entity))
      .agg(array_sort(collect_list(
        struct(col(c.value).as("v"), col(c.id).as("i")))).as("__a"))
      .select(col(c.entity),
        element_at(col("__a"), ceil(lit(q) * size(col("__a"))).cast("int"))
          .getField("v").as("quantile_value"))

  /** "Weekly average maximum spend" (docs/feature_examples.md): per
    * entity, the daily maximum value averaged over each week (daily maxima
    * are exact; the ≤7-term mean is stable under round-4 across engines). */
  def weeklyAvgDailyMax(events: DataFrame, attribute: String,
      c: EventCols = EventCols()): DataFrame = {
    val daily = events.filter(col(c.eventType) === attribute)
      .groupBy(col(c.entity),
        date_trunc("week", col(c.ts)).cast("date").cast("string").as("week"),
        col(c.ts).cast("date").as("__day"))
      .agg(max(col(c.value)).as("__dmax"))
    daily.groupBy(col(c.entity), col("week"))
      .agg(count(lit(1)).as("n_days"),
        graft.functions.quantize(sum(col("__dmax")) / count(lit(1)), 4)
          .as("avg_daily_max"))
  }

  /** Event-type proportion per entity: share of `attribute` events among
    * all events — exact integer counts, one double division. */
  def eventProportion(events: DataFrame, attribute: String,
      c: EventCols = EventCols()): DataFrame =
    events.groupBy(col(c.entity))
      .agg(count(lit(1)).as("n_total"),
        count(when(col(c.eventType) === attribute, 1)).as("n_attr"))
      .select(col(c.entity), col("n_total"), col("n_attr"),
        graft.functions.q6(col("n_attr").cast("double") / col("n_total"))
          .as("proportion"))

  /** Hour-of-day band predicate (`startHour` inclusive, `endHour`
    * exclusive): the "events between 11am and 3pm" feature family. */
  def hourBand(startHour: Int, endHour: Int,
      c: EventCols = EventCols()): Column =
    hour(col(c.ts)) >= startHour && hour(col(c.ts)) < endHour

  /** Weekend predicate via pure integer arithmetic — epoch-day mod 7 with
    * 1970-01-01 anchored as Thursday, so (day+4) mod 7 gives Sunday=0 …
    * Saturday=6. No engine-specific day-of-week numbering to mismatch. */
  def weekendDays(c: EventCols = EventCols()): Column = {
    val dow = pmod(floor(unix_timestamp(col(c.ts)) / 86400L) + 4, lit(7))
    dow === 0 || dow === 6
  }

  /** "Average number of daily events <in some band>" (docs/
    * feature_examples.md: 11am-3pm, weekend, weekday variants): events
    * matching `cond`, averaged over the entity's ACTIVE days in the band
    * (days with no band events don't dilute the mean — the reference's
    * daily averages behave the same). One aggregate: count / distinct-day
    * count. */
  def bandedDailyAverage(events: DataFrame, cond: Column,
      c: EventCols = EventCols()): DataFrame =
    events.filter(cond)
      .groupBy(col(c.entity))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col(c.ts).cast("date")).as("n_days"))
      .select(col(c.entity), col("n_events"), col("n_days"),
        graft.functions.quantize(
          col("n_events").cast("double") / col("n_days"), 4)
          .as("avg_daily"))

  /** "Average duration of sessions" (docs/feature_examples.md): session
    * bounds from [[EventFunctions.sessionStats]] (gap-based sessionize),
    * duration in whole seconds, per-entity mean as one exact BIGINT sum
    * and a final double division. */
  def avgSessionDuration(events: DataFrame, timeoutSec: Long,
      c: EventCols = EventCols()): DataFrame =
    EventFunctions.sessionStats(events, timeoutSec, c)
      .withColumn("__dur",
        unix_timestamp(col("session_end")) - unix_timestamp(col("session_start")))
      .groupBy(col(c.entity))
      .agg(count(lit(1)).as("n_sessions"),
        graft.functions.quantize(
          sum(col("__dur")).cast("double") / count(lit(1)), 4)
          .as("avg_session_s"))

  /** Inter-event intervals per entity (seconds between consecutive events
    * of `attribute`): count, max, and mean — the "inter-purchase interval"
    * feature. Mean = exact BIGINT sum / count, one double division. */
  /** W21: TIME-WEIGHTED AVERAGE per entity over a window (the
    * last-observation-carried-forward integral — the TWAP/availability
    * shape; public knowledge): a plain mean over-weights chatty
    * periods (ten updates in one minute count ten times), the
    * time-weighted mean weights each VALUE by HOW LONG IT HELD —
    * exactly what "average price/limit/capacity over the window"
    * means for a feature that holds between updates (the feature-store
    * current()/latest semantics, integrated). Each event's value holds
    * from its timestamp to the next event (LOCF); the integral runs
    * over [start, end): segments clamp to the window, and the value
    * carried INTO the window by the last pre-window event counts from
    * `start`. Time before the first event is uncovered — reported, not
    * imputed.
    *
    * Exactness: epoch seconds exact BIGINT; values on the 1e-6 grid
    * (micro LONGs), each segment `v_μ · seconds` exact in
    * DECIMAL(38,0), order-free sum; ONE pinned division pair
    * (Σ/10⁶)/covered, q6. Ties at the same timestamp order by (ts,
    * value) — deterministic; the earlier rows hold zero seconds.
    * Scale: one entity-keyed lead window over events ≤ end, one
    * aggregate — no joins. Output per entity:
    * (key, n_events, covered_sec, twa). */
  def timeWeightedAverage(events: DataFrame, key: String, ts: Column,
      valueCol: Column, windowStart: String, windowEnd: String)
      : DataFrame = {
    // window bounds parse timezone-INDEPENDENTLY (epoch under UTC, the
    // pinned session timezone) — Timestamp.valueOf would use the JVM
    // default TZ and silently shift the window against the
    // unix_timestamp-converted event times on any non-UTC machine
    def epochUtc(s: String): Long =
      java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
        .toEpochSecond(java.time.ZoneOffset.UTC)
    val startS = epochUtc(windowStart)
    val endS = epochUtc(windowEnd)
    require(endS > startS,
      s"timeWeightedAverage: empty window [$windowStart, $windowEnd)")
    val D = "decimal(38,0)"
    // out-of-grid values fail loud: a silent NULL would keep the
    // segment's seconds in covered_sec while dropping its value from
    // the integral — twa understated with no error (the daily-family
    // grid discipline)
    val vd = valueCol.cast("decimal(18,6)")
    val base = events
      .filter(valueCol.isNotNull)
      .select(col(key), unix_timestamp(ts).as("__t"),
        when(vd.isNull,
          raise_error(lit("timeWeightedAverage: value outside the " +
            "DECIMAL(18,6) grid — rescale first")))
          .otherwise(vd).as("__v"))
      .filter(col("__t") < endS)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t"), col("__v"))
    val seg = base
      .withColumn("__next",
        coalesce(lead(col("__t"), 1).over(w), lit(endS)))
      .withColumn("__s0", greatest(col("__t"), lit(startS)))
      .withColumn("__s1", least(col("__next"), lit(endS)))
      .withColumn("__dur", greatest(col("__s1") - col("__s0"), lit(0L)))
    import graft.functions.q6
    seg.groupBy(col(key))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__dur")).as("covered_sec"),
        sum((col("__v") * lit(1000000L)).cast("long").cast(D) *
          col("__dur").cast(D)).as("__int"))
      .select(col(key), col("n_events"), col("covered_sec"),
        q6(when(col("covered_sec") > 0,
          (col("__int").cast("double") / lit(1e6)) /
            col("covered_sec").cast("double"))).as("twa"))
  }

  def interEventIntervals(events: DataFrame, attribute: String,
      c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity)).orderBy(col(c.ts), col(c.id))
    events.filter(col(c.eventType) === attribute)
      .withColumn("__gap",
        unix_timestamp(col(c.ts)) - unix_timestamp(lag(col(c.ts), 1).over(w)))
      .filter(col("__gap").isNotNull)
      .groupBy(col(c.entity))
      .agg(count(lit(1)).as("n_gaps"),
        max(col("__gap")).as("max_gap_s"),
        graft.functions.quantize(
          sum(col("__gap")).cast("double") / count(lit(1)), 4)
          .as("mean_gap_s"))
  }

  /** E11: COHORT RETENTION — the standard activation/retention matrix:
    * users are grouped by the Monday-aligned week of their FIRST
    * activity (the cohort) and counted in every later week they return,
    * giving (cohort_week, week_offset) → distinct actives. The
    * retention rate divides by cohort size — one correctly-rounded IEEE
    * division of exact counts, bit-identical cross-engine.
    *
    * Scale shape: one user-keyed aggregate for first-activity, one
    * distinct (user, week) projection joined back on user (the join
    * re-uses the user hash partitioning), then a (cohort, offset)
    * aggregate whose cardinality is weeks² — tiny no matter the event
    * volume. Week offsets divide exactly by 7 because both ends are
    * date_trunc'd to Mondays. */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val weeks = events.select(col(userCol).as("__u"),
      date_trunc("week", col(tsCol)).cast("date").as("__w"))
    val firstW = weeks.groupBy(col("__u"))
      .agg(min(col("__w")).as("cohort_week"))
    val sizes = firstW.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    weeks.distinct()
      .join(firstW, "__u")
      .withColumn("week_offset",
        (datediff(col("__w"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("__u")).as("n_active"))
      .join(sizes, "cohort_week")
      .withColumn("retention_rate",
        col("n_active").cast("double") / col("cohort_size").cast("double"))
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"), col("cohort_size"),
        col("n_active"), col("retention_rate"))
  }

  /** E23: COHORT LTV CURVES — cumulative value per user by cohort age
    * (the "how much is a January user worth after 4 weeks" table that
    * prices acquisition): users cohort by FIRST-activity week (the
    * E11 convention), weekly value sums per (cohort, week_offset)
    * accumulate along the offset axis, and `ltv` divides by the FIXED
    * cohort size — so the curve is monotone and comparable across
    * cohorts regardless of later churn.
    *
    * Exactness: value sums are DECIMAL (E16 discipline) and the
    * cumulative runs over DECIMALs in a cohort-keyed ordered window
    * (exact + associative — engine window strategy immaterial);
    * `ltv_per_user` is one division, cast to double at output.
    * Scale: one user aggregate, one (cohort, week) aggregate, one
    * cohort-keyed window. Output: (cohort_week, week_offset,
    * cohort_size, week_value, cum_value, ltv_per_user) round-2/6. */
  def ltvCurves(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    ltvFromUserWeeks(events.select(col(userCol).as("__u"),
      date_trunc("week", col(tsCol)).cast("date").as("__w"),
      col(valueCol).cast("decimal(18,2)").as("__v")))

  /** The E23 curve kernel over a (__u, __w, __v) table (__v DECIMAL;
    * rows may be event-level or pre-aggregated — weekly sums are
    * associative) — shared verbatim by [[ltvCurves]] and the
    * streaming cohort-value sink view
    * ([[graft.streaming.StreamingEvents.ltvView]]). */
  private[graft] def ltvFromUserWeeks(weekly: DataFrame): DataFrame = {
    val firstW = weekly.groupBy(col("__u"))
      .agg(min(col("__w")).as("cohort_week"))
    val sizes = firstW.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    val byOffset = weekly
      .join(firstW, "__u")
      .groupBy(col("cohort_week"),
        (datediff(col("__w"), col("cohort_week")) / 7).cast("long")
          .as("week_offset"))
      .agg(coalesce(sum(col("__v")),
        lit(0).cast("decimal(18,2)")).as("__wv"))
    val cum = Window.partitionBy(col("cohort_week"))
      .orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byOffset
      .withColumn("__cum", sum(col("__wv")).over(cum))
      .join(sizes, "cohort_week")
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"), col("cohort_size"),
        round(col("__wv").cast("double"), 2).as("week_value"),
        round(col("__cum").cast("double"), 2).as("cum_value"),
        graft.functions.q6(col("__cum").cast("double") /
          col("cohort_size").cast("double")).as("ltv_per_user"))
  }

  /** W18: GROWTH ACCOUNTING — the weekly new / retained / resurrected
    * / churned user ledger (the standard growth decomposition:
    * active(w) = new + retained + resurrected; churned(w) = active in
    * w−1, absent in w). Per distinct (user, week): first week ⇒ NEW;
    * previous active week = w−1 ⇒ RETAINED; previous < w−1 ⇒
    * RESURRECTED. Churn counts at the week AFTER the last sighting
    * via `lead` — every classification is one user-keyed lag/lead
    * window over the distinct (user, week) table, exact counts only.
    *
    * Output: one row per active week — (week, n_active, n_new,
    * n_retained, n_resurrected, n_churned) where n_churned is users
    * active the PREVIOUS week who did not return this week (reported
    * on the week they went missing). */
  def growthAccounting(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    growthFromUserWeeks(events.select(col(userCol).as("__u"),
        date_trunc("week", col(tsCol)).cast("date").as("__w"))
      .distinct())

  /** The W18 ledger kernel over an already-distinct (__u, __w) table —
    * shared verbatim by [[growthAccounting]] and the streaming
    * user-week sink view
    * ([[graft.streaming.StreamingEvents.growthView]]): distinct
    * (user, week) pairs are a SET, so per-batch pairs union exactly
    * and streaming parity is structural. */
  private[graft] def growthFromUserWeeks(uw: DataFrame): DataFrame = {
    val lagw = Window.partitionBy(col("__u")).orderBy(col("__w"))
    val classified = uw
      .withColumn("__prev", lag(col("__w"), 1).over(lagw))
      .withColumn("__cls",
        when(col("__prev").isNull, "new")
          .when(datediff(col("__w"), col("__prev")) === 7, "retained")
          .otherwise("resurrected"))
    val active = classified.groupBy(col("__w").as("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("__cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    // churned at week w: active in w-7, absent in w — count at the
    // week they went missing (lead over the same user window)
    val churned = classified
      .withColumn("__next", lead(col("__w"), 1).over(lagw))
      .filter(col("__next").isNull ||
        datediff(col("__next"), col("__w")) > 7)
      .groupBy(expr("date_add(__w, 7)").as("week"))
      .agg(count(lit(1)).as("n_churned"))
    active.join(churned, Seq("week"), "full_outer")
      .select(col("week").cast("string").as("week"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** E13: ROLLING ACTIVE USERS (DAU / trailing-window WAU /
    * stickiness) — the standard engagement triple: per calendar day,
    * distinct actives that day, distinct actives over the trailing
    * `windowDays`, and their ratio (DAU/WAU "stickiness").
    *
    * Distinct-over-sliding-window has no direct window-function form;
    * the scalable shape is CONTRIBUTION EXPLOSION: each distinct
    * (user, day) pair contributes to the `windowDays` window-ends it
    * falls inside (a fixed ×W row fan-out — never a per-day rescan of
    * history), then one distinct + one count per window-end. Days are
    * kept only where the corpus has activity (inner join to DAU).
    * All counts exact; stickiness is one correctly-rounded division —
    * bit-identical cross-engine, no rounding. */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val ud = graft.util.Caches.persistTracked(
      events.select(col(userCol).as("__u"),
        col(tsCol).cast("date").as("__d")).distinct())
    val dau = ud.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("__u"), col("__d"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("__o"))
      .select(col("__u"), date_add(col("__d"), col("__o")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day").cast("string").as("day"), col("dau"),
        col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
  }

  /** E22: INTER-EVENT GAP QUANTILES per event type — the cadence
    * profile ("median seconds between purchases, p90 between views")
    * that sets session timeouts, churn-risk horizons and the E15 EWMA
    * window with data instead of folklore. Gaps are consecutive
    * same-(entity, type) deltas in truncated epoch seconds (exact
    * integers); the per-type quantiles are the X111 type-1
    * integer-rank picks under the (gap, id) total order — no floats
    * anywhere.
    *
    * Scale: one (entity, type)-keyed lag window, then
    * [[graft.dq.Stats.groupQuantiles]]'s type-keyed rank window.
    * Output: (event_type, quantile, n, rank, value). */
  def gapQuantiles(events: DataFrame,
      quantiles: Seq[(Int, Int, String)] =
        Seq((1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75"), (9, 10, "p90")),
      c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity), col(c.eventType))
      .orderBy(col(c.ts), col(c.id))
    val gaps = events
      .withColumn("__prev", lag(col(c.ts), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col(c.eventType),
        (unix_timestamp(col(c.ts)) - unix_timestamp(col("__prev")))
          .as("__gap"),
        col(c.id))
    graft.dq.Stats.groupQuantiles(gaps, c.eventType, col("__gap"),
      col(c.id), quantiles)
  }

  /** E12: RFM SCORING (recency / frequency / monetary quintiles) — the
    * classic customer-value feature vector: per user, days since last
    * activity as of `asOfDate`, event count, and value sum, each
    * quintile-bucketed 1..5 with 5 best (most recent, most frequent,
    * highest spend), composed into the 3-digit `rfm_segment`.
    *
    * Engine parity: the monetary sum goes through DECIMAL(18,6) — an
    * EXACT integer-scaled aggregation, immune to the float
    * summation-order divergence a double sum has across engines — and
    * is cast to double only for output; ntile is the SQL-standard
    * equal-height bucketing in both engines, with (metric, user) total
    * orders so ties can never flip buckets.
    *
    * Scale shape: one user-keyed aggregate, then three TWO-PHASE
    * global ranks ([[graft.relational.Ranks.globalRank]]) over the
    * USER-level table with the SQL-standard ntile assignment computed
    * from (rank, n) — equal-height quintiles with no global-order
    * window anywhere, exact at billions of users. */
  def rfmScores(events: DataFrame, asOfDate: String,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    import graft.relational.Ranks
    val base = events.groupBy(col(userCol))
      .agg(
        datediff(lit(asOfDate).cast("date"),
          max(col(tsCol)).cast("date")).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        // all-null value users sum to NULL; pin to 0 so the m-ranking
        // never depends on engine NULL placement (Spark NULLS FIRST
        // asc vs DuckDB NULLS LAST)
        coalesce(sum(col(valueCol).cast("decimal(18,6)")).cast("double"),
          lit(0.0)).as("monetary"))
    // the first rank pass hands back the user count for free; empty
    // input yields an empty frame either way — max(n,1) keeps the
    // (never-evaluated) bucket expression well-defined
    val (r1, n0) = Ranks.globalRankAndCount(base,
      Seq(col("recency_days").desc, col(userCol)), "__rr")
    val n = math.max(n0, 1L)
    val ranked = Seq(
      ("__fr", Seq(col("frequency").asc, col(userCol))),
      ("__mr", Seq(col("monetary").asc, col(userCol))))
      .foldLeft(r1) { case (d, (name, ord)) =>
        Ranks.globalRank(d, ord, name) }
    ranked
      .withColumn("r_score", Ranks.ntileOf(col("__rr"), n, 5).cast("long"))
      .withColumn("f_score", Ranks.ntileOf(col("__fr"), n, 5).cast("long"))
      .withColumn("m_score", Ranks.ntileOf(col("__mr"), n, 5).cast("long"))
      .withColumn("rfm_segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .drop("__rr", "__fr", "__mr")
  }
  /** E29: INTER-EVENT BURSTINESS per entity — the Goh–Barabási
    * burstiness parameter `B = (σ − μ)/(σ + μ)` over the entity's
    * inter-event gaps (B → −1 periodic, 0 Poisson, → +1 bursty), plus
    * the coefficient of variation — which behavioral regime an
    * entity's cadence is in, read before trusting any mean-gap
    * feature. Gaps are exact BIGINT epoch-second deltas; σ from the
    * population moment identity over exact integer sums
    * (Σg, Σg², n), one sqrt (correctly rounded) — a fixed IEEE tree.
    * Entities with < 2 gaps emit NULL B (σ undefined at n = 1 is a
    * convention: population σ of one gap is 0, B = −1; requiring two
    * keeps the report honest). Output: (key, n_gaps, mean_gap_s,
    * cv, burstiness). */
  def burstiness(events: DataFrame, attribute: String,
      c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity)).orderBy(col(c.ts), col(c.id))
    events.filter(col(c.eventType) === attribute)
      .withColumn("__gap",
        unix_timestamp(col(c.ts)) - unix_timestamp(lag(col(c.ts), 1).over(w)))
      .filter(col("__gap").isNotNull)
      .groupBy(col(c.entity))
      .agg(count(lit(1)).as("n_gaps"), sum(col("__gap")).as("__sg"),
        sum(col("__gap") * col("__gap")).as("__sgg"))
      .withColumn("__mu",
        col("__sg").cast("double") / col("n_gaps").cast("double"))
      .withColumn("__sigma",
        sqrt(col("__sgg").cast("double") / col("n_gaps").cast("double") -
          col("__mu") * col("__mu")))
      .select(col(c.entity), col("n_gaps"),
        col("__mu").as("mean_gap_s"),
        when(col("n_gaps") >= 2 && col("__mu") > 0,
          col("__sigma") / col("__mu")).as("cv"),
        when(col("n_gaps") >= 2 && col("__sigma") + col("__mu") > 0,
          (col("__sigma") - col("__mu")) / (col("__sigma") + col("__mu")))
          .as("burstiness"))
  }

  /** W22: EVENT-TYPE ENTROPY per entity — the behavioral-diversity
    * feature (Shannon 1948, public knowledge): `H = −Σ_i p_i·ln p_i`
    * over the entity's event-type distribution, plus the normalized
    * `H / ln k` (0 = monomaniac, 1 = uniform over the k types the
    * entity actually uses) — the standard "is this account a single-
    * purpose bot or a human-shaped mixture" signal, and the
    * categorical companion of E29's cadence regime.
    *
    * Exactness: type counts exact; each type's `−p·ln p` is ONE fixed
    * IEEE tree over an exact-integer division, floor-scaled to a 1e12
    * LONG (the scaled-term discipline: the sum is integer, so
    * per-partition order can never matter), summed in DECIMAL(38,0),
    * divided out once; `norm = H_raw / ln k` one further pinned
    * division on the unquantized H. Published q6. Entities with one
    * type emit H = 0 and NULL norm (ln 1 = 0). Scale: one
    * (entity, type) aggregate + one entity-keyed aggregate — rows
    * bounded by entities × types, no windows over event volume.
    * Output: (key, n_events, n_types, entropy, norm_entropy). */
  def eventTypeEntropy(events: DataFrame,
      c: EventCols = EventCols()): DataFrame =
    eventTypeEntropyFromCells(events
      .filter(col(c.eventType).isNotNull)
      .groupBy(col(c.entity), col(c.eventType))
      .agg(count(lit(1)).as("__c")), c)

  /** The W22 finish over (entity, type, `__c`) COUNT CELLS — split out
    * so the streaming twin ([[graft.streaming.StreamingEvents
    * .eventTypeEntropyView]]) reuses it verbatim: per-(entity, type)
    * counts are exact mergeable integers, so cells summed across
    * micro-batches feed the identical entropy finish. */
  private[graft] def eventTypeEntropyFromCells(counts: DataFrame,
      c: EventCols = EventCols()): DataFrame = {
    val D = "decimal(38,0)"
    val wk = Window.partitionBy(col(c.entity))
    val p = col("__c").cast("double") / col("__n").cast("double")
    val term = -(p * log(p))
    import graft.functions.q6
    counts
      .withColumn("__n", sum(col("__c")).over(wk))
      .withColumn("__t",
        floor(term * lit(1e12) + lit(0.5)).cast("long"))
      .groupBy(col(c.entity))
      .agg(first(col("__n")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("__t").cast(D)).as("__s"))
      .select(col(c.entity), col("n_events"), col("n_types"),
        q6(col("__s").cast("double") / lit(1e12)).as("entropy"),
        q6(when(col("n_types") > 1,
          (col("__s").cast("double") / lit(1e12)) /
            log(col("n_types").cast("double")))).as("norm_entropy"))
  }

}
