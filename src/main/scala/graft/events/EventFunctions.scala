package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

/** Column-name binding for an EAVT event table.
  * Reference model: `Event(entity, eventType, ts, value, properties)`
  * (reference: diamond/models/Event.scala:26-43). Defaults match the driver
  * `events` table (event_id, ts, user_id, event_type, value, props).
  */
case class EventCols(
    entity: String = "user_id",
    eventType: String = "event_type",
    ts: String = "ts",
    value: String = "value",
    id: String = "event_id")

/** Event / time-series analytics over a `DataFrame` of EAVT events.
  *
  * Re-expresses the reference's hand-rolled RDD operators
  * (reference: diamond/transform/eventFunctions.scala) as Spark window
  * functions and aggregations. Every operator here is fully distributed —
  * the reference's driver-side `collectAsMap`/`reduce` hotspots
  * (eventFunctions.scala:160-180) are deliberately NOT reproduced: at 100 TB
  * the per-entity state must stay on executors, and `Window.partitionBy
  * (entity)` shuffles each entity's events to one partition exactly once,
  * after which every per-entity pass (session ids, run collapsing, top-n,
  * anchors) is computed in that single shuffle's output without further
  * exchanges.
  */
object EventFunctions {

  private def chron(c: EventCols) = Seq(col(c.ts), col(c.id))

  /** A3: count of events of `attribute` in [start, end] per entity
    * (reference: eventFunctions.scala:28-35). */
  def count(events: DataFrame, attribute: String, start: String, end: String,
      c: EventCols = EventCols()): DataFrame =
    events
      .filter(col(c.eventType) === attribute &&
        graft.functions.tsBetween(col(c.ts), start, end))
      .groupBy(col(c.entity))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** A4: distinct-value count in interval (reference: eventFunctions.scala:37-46). */
  def countUnique(events: DataFrame, attribute: String, start: String,
      end: String, c: EventCols = EventCols()): DataFrame =
    events
      .filter(col(c.eventType) === attribute &&
        graft.functions.tsBetween(col(c.ts), start, end))
      .groupBy(col(c.entity))
      .agg(countDistinct(col(c.value)).as("n_unique"))

  /** A5: sum of event values in interval (reference: eventFunctions.scala:48-56). */
  def sumValues(events: DataFrame, attribute: String, start: String,
      end: String, c: EventCols = EventCols()): DataFrame =
    events
      .filter(col(c.eventType) === attribute &&
        graft.functions.tsBetween(col(c.ts), start, end))
      .groupBy(col(c.entity))
      .agg(round(sum(col(c.value)), 2).as("sum_value"))

  /** A11: days since each entity's latest event of `attribute` at or before
    * `asof` (reference: eventFunctions.scala:58-68). */
  def daysSinceLatest(events: DataFrame, attribute: String, asof: String,
      c: EventCols = EventCols()): DataFrame =
    events
      .filter(col(c.eventType) === attribute &&
        col(c.ts) <= lit(asof).cast("timestamp"))
      .groupBy(col(c.entity))
      .agg(datediff(lit(asof).cast("date"), max(col(c.ts)).cast("date"))
        .as("days_since"))

  /** W7 `current()`: latest record per (entity, eventType, ts) — event-level
    * dedup keeping the highest id as the "version"
    * (reference: eventFunctions.scala:304-308). */
  def current(events: DataFrame, c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity), col(c.eventType), col(c.ts))
      .orderBy(col(c.id).desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** W11 journey transition matrix (docs/customer_journey_mapping.md:
    * journeys as stage sequences): count (from_type → to_type) transitions
    * of consecutive events per entity, aggregated corpus-wide. The
    * building block of journey-pattern and Markov-chain analyses. One
    * entity-window pass + one small aggregate — the output is bounded by
    * |event types|², not by data size. */
  def transitionCounts(events: DataFrame,
      c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity)).orderBy(col(c.ts), col(c.id))
    events
      .withColumn("__from", lag(col(c.eventType), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"),
        col(c.eventType).as("to_type"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_transitions"))
  }

  /** W1 `sessionize(timeoutSec)`: per entity, order events by time and assign
    * session numbers, incrementing when the gap to the previous event exceeds
    * the timeout (reference: eventFunctions.scala:77-96, groupByKey+scanLeft).
    *
    * Spark-first: `lag` over an entity window → gap flag → running sum.
    * One shuffle on entity; everything else is a single sorted pass.
    */
  /** W20: MARKOV TRANSITION MATRIX over per-entity event sequences —
    * P(next event type | current event type) from consecutive-event
    * pairs under the (ts, event id) total order per entity (the id
    * tiebreak pins simultaneous events), plus the raw pair counts.
    * The first-order behavioral model product analytics reads
    * ("what follows an error?"); feed the matrix to a simulator or
    * anomaly scorer downstream. Counts are exact BIGINTs; the row
    * probability c/Σc is one division, quantized-6. One entity-keyed
    * lag window + one aggregate; output rows = |types|². */
  def transitionMatrix(events: DataFrame,
      c: EventCols = EventCols()): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(c.entity)).orderBy(col(c.ts), col(c.id))
    val pairs = events
      .withColumn("__next", lead(col(c.eventType), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(c.eventType).as("from_type"),
        col("__next").as("to_type"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_pairs"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    pairs
      .withColumn("__tot", sum(col("n_pairs")).over(wf))
      .select(col("from_type"), col("to_type"), col("n_pairs"),
        graft.functions.q6(col("n_pairs").cast("double") /
          col("__tot").cast("double")).as("p"))
  }

  def sessionize(events: DataFrame, timeoutSec: Long,
      c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity)).orderBy(chron(c): _*)
    events
      .withColumn("__prev_ts", lag(col(c.ts), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull ||
          unix_timestamp(col(c.ts)) - unix_timestamp(col("__prev_ts")) > timeoutSec, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("__new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev_ts", "__new_session")
  }

  /** Per-session rollup on top of [[sessionize]]: bounds, event count, value sum. */
  def sessionStats(events: DataFrame, timeoutSec: Long,
      c: EventCols = EventCols()): DataFrame =
    sessionize(events, timeoutSec, c)
      .groupBy(col(c.entity), col("session_id"))
      .agg(
        min(col(c.ts)).as("session_start"),
        max(col(c.ts)).as("session_end"),
        org.apache.spark.sql.functions.count(lit(1)).as("n_events"),
        round(sum(col(c.value)), 2).as("session_value"))

  /** W2 `previousInteractions(n, asof)`: last n events per entity at or before
    * `asof` (reference: eventFunctions.scala:105-111, MLlib topByKey). */
  def previousInteractions(events: DataFrame, n: Int, asof: String,
      c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity))
      .orderBy(col(c.ts).desc, col(c.id).desc)
    events.filter(col(c.ts) <= lit(asof).cast("timestamp"))
      .withColumn("recency", row_number().over(w))
      .filter(col("recency") <= n)
  }

  /** W8 `extractChords(eventType)`: each entity's latest event of the given
    * type — the per-entity "anchor" (reference: eventFunctions.scala:319-328).
    * Implemented as `max_by(struct, (ts,id))` — a single partial+final agg,
    * no window sort. */
  def extractChords(events: DataFrame, eventType: String,
      c: EventCols = EventCols()): DataFrame =
    events.filter(col(c.eventType) === eventType)
      .groupBy(col(c.entity))
      .agg(max(struct(col(c.ts), col(c.id))).as("__m"))
      .select(col(c.entity), col(s"__m.${c.ts}").as("anchor_ts"))

  /** W3 chord paths: for each entity anchored at its latest `eventType` event,
    * the last `n` events at or before that anchor
    * (reference: eventFunctions.scala:128-185 — per-partition heaps merged on
    * the driver; here a broadcast-able anchor join + window top-n, fully
    * distributed). */
  def previousInteractionsBefore(events: DataFrame, eventType: String, n: Int,
      c: EventCols = EventCols()): DataFrame = {
    val anchors = extractChords(events, eventType, c)
    val w = Window.partitionBy(col(c.entity))
      .orderBy(col(c.ts).desc, col(c.id).desc)
    events.join(anchors, c.entity)
      .filter(col(c.ts) <= col("anchor_ts"))
      .withColumn("recency", row_number().over(w))
      .filter(col("recency") <= n)
  }

  /** Collapse contiguous runs of the same eventType per entity into one row
    * carrying the run's last timestamp and its length — the building block of
    * W4 (reference: eventFunctions.scala:197-295's in-memory fold).
    * lag → change flag → running sum = run id → groupBy run. */
  def collapseRuns(events: DataFrame, c: EventCols = EventCols()): DataFrame = {
    val w = Window.partitionBy(col(c.entity)).orderBy(chron(c): _*)
    events
      .withColumn("__chg",
        when(lag(col(c.eventType), 1).over(w).isNull ||
          lag(col(c.eventType), 1).over(w) =!= col(c.eventType), 1).otherwise(0))
      .withColumn("__run",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(c.entity), col("__run"))
      .agg(
        first(col(c.eventType)).as(c.eventType),
        max(col(c.ts)).as("run_end_ts"),
        min(col(c.ts)).as("run_start_ts"),
        org.apache.spark.sql.functions.count(lit(1)).as("run_length"))
      .withColumnRenamed("__run", "run_id")
  }

  /** W4 `previousUniqueInteractions`: like W3 but over run-collapsed events —
    * the last `n` distinct-run events before each entity's anchor. */
  def previousUniqueInteractionsBefore(events: DataFrame, eventType: String,
      n: Int, c: EventCols = EventCols()): DataFrame = {
    val anchors = extractChords(events, eventType, c)
    val runs = collapseRuns(events, c)
    val w = Window.partitionBy(col(c.entity))
      .orderBy(col("run_end_ts").desc, col("run_id").desc)
    runs.join(anchors, c.entity)
      .filter(col("run_end_ts") <= col("anchor_ts"))
      .withColumn("recency", row_number().over(w))
      .filter(col("recency") <= n)
  }

  /** W9 `paths`: chronological comma-joined eventType sequence per entity
    * (reference: eventFunctions.scala:338-343). Deterministic: sorted by
    * (ts, id) inside the aggregate, no window needed. */
  def paths(events: DataFrame, c: EventCols = EventCols()): DataFrame =
    events
      .groupBy(col(c.entity))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(c.ts), col(c.id), col(c.eventType)))),
          x => x.getField(c.eventType)),
        ",").as("path"))

  /** W9 `uniquePaths`: like [[paths]] but over run-collapsed events
    * (reference: eventFunctions.scala:345-349). */
  def uniquePaths(events: DataFrame, c: EventCols = EventCols()): DataFrame =
    collapseRuns(events, c)
      .groupBy(col(c.entity))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("run_start_ts"), col("run_id"),
            col(c.eventType)))),
          x => x.getField(c.eventType)),
        ",").as("path"))

  /** W5 `snapshot(dt, features)`: per entity, the latest value of each
    * registered feature (eventType) as-of `dt`, pivoted to one column per
    * feature (reference: diamond/transform/PivotFunctions.scala:27-56 —
    * a groupByKey + in-memory pivot; here latest-per-(entity,type) via
    * `max_by` then `groupBy.pivot` with an explicit feature list, so the
    * pivot needs no extra pass to discover values). */
  def snapshot(events: DataFrame, dt: String, features: Seq[String],
      c: EventCols = EventCols()): DataFrame =
    events
      .filter(col(c.ts) <= lit(dt).cast("timestamp") &&
        col(c.eventType).isin(features: _*))
      .groupBy(col(c.entity))
      .pivot(c.eventType, features)
      .agg(max_by(col(c.value), struct(col(c.ts), col(c.id))))

  /** W6 `chord(attribute, features)`: like W5 but as-of each entity's own
    * latest `attribute` event time (the syncTime)
    * (reference: PivotFunctions.scala:63-97). */
  def chord(events: DataFrame, attribute: String, features: Seq[String],
      c: EventCols = EventCols()): DataFrame = {
    val anchors = extractChords(events, attribute, c)
    events.join(anchors, c.entity)
      .filter(col(c.ts) <= col("anchor_ts") && col(c.eventType).isin(features: _*))
      .groupBy(col(c.entity), col("anchor_ts"))
      .pivot(c.eventType, features)
      .agg(max_by(col(c.value), struct(col(c.ts), col(c.id))))
      .withColumnRenamed("anchor_ts", "sync_time")
  }

  /** W12: TIME-BOUNDED N-STEP FUNNEL — per entity, does an ordered
    * chain step₁ < step₂ < … < stepₙ of event types exist with the
    * WHOLE chain inside `windowSec` seconds, and when does it first
    * complete? The product-analytics conversion primitive ("view →
    * click → purchase within 24 h") that session-scoped funnels (W10)
    * can't express — a chain may span sessions, and a window bounds it
    * in TIME, not by gaps.
    *
    * Existence is decided by a LATEST-start chain sweep: for the k-th
    * step row, `start_k = max over preceding step_{k-1} rows of their
    * start_{k-1}` (step-1 rows start themselves). Each `start_k` is
    * monotone non-decreasing in event order, so the max over preceding
    * step rows is just the latest one — and maximizing the chain START
    * is optimal for a window anchored at the start, so a chain exists
    * within the window iff the sweep's final-step start satisfies
    * `ts − start ≤ windowSec`. One pass, N window expressions over ONE
    * entity-keyed sort — no per-step self-joins, no pair explosion.
    *
    * Rows: one per entity — n of final-step events, n converted (their
    * chain completed in-window), the first completion timestamp, and
    * the converted flag. Ordering ties (same ts) break by the id
    * column in both engines. */
  def timeBoundedFunnel(events: DataFrame, steps: Seq[String],
      windowSec: Long, c: EventCols = EventCols()): DataFrame = {
    require(steps.size >= 2, s"need >= 2 steps, got ${steps.size}")
    require(windowSec > 0, s"windowSec must be positive, got $windowSec")
    val w = Window.partitionBy(col(c.entity))
      .orderBy(col(c.ts), col(c.id))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tsSec = col(c.ts).cast("long")
    // start_k for the row IF it were a step-k event, built inductively
    // as real columns (window expressions can't nest); all N windows
    // share one (entity, ts, id) sort
    var chain = events.withColumn("__s1",
      when(col(c.eventType) === steps.head, tsSec))
    for ((step, k) <- steps.tail.zipWithIndex) {
      chain = chain.withColumn(s"__s${k + 2}",
        when(col(c.eventType) === step,
          max(col(s"__s${k + 1}")).over(w)))
    }
    val last = chain
      .withColumn("__start", col(s"__s${steps.size}"))
      .filter(col(c.eventType) === steps.last)
      .withColumn("__conv",
        col("__start").isNotNull &&
          tsSec - col("__start") <= windowSec)
    last.groupBy(col(c.entity))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_final"),
        sum(when(col("__conv"), 1L).otherwise(0L)).as("n_converted"),
        min(when(col("__conv"), col(c.ts))).as("first_conversion_ts"))
      .withColumn("converted", col("n_converted") > 0)
  }

  /** W19: FUNNEL STEP TIMING — per converted 3-step chain, the
    * seconds spent in EACH leg (step1 → step2, step2 → step3), not
    * just the conversion count: "users convert, but the click →
    * purchase leg takes p90 40 minutes" is the actionable funnel
    * finding W12's counts can't show.
    *
    * Same latest-start sweep as [[timeBoundedFunnel]], with the chain
    * STATE carried as one packed BIGINT `s1·2³² + t2` (epoch seconds
    * < 2³¹ each, so the pack fits a signed 64-bit and lexicographic
    * order = numeric order): `max` of the packed state over the
    * entity window picks the latest-s1 chain (ties → latest t2 — a
    * deterministic refinement, mirrored by the oracle), and the final
    * step decodes both timestamps back with div/mod. All N windows
    * share one (entity, ts, id) sort; exact integer seconds
    * throughout, no floats.
    *
    * Output: one row per CONVERTED final-step event — (entity, id,
    * step1_ts_sec, step2_ts_sec, step3_ts_sec, leg1_sec, leg2_sec,
    * total_sec). */
  def funnelStepTiming(events: DataFrame, step1: String, step2: String,
      step3: String, windowSec: Long,
      c: EventCols = EventCols()): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive, got $windowSec")
    require(Seq(step1, step2, step3).distinct.size == 3,
      "funnelStepTiming: steps must be distinct")
    val w = Window.partitionBy(col(c.entity))
      .orderBy(col(c.ts), col(c.id))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tsSec = unix_timestamp(col(c.ts))
    val pack = lit(4294967296L)
    val chained = events
      .withColumn("__p1", when(col(c.eventType) === step1, tsSec))
      .withColumn("__p2", when(col(c.eventType) === step2,
        max(col("__p1")).over(w) * pack + tsSec))
      .withColumn("__p3", when(col(c.eventType) === step3,
        max(col("__p2")).over(w)))
      .filter(col(c.eventType) === step3 && col("__p3").isNotNull)
      .select(col(c.entity), col(c.id),
        // integral div/mod: the pack exceeds double's exact range, so
        // `/` (double division) would corrupt the decoded seconds
        expr("__p3 DIV 4294967296").as("step1_ts_sec"),
        pmod(col("__p3"), pack).as("step2_ts_sec"),
        tsSec.as("step3_ts_sec"))
    chained
      .filter(col("step3_ts_sec") - col("step1_ts_sec") <= windowSec)
      .select(col(c.entity), col(c.id), col("step1_ts_sec"),
        col("step2_ts_sec"), col("step3_ts_sec"),
        (col("step2_ts_sec") - col("step1_ts_sec")).as("leg1_sec"),
        (col("step3_ts_sec") - col("step2_ts_sec")).as("leg2_sec"),
        (col("step3_ts_sec") - col("step1_ts_sec")).as("total_sec"))
  }

  /** W15: 3-ITEM SEQUENTIAL patterns — "sessions that do A, then B,
    * then C" (the GSP/PrefixSpan length-3 step [[sequentialRules]]'s
    * min/max trick cannot decide: the middle element must fall
    * strictly BETWEEN the ends). A session supports a→b→c iff the
    * EARLIEST b after its first a precedes some c:
    * `min{t_b : t_b > min(a)} < max(c)` — greedily taking the first a
    * and earliest following b is optimal for existence (any witness
    * can be left-shifted onto them), so one conditional-min aggregate
    * replaces a three-way event join.
    *
    * Shape: b-candidates = each session's events joined to its
    * |types|-sized per-type min table (×|types| fan-out of the event
    * stream, never event×event), aggregated back to |types|² rows per
    * session before the final |types|³-bounded C-join. Exact counts.
    * Output: (first, second, third, support) for distinct type
    * triples with support ≥ `minSupport`. */
  def sequentialTriples(events: DataFrame, timeoutSec: Long,
      minSupport: Long = 1L, c: EventCols = EventCols()): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val sess = graft.util.Caches.persistTracked(
      sessionize(events, timeoutSec, c)
        .select(col(c.entity).as("__e"), col("session_id").as("__s"),
          col(c.eventType).as("__t"), col(c.ts).as("__ts")))
    val st = graft.util.Caches.persistTracked(
      sess.groupBy(col("__e"), col("__s"), col("__t"))
        .agg(min(col("__ts")).as("__min"), max(col("__ts")).as("__max")))
    // earliest B strictly after the first A, per (session, A, B), A != B
    val firstAfter = sess.as("b")
      .join(st.as("a"),
        col("b.__e") === col("a.__e") && col("b.__s") === col("a.__s") &&
          col("b.__t") =!= col("a.__t") && col("b.__ts") > col("a.__min"))
      .groupBy(col("a.__e").as("__e"), col("a.__s").as("__s"),
        col("a.__t").as("first"), col("b.__t").as("second"))
      .agg(min(col("b.__ts")).as("__mab"))
    firstAfter.as("fa")
      .join(st.as("cc"),
        col("cc.__e") === col("fa.__e") && col("cc.__s") === col("fa.__s") &&
          col("cc.__t") =!= col("fa.first") &&
          col("cc.__t") =!= col("fa.second") &&
          col("fa.__mab") < col("cc.__max"))
      .groupBy(col("fa.first").as("first"), col("fa.second").as("second"),
        col("cc.__t").as("third"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** W14: SEQUENTIAL association rules — "sessions that do A later do B"
    * with direction (the ordered counterpart of X92's market-basket
    * rules; 2-item sequential patterns à la GSP/PrefixSpan, public
    * knowledge). A session supports a → b iff SOME a-event strictly
    * precedes SOME b-event (a ≠ b): equivalently
    * `min_ts(a) < max_ts(b)` — so the whole pattern check needs only
    * the per-(session, type) min/max aggregate, never an event-level
    * self-join. Support / confidence / lift over session counts:
    * `conf = n(a→b)/n(a)`, `lift = conf / (n(b)/n_sessions)`.
    *
    * At 100 TB: sessionize is one entity-keyed window; the aggregate
    * collapses events to ≤ |types| rows per session BEFORE the pair
    * join, so the self-join is |types|²-bounded per session — with a
    * 5-type event taxonomy that is ≤ 20 ordered pairs per session
    * regardless of session length. Counts are exact; the two divisions
    * are the only doubles. */
  def sequentialRules(events: DataFrame, timeoutSec: Long,
      minSupport: Long = 1L, c: EventCols = EventCols()): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val st = graft.util.Caches.persistTracked(
      sessionize(events, timeoutSec, c)
        .groupBy(col(c.entity), col("session_id"), col(c.eventType))
        .agg(min(col(c.ts)).as("__min_ts"), max(col(c.ts)).as("__max_ts")))
    rulesFromSessionTypeStats(st, minSupport, c)
  }

  /** W17: CONVERSION TOUCH ATTRIBUTION — first-touch and last-touch
    * credit for each conversion event: which touch type (view, click,
    * email, …) within the `windowSec` lookback strictly before the
    * conversion gets the credit, per the two classic single-touch
    * models. Conversions with no in-window touch attribute to
    * `(none)` — dropped conversions would silently understate
    * organic volume.
    *
    * Shape: no conversion×touch join. [[touchPicks]] walks each
    * entity's events once with the [[SlidingFrame]] kernel over unix
    * seconds, frame `[s - windowSec, s - 1]` (strictly-earlier-second
    * semantics, mirrored by the oracle): the first and last touch of a
    * conversion are the head and tail of the frame's touch queue under
    * the (ts, id, type) order. Cost: one exchange keyed on the entity,
    * an O(n log n) sort within partitions and an O(n) pass. Value sums
    * are DECIMAL-exact (E16 discipline). Output: (model, touch_type,
    * n_conversions, attributed_value round-2) for model ∈ {first, last}. */
  def touchAttribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], windowSec: Long,
      c: EventCols = EventCols()): DataFrame = {
    val conv = graft.util.Caches.persistTracked(
      touchPicks(events, conversionType, touchTypes, windowSec, c)
        .select(
          col(c.value).cast("decimal(18,2)").as("__v"),
          coalesce(col("__ft"), lit("(none)")).as("__ft"),
          coalesce(col("__lt"), lit("(none)")).as("__lt")))
    def model(m: String, t: Column) = conv
      .groupBy(t.as("touch_type"))
      .agg(org.apache.spark.sql.functions.count(lit(1))
        .as("n_conversions"),
        sum(col("__v")).as("__av"))
      .select(lit(m).as("model"), col("touch_type"),
        col("n_conversions"),
        round(coalesce(col("__av").cast("double"), lit(0.0)), 2)
          .as("attributed_value"))
    model("first", col("__ft")).unionByName(model("last", col("__lt")))
  }

  /** W17's per-conversion stage: one row per conversion event — its
    * entity, ts, id, type and value, then the first (`__ft`) and last
    * (`__lt`) touch type in its frame, null when it has no touch. */
  private[graft] def touchPicks(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], windowSec: Long,
      c: EventCols = EventCols()): DataFrame = {
    require(windowSec >= 1, s"windowSec must be >= 1, got $windowSec")
    require(touchTypes.nonEmpty, "touchAttribution: no touch types")
    require(!touchTypes.contains(conversionType),
      "touchAttribution: the conversion type cannot also be a touch")
    val touches = touchTypes.toSet
    val in = events.select(col(c.entity), col(c.ts), col(c.id),
      col(c.eventType), col(c.value))
    val tIx = in.schema.fieldIndex(c.eventType)
    val picks = Seq("__ft", "__lt").map(StructField(_, StringType))
    SlidingFrame.run(in, c.entity, unix_timestamp(col(c.ts)),
        Seq(col(c.ts), col(c.id), col(c.eventType)),
        windowSec, inclusive = false, picks)(
        () => new SlidingFrame.Touches(tIx, conversionType, touches))
  }

  /** W16: session LANDING → EXIT report — where sessions start, where
    * they end, and how often they bounce: per session the first event
    * type (landing) and last event type (exit) under the (ts, id)
    * total order, aggregated to one row per (landing, exit) pair with
    * session/bounce counts and the landing pair's share of all
    * sessions. The classic web-analytics entry/exit matrix, and the
    * first diagnostic for "which entry points lose users immediately"
    * (bounce = single-event session, so landing = exit by
    * construction).
    *
    * Scale: sessionize's entity window, then ONE session-keyed
    * `min_by`/`max_by` aggregate (no second window), then a
    * |types|²-bounded aggregate + a broadcast 1-row total. Counts
    * exact; `share` is one correctly-rounded division — bit-identical
    * cross-engine, no rounding. */
  def landingExitReport(events: DataFrame, timeoutSec: Long,
      c: EventCols = EventCols()): DataFrame =
    landingExitFromSessions(sessionize(events, timeoutSec, c)
      .groupBy(col(c.entity), col("session_id"))
      .agg(
        min_by(col(c.eventType), struct(col(c.ts), col(c.id)))
          .as("__landing"),
        max_by(col(c.eventType), struct(col(c.ts), col(c.id)))
          .as("__exit"),
        org.apache.spark.sql.functions.count(lit(1)).as("__ne")))

  /** The W16 report kernel over an already-built per-session
    * (__landing, __exit, __ne) table — shared verbatim by
    * [[landingExitReport]] and the streaming session-fragment view
    * ([[graft.streaming.StreamingEvents.landingExitView]]), which is
    * what makes the streaming monitor's batch-parity exact. */
  private[graft] def landingExitFromSessions(per: DataFrame)
      : DataFrame = {
    val perC = graft.util.Caches.persistTracked(per)
    val total = perC.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("__tot"))
    perC
      .groupBy(col("__landing").as("landing"), col("__exit").as("exit"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_sessions"),
        sum(when(col("__ne") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("__ne")).as("n_events"))
      .crossJoin(broadcast(total))
      .select(col("landing"), col("exit"), col("n_sessions"),
        col("n_bounces"), col("n_events"),
        (col("n_sessions").cast("double") / col("__tot").cast("double"))
          .as("share"))
  }

  /** The W14 rule kernel over an already-built per-(entity, session,
    * type) ts-min/max table — shared verbatim by [[sequentialRules]]
    * and the streaming session-fragment view
    * ([[graft.streaming.StreamingEvents.sequentialRulesView]]), which
    * is what makes the streaming monitor's batch-parity exact. `st`
    * must carry (entity, session_id, type, __min_ts, __max_ts) and be
    * persisted by the caller (it feeds three aggregates). */
  private[graft] def rulesFromSessionTypeStats(st: DataFrame,
      minSupport: Long, c: EventCols): DataFrame = {
    val nSessions = st.select(col(c.entity), col("session_id")).distinct()
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n_sess"))
    val typeCounts = st.groupBy(col(c.eventType).as("__t"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n_t"))
    val pairs = st.as("a").join(st.as("b"),
        col(s"a.${c.entity}") === col(s"b.${c.entity}") &&
          col("a.session_id") === col("b.session_id") &&
          col(s"a.${c.eventType}") =!= col(s"b.${c.eventType}") &&
          col("a.__min_ts") < col("b.__max_ts"))
      .groupBy(col(s"a.${c.eventType}").as("antecedent"),
        col(s"b.${c.eventType}").as("consequent"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(broadcast(typeCounts.withColumnRenamed("__t", "antecedent")
        .withColumnRenamed("__n_t", "__n_a")), "antecedent")
      .join(broadcast(typeCounts.withColumnRenamed("__t", "consequent")
        .withColumnRenamed("__n_t", "__n_b")), "consequent")
      .crossJoin(broadcast(nSessions))
      .select(col("antecedent"), col("consequent"), col("support"),
        (col("support").cast("double") / col("__n_a")).as("confidence"),
        (col("support").cast("double") / col("__n_a") /
          (col("__n_b").cast("double") / col("__n_sess"))).as("lift"))
  }
}
