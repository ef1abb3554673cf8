package graft.queries

import graft.Tables.t
import graft.events.{EventFeatures, EventFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event / time-series operator coverage (SURVEY.md §2.4 A3–A5/A11 and §2.5
  * W1–W9) over the driver `events` table, each with a DuckDB window-function
  * oracle. See RelationalQueries for the cross-engine conventions.
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  private val features = Seq("click", "error", "purchase", "signup", "view")
  private val Asof  = "2024-01-20 00:00:00"
  private val Start = "2024-01-05 00:00:00"
  private val Mid   = "2024-01-15 00:00:00"

  val queries: Map[String, Q] = Map(
    // J13: row-wise AS-OF join — each purchase picks up the latest view
    // value at or before its own timestamp, per user (the
    // point-in-time-correct feature lookup). Right side pre-aggregated
    // to one row per (user, ts), the operator's uniqueness contract.
    // Oracle: DuckDB's NATIVE ASOF LEFT JOIN.
    "q_j13_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val leftSide = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val rightSide = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(round(max(col("value")), 2).as("last_view_value"))
      graft.relational.Joins.asOfJoin(leftSide, rightSide,
        Seq("user_id"), "ts", "ts")
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },

    // F24: point-in-time training set — each purchase label picks up
    // the latest view and click feature rows at or before its own ts
    // (7-day staleness horizon voids older features); leakage-free by
    // construction, per-table prefixed columns.
    "q_f24_pt_training_set" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val labels = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(round(max(col("value")), 2).as("v"),
          count(lit(1)).as("n"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(count(lit(1)).as("n"))
      graft.relational.Joins.pointInTimeTrainingSet(labels,
        Seq("view" -> views, "click" -> clicks), Seq("user_id"),
        "ts", "ts", toleranceSec = Some(7L * 86400))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },

    // E10: per-event trailing rolling features (1-day window) over
    // purchases — the leakage-safe velocity-feature shape.
    "q_e10_trailing_window" -> { (s, dir) =>
      EventFeatures.trailingWindow(
        t(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        windowSec = 86400L)
        .select(col("user_id"), col("event_id"), col("n_trailing"),
          col("sum_trailing"), col("max_trailing"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // E23: cohort LTV curves — cumulative per-user value by cohort
    // age week; DECIMAL sums + decimal cumulative window, fixed
    // cohort-size denominator.
    "q_e23_ltv_curves" -> { (s, dir) =>
      graft.events.EventFeatures.ltvCurves(t(s, dir, "events"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // W18: weekly growth accounting — new/retained/resurrected per
    // active week plus churn counted at the week users went missing.
    "q_w18_growth_accounting" -> { (s, dir) =>
      graft.events.EventFeatures.growthAccounting(t(s, dir, "events"))
        .orderBy(col("week"))
    },

    // E11: weekly cohort retention matrix — users grouped by
    // first-activity week, counted in every week they return.
    "q_e11_cohort_retention" -> { (s, dir) =>
      EventFeatures.cohortRetention(t(s, dir, "events"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // E12: RFM quintile scoring as of 2024-02-01 — exact decimal
    // monetary sums so quintile boundaries can't flip cross-engine.
    "q_e12_rfm" -> { (s, dir) =>
      EventFeatures.rfmScores(t(s, dir, "events"), "2024-02-01")
        .orderBy(col("user_id"))
    },

    // W19: funnel step timing — per converted view -> click ->
    // purchase chain inside 24h, exact integer leg durations via the
    // packed latest-start sweep.
    "q_w19_funnel_timing" -> { (s, dir) =>
      graft.events.EventFunctions.funnelStepTiming(
        t(s, dir, "events"), "view", "click", "purchase", 86400)
        .orderBy(col("user_id"), col("event_id"))
    },

    // W12: time-bounded 3-step funnel — view -> click -> purchase with
    // the whole chain inside 24h, latest-start sweep semantics.
    "q_w12_time_funnel" -> { (s, dir) =>
      EventFunctions.timeBoundedFunnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"), windowSec = 86400L)
        .orderBy(col("user_id"))
    },

    // E14: per-user daily calendar-spine resample of purchase value with
    // forward fill — the segment-explode form (lead + sequence), no
    // spine join, no ignoreNulls scan.
    "q_e14_resample_ffill" -> { (s, dir) =>
      graft.events.Resample.dailyResampleFfill(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .withColumn("value", round(col("value"), 2))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("user_id"), col("day"))
    },

    // E17: day-of-week seasonality strength of daily purchase value —
    // 1 - SSE/SST of the weekday-mean model, exact moment sums.
    "q_e17_dow_seasonality" -> { (s, dir) =>
      graft.events.Resample.dowSeasonalityStrength(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .orderBy(col("user_id"))
    },

    // E25: activation survival — days from each user's FIRST touch to
    // their FIRST purchase, censored at 2024-02-01 for non-converters;
    // the E19 Kaplan-Meier kernel over one span per user.
    "q_e25_activation" -> { (s, dir) =>
      graft.events.Resample.activationSurvival(t(s, dir, "events"),
        "purchase", "2024-02-01")
        .orderBy(col("duration_days"))
    },

    // E19: Kaplan-Meier survival of inter-purchase gaps with proper
    // censoring of each user's final open span at 2024-02-01.
    "q_e19_survival" -> { (s, dir) =>
      graft.events.Resample.kaplanMeier(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), "2024-02-01")
        .orderBy(col("duration_days"))
    },

    // E35: trend/seasonal strengths of per-user purchase series — the
    // tsfeatures triage over the raw E18 components.
    "q_e35_ts_strengths" -> { (s, dir) =>
      graft.events.Resample.tsFeatureStrengths(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .orderBy(col("user_id"))
    },

    // W20: Markov transition matrix over per-user event sequences —
    // P(next type | current type) with exact pair counts.
    "q_w20_markov" -> { (s, dir) =>
      graft.events.EventFunctions.transitionMatrix(
        t(s, dir, "events").filter(col("user_id").isNotNull))
        .orderBy(col("from_type"), col("to_type"))
    },

    // E33: Nelson-Aalen cumulative hazard of inter-purchase gaps —
    // the additive companion of q_e19's KM curve, same censoring.
    "q_e33_nelson_aalen" -> { (s, dir) =>
      graft.events.Resample.nelsonAalen(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), "2024-02-01")
        .orderBy(col("duration_days"))
    },

    // F50: log-rank test — do even and odd users activate (first
    // purchase) at the same rate? Floor-scaled E/V term sums, A&S p.
    "q_f50_logrank" -> { (s, dir) =>
      graft.events.Resample.activationLogRank(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        pmod(col("user_id"), lit(2)), "purchase", "2024-02-01")
    },

    // E18: classical additive decomposition of daily purchase value —
    // centered MA-7 trend, per-weekday seasonal of the detrended
    // series, remainder (the anomaly signal).
    "q_e18_stl_decompose" -> { (s, dir) =>
      graft.events.Resample.stlDecompose(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("user_id"), col("day"))
    },

    // E16: per-user CUSUM changepoint over daily purchase value — the
    // max-|S| day flagged, argmax on ROUND-6 |S| with day tiebreak.
    "q_e16_cusum" -> { (s, dir) =>
      graft.events.Resample.cusumChangepoint(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("user_id"), col("day"))
    },

    // E36: Pettitt rank changepoint per user over the same purchase
    // dailies — exact doubled-rank U_t integers, earliest-day ties,
    // one pinned exp for p.
    "q_e36_pettitt" -> { (s, dir) =>
      graft.events.Resample.pettittChangepoint(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .orderBy(col("user_id"))
    },

    // E37: Mann–Kendall trend test per user over purchase dailies —
    // the is-there-a-trend verdict pairing F55's Theil–Sen slope;
    // exact integer S + tie spectrum, entity-keyed day<day pair join
    // (calendar-bounded per entity), continuity-corrected z.
    "q_e37_mann_kendall" -> { (s, dir) =>
      graft.events.Resample.mannKendall(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .orderBy(col("user_id"))
    },

    // E39: seasonal (Hirsch-Slack) Mann-Kendall over the same series —
    // MK pairs within day-of-week seasons (like compares with like),
    // per-season S and variance numerators summed exactly per user.
    "q_e39_seasonal_mann_kendall" -> { (s, dir) =>
      graft.events.Resample.seasonalMannKendall(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .orderBy(col("user_id"))
    },

    // E40: the Hirsch-Slack seasonal slope — HOW BIG the trend E39
    // judges: median of within-season pairwise day slopes per user.
    "q_e40_seasonal_theil_sen" -> { (s, dir) =>
      graft.events.Resample.seasonalTheilSen(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .orderBy(col("user_id"))
    },

    // W21: time-weighted average value per user over a mid-month
    // window — the LOCF integral: each value weighted by how long it
    // held, the carried-in value counted from the window start.
    "q_w21_time_weighted_avg" -> { (s, dir) =>
      graft.events.EventFeatures.timeWeightedAverage(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"),
        "2024-01-10 00:00:00", "2024-01-25 00:00:00")
        .orderBy(col("user_id"))
    },

    // W22: event-type entropy per user — behavioral diversity:
    // −Σ p·ln p over the user's event-type mix (0 = single-purpose,
    // ln k = uniform); per-type terms floor-scaled to 1e12 LONGs so
    // the sum is order-free, one division out, q6; normalized by
    // ln(n_types).
    "q_w22_event_type_entropy" -> { (s, dir) =>
      graft.events.EventFeatures.eventTypeEntropy(t(s, dir, "events"))
        .orderBy(col("user_id"))
    },

    // E42: Wald-Wolfowitz runs test per user — does the daily series
    // cluster around its median (z < 0) or alternate too regularly
    // (z > 0)? The randomness diagnostic MK/Pettitt can't give.
    "q_e42_runs_test" -> { (s, dir) =>
      graft.events.Resample.runsTest(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .orderBy(col("user_id"))
    },

    // E43: autocorrelation spectrum (lags 1..5) of each user's daily
    // purchase-value series — at which horizon does the series
    // remember? Micro-integer centered moments (c = n·x − S exact in
    // DECIMAL(38,0)), one pinned division per lag, q6.
    "q_e43_autocorrelation" -> { (s, dir) =>
      graft.events.Resample.seriesAutocorrelation(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"), maxLag = 5)
        .orderBy(col("user_id"), col("lag"))
    },

    // E41: sigma-clipped anomalous days per event type — iterative
    // 1.5-sigma clipping with re-fit moments (2 rounds): the point
    // anomalies the changepoint family doesn't flag.
    "q_e41_anomalous_days" -> { (s, dir) =>
      graft.events.Resample.anomalousDays(
        t(s, dir, "events").filter(col("value").isNotNull),
        "event_type", col("ts"), col("value"), nSigma = 1.5,
        maxIter = 2)
    },

    // E38: Page-Hinkley sequential drift per event type over daily
    // value sums — "when would an online monitor have fired": micro-
    // integer running-mean recursion (truncating div), λ=2500 splits
    // the five series (click/error/signup alarm; purchase/view don't).
    "q_e38_page_hinkley" -> { (s, dir) =>
      graft.events.Resample.pageHinkley(
        t(s, dir, "events"), "event_type", col("ts"), col("value"),
        delta = 0.0, lambda = 2500.0)
        .orderBy(col("event_type"))
    },

    // F72: purged k-fold time-series CV with embargo — 4 contiguous
    // blocks tiling the event span; 2-day label-horizon purge before
    // each test block, 2-day embargo after; per-fold role counts +
    // test-block boundary dates.
    "q_f72_purged_folds" -> { (s, dir) =>
      graft.ml.Eval.purgedTimeSeriesFolds(t(s, dir, "events"),
        col("event_id"), col("ts"), folds = 4, horizonDays = 2,
        embargoDays = 2)
        .groupBy(col("fold"))
        .agg(
          sum(when(col("role") === "train", 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("role") === "test", 1L).otherwise(0L))
            .as("n_test"),
          sum(when(col("role") === "purged", 1L).otherwise(0L))
            .as("n_purged"),
          sum(when(col("role") === "embargo", 1L).otherwise(0L))
            .as("n_embargo"),
          date_format(min(when(col("role") === "test", col("day"))),
            "yyyy-MM-dd").as("test_start"),
          date_format(max(when(col("role") === "test", col("day"))),
            "yyyy-MM-dd").as("test_end"))
        .orderBy(col("fold"))
    },

    // E32: rolling-origin backtest manifest — 3 folds x 7-day test
    // horizons tiling the end of the event span; per-fold counts and
    // boundary dates.
    "q_e32_backtest_folds" -> { (s, dir) =>
      graft.ml.Eval.rollingOriginFolds(t(s, dir, "events"),
        col("event_id"), col("ts"), folds = 3, horizonDays = 7)
        .groupBy(col("fold"))
        .agg(
          sum(when(col("role") === "train", 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("role") === "test", 1L).otherwise(0L))
            .as("n_test"),
          date_format(max(when(col("role") === "train", col("day"))),
            "yyyy-MM-dd").as("train_end"),
          date_format(min(when(col("role") === "test", col("day"))),
            "yyyy-MM-dd").as("test_start"),
          date_format(max(when(col("role") === "test", col("day"))),
            "yyyy-MM-dd").as("test_end"))
        .orderBy(col("fold"))
    },

    // E31: forecast-eval suite per event type — MAE/RMSE/sMAPE/MASE
    // of the lag-7 seasonal-naive forecast, MASE scaled by the lag-1
    // naive MAE (Hyndman-Koehler).
    "q_e31_forecast_eval" -> { (s, dir) =>
      graft.events.Resample.forecastEval(t(s, dir, "events"),
        "event_type", col("ts"), col("value"), season = 7)
        .orderBy(col("event_type"))
    },

    // E29: Goh–Barabási burstiness of inter-purchase gaps — exact
    // integer moment sums, one sqrt; <2 gaps -> NULL B.
    "q_e29_burstiness" -> { (s, dir) =>
      graft.events.EventFeatures.burstiness(t(s, dir, "events"),
        "purchase")
        .orderBy(col("user_id"))
    },

    // E28: seasonal-naive forecast band — same-weekday trailing-4-week
    // mean as the expected value, D12 MAD band over residuals; the
    // weekly-rhythm-aware volume monitor.
    "q_e28_seasonal_band" -> { (s, dir) =>
      graft.events.Resample.seasonalNaiveAnomaly(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"), trailingWeeks = 4, k = 3.0)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("user_id"), col("day"))
    },

    // E20: autocorrelation of daily purchase value per user at
    // calendar lags 1..7 — decimal-exact pair/series moments, fixed
    // IEEE ratio, flat series NULL.
    "q_e20_acf" -> { (s, dir) =>
      graft.events.Resample.autocorrelation(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"), maxLag = 7)
        .orderBy(col("user_id"), col("lag"))
    },

    // E22: inter-event gap quantiles per event type — consecutive
    // same-(user, type) deltas in truncated epoch seconds, X111
    // integer-rank type-1 quantiles.
    "q_e22_gap_quantiles" -> { (s, dir) =>
      graft.events.EventFeatures.gapQuantiles(t(s, dir, "events"))
        .orderBy(col("event_type"), col("quantile"))
    },

    // W17: first/last-touch conversion attribution — view/click within
    // 24h strictly before each purchase (same-second excluded); one
    // sliding-frame pass (O(n log n) sort + O(n) walk) picks both
    // touches, unattributed -> '(none)'.
    "q_w17_attribution" -> { (s, dir) =>
      graft.events.EventFunctions.touchAttribution(
        t(s, dir, "events"), "purchase", Seq("view", "click"), 86400)
        .orderBy(col("model"), col("touch_type"))
    },

    // W16: session landing -> exit matrix over 1h sessions — first and
    // last event type per session under the (ts, id) order, bounce =
    // single-event session, share of all sessions.
    "q_w16_landing_exit" -> { (s, dir) =>
      graft.events.EventFunctions.landingExitReport(
        t(s, dir, "events"), 3600)
        .orderBy(col("landing"), col("exit"))
    },

    // E15: trailing 14-day EWMA (alpha 0.3) of daily purchase value —
    // contribution-explosion closed form, weights renormalized over
    // observed lags.
    "q_e15_ewma" -> { (s, dir) =>
      // the published ewma quantizes-6 in the WRAPPER (operator stays
      // full-precision): both engines sum the 14 pow-weighted terms in
      // their own order, so the raw double carries last-ulp drift —
      // green on today's driver DuckDB, red on the next (the f42
      // class); the quantizer absorbs it
      graft.events.Resample.ewmaDaily(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", col("ts"), col("value"))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .withColumn("ewma", graft.functions.q6(col("ewma")))
        .orderBy(col("user_id"), col("day"))
    },

    // W15: 3-item sequential patterns over 1h sessions — a-then-b-
    // then-c via the earliest-B-after-first-A composition.
    "q_w15_sequential_triples" -> { (s, dir) =>
      EventFunctions.sequentialTriples(t(s, dir, "events"), 3600,
        minSupport = 2)
        .orderBy(col("first"), col("second"), col("third"))
    },

    // W14: sequential association rules over 1h sessions — session
    // supports a -> b iff some a strictly precedes some b; the pattern
    // check needs only per-(session, type) min/max.
    "q_w14_sequential_rules" -> { (s, dir) =>
      EventFunctions.sequentialRules(t(s, dir, "events"), 3600)
        .orderBy(col("antecedent"), col("consequent"))
    },

    // E13: rolling DAU/WAU/stickiness with a 7-day trailing window —
    // contribution-explosion form, exact counts, one division.
    "q_e13_stickiness" -> { (s, dir) =>
      EventFeatures.rollingActiveUsers(t(s, dir, "events"), 7)
        .orderBy(col("day"))
    },

    // A3/A4/A5: interval count / distinct / sum per entity.
    "q_a3_event_interval_agg" -> { (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type") === "purchase" &&
          col("ts").between(lit(Start).cast("timestamp"), lit(Asof).cast("timestamp")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("value")).as("n_unique"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"))
    },

    // A11: days since each entity's latest 'purchase' as-of a date.
    "q_a11_days_since_latest" -> { (s, dir) =>
      EventFunctions.daysSinceLatest(t(s, dir, "events"), "purchase", Asof)
        .withColumn("days_since", col("days_since").cast("long"))
        .orderBy(col("user_id"))
    },

    // W1: sessionization (1h gap) rolled up to per-session stats.
    "q_w1_sessionize" -> { (s, dir) =>
      EventFunctions.sessionStats(t(s, dir, "events"), 3600)
        .orderBy(col("user_id"), col("session_id"))
    },

    // W2: last-3 interactions per entity as-of a date.
    "q_w2_prev_interactions" -> { (s, dir) =>
      EventFunctions.previousInteractions(t(s, dir, "events"), 3, Asof)
        .select(col("user_id"), col("recency").cast("long").as("recency"),
          col("event_id"), col("event_type"))
        .orderBy(col("user_id"), col("recency"))
    },

    // W3+W9: last-5 events before each entity's latest 'purchase' anchor,
    // stringified chronologically.
    "q_w3_chord_paths" -> { (s, dir) =>
      EventFunctions.previousInteractionsBefore(t(s, dir, "events"), "purchase", 5)
        .groupBy(col("user_id"), col("anchor_ts"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), ",").as("path"))
        .orderBy(col("user_id"))
    },

    // W4: unique (run-collapsed) paths per entity over a bounded window.
    "q_w4_unique_paths" -> { (s, dir) =>
      EventFunctions.uniquePaths(
        t(s, dir, "events").filter(col("ts") <= lit(Mid).cast("timestamp")))
        .orderBy(col("user_id"))
    },

    // W5: snapshot pivot — latest value per registered feature as-of a date.
    "q_w5_snapshot_pivot" -> { (s, dir) =>
      EventFunctions.snapshot(t(s, dir, "events"), Mid, features)
        .orderBy(col("user_id"))
    },

    // W6: chord pivot — as-of each entity's own latest 'purchase' time.
    "q_w6_chord_pivot" -> { (s, dir) =>
      EventFunctions.chord(t(s, dir, "events"), "purchase", features)
        .orderBy(col("user_id"))
    },

    // W7: event-level dedup, latest id per (entity, type, ts).
    "q_w7_current_dedup" -> { (s, dir) =>
      EventFunctions.current(t(s, dir, "events"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },

    // W8: chord anchors — latest 'signup' per entity.
    "q_w8_chords" -> { (s, dir) =>
      EventFunctions.extractChords(t(s, dir, "events"), "signup")
        .orderBy(col("user_id"))
    },

    // W9: full chronological event-type path per entity (bounded range).
    "q_w9_paths" -> { (s, dir) =>
      EventFunctions.paths(
        t(s, dir, "events").filter(col("ts") <= lit(Start).cast("timestamp")))
        .orderBy(col("user_id"))
    },

    // W10: sessionized funnel — per entity, how many 1h-gap sessions
    // contain a view, and how many of those also convert to a purchase.
    // W11: corpus-wide journey transition matrix (consecutive event-type
    // pairs per entity).
    "q_w11_transition_matrix" -> { (s, dir) =>
      EventFunctions.transitionCounts(t(s, dir, "events"))
        .orderBy(col("from_type"), col("to_type"))
    },

    "q_w10_session_funnel" -> { (s, dir) =>
      EventFunctions.sessionize(t(s, dir, "events"), 3600)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("__v"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("__p"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("__v")).cast("long").as("n_view_sessions"),
          sum(col("__v") * col("__p")).cast("long").as("n_converted"))
        .withColumn("conversion_rate",
          graft.functions.quantize(col("n_converted").cast("double") /
            greatest(col("n_view_sessions"), lit(1L)), 4))
        .orderBy(col("user_id"))
    })

  private val pivotCases = features.map(f =>
    s"  max(CASE WHEN event_type = '$f' THEN value END) AS $f").mkString(",\n")

  val oracles: Map[String, String] = Map(
    // Stickiness: same contribution explosion (range 0..6, date + int
    // days), distinct per window-end, inner join to active days.
    // Segment-explode resample mirrored with DuckDB's range() lateral:
    // each observed day emits its gap days, filled = o > 0.
    "q_e14_resample_ffill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |seg AS (
        |  SELECT *, lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nd
        |  FROM daily)
        |SELECT user_id,
        |  strftime(d + CAST(o AS INTEGER), '%Y-%m-%d') AS day,
        |  value, CAST(o > 0 AS INTEGER) AS filled
        |FROM (
        |  SELECT *, unnest(range(0, CASE WHEN nd IS NULL THEN 1
        |    ELSE date_diff('day', d, nd) END)) AS o
        |  FROM seg)
        |ORDER BY user_id, day""".stripMargin,
    "q_e13_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events),
        |dau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |contrib AS (
        |  SELECT DISTINCT u, d + CAST(o AS INTEGER) AS day
        |  FROM ud, range(0, 7) AS r(o)),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
        |        FROM contrib GROUP BY 1)
        |SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)
        |    AS stickiness
        |FROM dau JOIN wau ON wau.day = dau.day
        |ORDER BY day""".stripMargin,
    // Time funnel: the same latest-start sweep — start_k over strictly
    // preceding rows in (ts, event_id) order, mirrored window-for-
    // window; step columns built in two CTE layers because window
    // expressions can't nest in either engine.
    "q_w12_time_funnel" ->
      """WITH base AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |s1 AS (
        |  SELECT *, CASE WHEN event_type = 'view' THEN tsec END AS st1
        |  FROM base),
        |s2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' THEN
        |      max(st1) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    END AS st2
        |  FROM s1),
        |s3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' THEN
        |      max(st2) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    END AS st3
        |  FROM s2),
        |fin AS (
        |  SELECT user_id, ts,
        |    (st3 IS NOT NULL AND tsec - st3 <= 86400) AS conv
        |  FROM s3 WHERE event_type = 'purchase')
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_final,
        |  CAST(coalesce(sum(CASE WHEN conv THEN 1 END), 0) AS BIGINT)
        |    AS n_converted,
        |  min(CASE WHEN conv THEN ts END) AS first_conversion_ts,
        |  coalesce(sum(CASE WHEN conv THEN 1 END), 0) > 0 AS converted
        |FROM fin GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Cohort retention: Monday-aligned date_trunc both engines; the
    // offset division is exact (both ends are Mondays).
    // Same first-activity-week cohorts, DECIMAL weekly sums + decimal
    // cumulative window, same fixed-denominator division.
    "q_e23_ltv_curves" ->
      """WITH weekly AS (
        |  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |fw AS (SELECT u, min(w) AS cw FROM weekly GROUP BY 1),
        |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
        |       FROM fw GROUP BY 1),
        |bo AS (
        |  SELECT f.cw,
        |    CAST(date_diff('day', f.cw, w.w) // 7 AS BIGINT) AS off,
        |    coalesce(sum(w.v), CAST(0 AS DECIMAL(18,2))) AS wv
        |  FROM weekly w JOIN fw f ON f.u = w.u
        |  GROUP BY 1, 2),
        |cm AS (SELECT *, sum(wv) OVER (PARTITION BY cw ORDER BY off
        |         ROWS UNBOUNDED PRECEDING) AS cv FROM bo)
        |SELECT CAST(cm.cw AS VARCHAR) AS cohort_week,
        |  cm.off AS week_offset, sz.cohort_size,
        |  round(CAST(cm.wv AS DOUBLE), 2) AS week_value,
        |  round(CAST(cm.cv AS DOUBLE), 2) AS cum_value,
        |  floor(CAST(cm.cv AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS ltv_per_user
        |FROM cm JOIN sz ON sz.cw = cm.cw
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // Same distinct (user, week) lag/lead classification; churn lands
    // on the week after the last sighting.
    "q_w18_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events),
        |cls AS (
        |  SELECT u, w,
        |    lag(w) OVER (PARTITION BY u ORDER BY w) AS prev,
        |    lead(w) OVER (PARTITION BY u ORDER BY w) AS nxt
        |  FROM uw),
        |act AS (
        |  SELECT w AS week, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN prev = w - 7 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < w - 7
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM cls GROUP BY 1),
        |ch AS (
        |  SELECT w + 7 AS week, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM cls WHERE nxt IS NULL OR nxt > w + 7
        |  GROUP BY 1)
        |SELECT CAST(coalesce(act.week, ch.week) AS VARCHAR) AS week,
        |  coalesce(n_active, CAST(0 AS BIGINT)) AS n_active,
        |  coalesce(n_new, CAST(0 AS BIGINT)) AS n_new,
        |  coalesce(n_retained, CAST(0 AS BIGINT)) AS n_retained,
        |  coalesce(n_resurrected, CAST(0 AS BIGINT)) AS n_resurrected,
        |  coalesce(n_churned, CAST(0 AS BIGINT)) AS n_churned
        |FROM act FULL OUTER JOIN ch ON ch.week = act.week
        |ORDER BY week""".stripMargin,
    "q_e11_cohort_retention" ->
      """WITH weeks AS (
        |  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events),
        |firstw AS (SELECT u, min(w) AS cohort_week FROM weeks GROUP BY u),
        |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT)
        |    AS cohort_size
        |  FROM firstw GROUP BY 1),
        |act AS (SELECT DISTINCT u, w FROM weeks),
        |m AS (
        |  SELECT f.cohort_week,
        |    CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT)
        |      AS week_offset,
        |    CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
        |  FROM act a JOIN firstw f ON f.u = a.u
        |  GROUP BY 1, 2)
        |SELECT CAST(m.cohort_week AS VARCHAR) AS cohort_week,
        |  m.week_offset, s.cohort_size, m.n_active,
        |  CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |    AS retention_rate
        |FROM m JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // RFM: DECIMAL(18,6) monetary sums are exact integer-scaled
    // aggregation — no float summation-order divergence — and ntile is
    // SQL-standard equal-height bucketing in both engines with total
    // (metric, user) orders.
    "q_e12_rfm" ->
      """WITH base AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', CAST(max(ts) AS DATE),
        |      DATE '2024-02-01') AS BIGINT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    coalesce(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE),
        |      CAST(0 AS DOUBLE)) AS monetary
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT user_id, recency_days, frequency, monetary,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id)
        |      AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, user_id)
        |      AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary, user_id)
        |      AS BIGINT) AS m_score
        |  FROM base)
        |SELECT user_id, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm_segment
        |FROM s ORDER BY user_id""".stripMargin,
    // Rolling frame over floor-epoch-seconds on both engines; ties share
    // one frame so the values are order-independent.
    "q_e10_trailing_window" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_trailing,
        |  round(sum(value) OVER w, 2) AS sum_trailing,
        |  max(value) OVER w AS max_trailing
        |FROM p
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |  RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // the union+window Spark form vs DuckDB's native ASOF JOIN — two
    // completely independent formulations of the same semantics
    "q_j13_asof_join" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT user_id, ts, round(max(value), 2) AS last_view_value
        |  FROM events WHERE event_type = 'view'
        |  GROUP BY user_id, ts)
        |SELECT l.user_id, l.ts, l.event_id,
        |  r.last_view_value, r.ts AS asof_ts
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, l.ts, l.event_id""".stripMargin,
    // Two chained native ASOF LEFT JOINs; the 7-day tolerance voids
    // the ENTIRE matched payload (values and asof_ts together), same
    // as the operator's struct-carry semantics.
    "q_f24_pt_training_set" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, ts, round(max(value), 2) AS view_v,
        |    CAST(count(*) AS BIGINT) AS view_n
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, ts, CAST(count(*) AS BIGINT) AS click_n
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |j1 AS (
        |  SELECT l.user_id, l.ts, l.event_id,
        |    CASE WHEN v.ts >= l.ts - INTERVAL 604800 SECOND
        |      THEN v.view_v END AS view_v,
        |    CASE WHEN v.ts >= l.ts - INTERVAL 604800 SECOND
        |      THEN v.view_n END AS view_n,
        |    CASE WHEN v.ts >= l.ts - INTERVAL 604800 SECOND
        |      THEN v.ts END AS view_asof_ts
        |  FROM l ASOF LEFT JOIN v
        |    ON l.user_id = v.user_id AND l.ts >= v.ts),
        |j2 AS (
        |  SELECT j1.user_id, j1.ts, j1.event_id, j1.view_v, j1.view_n,
        |    j1.view_asof_ts,
        |    CASE WHEN c.ts >= j1.ts - INTERVAL 604800 SECOND
        |      THEN c.click_n END AS click_n,
        |    CASE WHEN c.ts >= j1.ts - INTERVAL 604800 SECOND
        |      THEN c.ts END AS click_asof_ts
        |  FROM j1 ASOF LEFT JOIN c
        |    ON j1.user_id = c.user_id AND j1.ts >= c.ts)
        |SELECT * FROM j2 ORDER BY user_id, ts, event_id""".stripMargin,
    "q_a3_event_interval_agg" ->
      s"""SELECT user_id, count(1) AS n, count(DISTINCT value) AS n_unique,
         |  round(sum(value), 2) AS sum_value
         |FROM events
         |WHERE event_type = 'purchase'
         |  AND ts BETWEEN TIMESTAMP '$Start' AND TIMESTAMP '$Asof'
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_a11_days_since_latest" ->
      s"""SELECT user_id,
         |  date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-20') AS days_since
         |FROM events
         |WHERE event_type = 'purchase' AND ts <= TIMESTAMP '$Asof'
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_w1_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  -- CAST: DuckDB's integer window sum is HUGEINT; Spark's is BIGINT
        |  SELECT user_id, ts, value,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(1) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    // Same DECIMAL moment sums (exact, order-immune) and the same
    // fixed-order weekday SSE addition; DuckDB dayofweek() is 0-6 vs
    // Spark's 1-7 with the SAME Sunday-first day order, so the pivot
    // adds in the identical sequence. Doubles only in per-row
    // arithmetic over exact operands.
    "q_e17_dow_seasonality" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bydow AS (
        |  SELECT user_id, dayofweek(d) AS dow,
        |    CAST(count(*) AS BIGINT) AS nd, sum(x) AS sd,
        |    sum(x * x) AS ssd
        |  FROM daily GROUP BY 1, 2),
        |term AS (
        |  SELECT *, CAST(ssd AS DOUBLE)
        |    - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
        |      / CAST(nd AS DOUBLE) AS td
        |  FROM bydow),
        |ent AS (
        |  SELECT user_id, CAST(sum(nd) AS BIGINT) AS n,
        |    CAST(sum(sd) AS DOUBLE) AS s, CAST(sum(ssd) AS DOUBLE) AS ss,
        |    coalesce(sum(CASE WHEN dow = 0 THEN td END), 0.0)
        |      + coalesce(sum(CASE WHEN dow = 1 THEN td END), 0.0)
        |      + coalesce(sum(CASE WHEN dow = 2 THEN td END), 0.0)
        |      + coalesce(sum(CASE WHEN dow = 3 THEN td END), 0.0)
        |      + coalesce(sum(CASE WHEN dow = 4 THEN td END), 0.0)
        |      + coalesce(sum(CASE WHEN dow = 5 THEN td END), 0.0)
        |      + coalesce(sum(CASE WHEN dow = 6 THEN td END), 0.0) AS sse
        |  FROM term GROUP BY user_id)
        |SELECT user_id, n AS n_days,
        |  floor((ss - s * s / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 AS total_var,
        |  floor(sse / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS resid_var,
        |  floor((CASE WHEN ss - s * s / CAST(n AS DOUBLE) > 0
        |    THEN 1.0 - sse / (ss - s * s / CAST(n AS DOUBLE)) END)
        |      * 1000000.0 + 0.5) / 1000000.0 AS strength
        |FROM ent ORDER BY user_id""".stripMargin,
    // Same one-span-per-user construction, same E19 curve CTEs.
    "q_e25_activation" ->
      """WITH pu AS (
        |  SELECT user_id, min(ts) AS first_ts,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END)
        |      AS target_ts
        |  FROM events GROUP BY 1),
        |spans AS (
        |  SELECT CASE WHEN target_ts IS NOT NULL
        |      THEN date_diff('day', CAST(first_ts AS DATE),
        |        CAST(target_ts AS DATE))
        |      ELSE date_diff('day', CAST(first_ts AS DATE),
        |        DATE '2024-02-01') END AS t,
        |    (target_ts IS NULL) AS censored
        |  FROM pu),
        |byt AS (
        |  SELECT t,
        |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_censored
        |  FROM spans WHERE t >= 0 GROUP BY t),
        |rk AS (
        |  SELECT *, CAST(sum(n_events + n_censored) OVER (
        |    ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS n_risk
        |  FROM byt),
        |sv AS (
        |  SELECT *,
        |    max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t ROWS UNBOUNDED PRECEDING) AS hit_zero,
        |    sum(CASE WHEN n_events > 0 AND n_events < n_risk
        |      THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
        |      ELSE 0.0 END) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      AS lnsum
        |  FROM rk)
        |SELECT t AS duration_days, n_risk, n_events, n_censored,
        |  CASE WHEN hit_zero = 1 THEN 0.0
        |       ELSE round(exp(lnsum), 6) END AS survival
        |FROM sv ORDER BY duration_days""".stripMargin,
    // e18's raw component CTEs (never the display-rounded outputs);
    // variance operands quantized to scaled-1e6 BIGINTs, HUGEINT
    // moment sums, identical strength trees.
    "q_e35_ts_strengths" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |tr AS (
        |  SELECT user_id, d, x,
        |    avg(x) OVER (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
        |  FROM daily),
        |se AS (
        |  SELECT user_id AS k, dayofweek(d) AS dow,
        |    avg(x - trend) AS seas
        |  FROM tr GROUP BY 1, 2),
        |comp AS (SELECT tr.user_id AS user_id,
        |    CAST(floor((tr.x - tr.trend - se.seas) * 1000000.0 + 0.5)
        |      AS BIGINT) AS rl,
        |    CAST(floor((tr.x - se.seas) * 1000000.0 + 0.5)
        |      AS BIGINT) AS tl,
        |    CAST(floor((tr.x - tr.trend) * 1000000.0 + 0.5)
        |      AS BIGINT) AS sl
        |  FROM tr JOIN se ON se.k = tr.user_id
        |    AND se.dow = dayofweek(tr.d)),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |    sum(CAST(rl AS HUGEINT)) AS sr,
        |    sum(CAST(rl AS HUGEINT) * rl) AS qr,
        |    sum(CAST(tl AS HUGEINT)) AS st,
        |    sum(CAST(tl AS HUGEINT) * tl) AS qt,
        |    sum(CAST(sl AS HUGEINT)) AS ss,
        |    sum(CAST(sl AS HUGEINT) * sl) AS qs
        |  FROM comp GROUP BY 1),
        |v AS (SELECT user_id, n_days, CAST(n_days AS DOUBLE) AS nd,
        |    (CAST(qr AS DOUBLE) / 1e12
        |      - (CAST(sr AS DOUBLE) / 1000000.0)
        |        * (CAST(sr AS DOUBLE) / 1000000.0)
        |        / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE)
        |      AS vr,
        |    (CAST(qt AS DOUBLE) / 1e12
        |      - (CAST(st AS DOUBLE) / 1000000.0)
        |        * (CAST(st AS DOUBLE) / 1000000.0)
        |        / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE)
        |      AS vt,
        |    (CAST(qs AS DOUBLE) / 1e12
        |      - (CAST(ss AS DOUBLE) / 1000000.0)
        |        * (CAST(ss AS DOUBLE) / 1000000.0)
        |        / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE)
        |      AS vs
        |  FROM m)
        |SELECT user_id, n_days,
        |  CASE WHEN n_days > 1 AND vt > 0
        |    THEN floor(greatest(0.0, 1.0 - vr / vt) * 1000000.0 + 0.5)
        |      / 1000000.0 END AS trend_strength,
        |  CASE WHEN n_days > 1 AND vs > 0
        |    THEN floor(greatest(0.0, 1.0 - vr / vs) * 1000000.0 + 0.5)
        |      / 1000000.0 END AS seasonal_strength
        |FROM v ORDER BY user_id""".stripMargin,
    // Entity-keyed lead pairs under the (ts, event_id) total order;
    // exact BIGINT counts; one quantized division per row.
    "q_w20_markov" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT from_type, to_type,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT *, CAST(sum(n_pairs) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS tot FROM c)
        |SELECT from_type, to_type, n_pairs,
        |  floor(CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin,
    // Same e19 gap spans and risk sets; the two hazard cumulations are
    // ordered-window double sums (addition order = window order in
    // both engines); variance quantized-9, hazard quantized-6.
    "q_e33_nelson_aalen" ->
      """WITH sp AS (
        |  SELECT user_id, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |  FROM events WHERE event_type = 'purchase'),
        |spans AS (
        |  SELECT CASE WHEN nxt IS NOT NULL
        |      THEN date_diff('day', CAST(ts AS DATE), CAST(nxt AS DATE))
        |      ELSE date_diff('day', CAST(ts AS DATE), DATE '2024-02-01')
        |      END AS t,
        |    (nxt IS NULL) AS censored
        |  FROM sp),
        |byt AS (SELECT t,
        |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_censored
        |  FROM spans WHERE t >= 0 GROUP BY t),
        |rk AS (SELECT *, CAST(sum(n_events + n_censored) OVER (
        |    ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS n_risk FROM byt),
        |cz AS (SELECT *,
        |    sum(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS h,
        |    sum(CAST(n_events AS DOUBLE)
        |      / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
        |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS hv
        |  FROM rk)
        |SELECT t AS duration_days, n_risk, n_events, n_censored,
        |  floor(h * 1000000.0 + 0.5) / 1000000.0 AS cum_hazard,
        |  floor(hv * 1000000000.0 + 0.5) / 1000000000.0
        |    AS cum_hazard_var
        |FROM cz ORDER BY duration_days""".stripMargin,
    // E25-style activation spans split by arm; at-risk sets from
    // cumulative span counts over the bounded distinct-duration grid;
    // E/V terms floor-scaled to BIGINT before the cross-time sum;
    // identical z/chi2 trees and f38's A&S polynomial.
    "q_f50_logrank" ->
      """WITH pu AS (
        |  SELECT user_id, CAST(max(user_id % 2) AS INTEGER) AS grp,
        |    min(ts) AS first_ts,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END)
        |      AS target_ts
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |spans AS (
        |  SELECT grp, CASE WHEN target_ts IS NOT NULL
        |      THEN date_diff('day', CAST(first_ts AS DATE),
        |        CAST(target_ts AS DATE))
        |      ELSE date_diff('day', CAST(first_ts AS DATE),
        |        DATE '2024-02-01') END AS t,
        |    (target_ts IS NULL) AS censored
        |  FROM pu),
        |byt AS (SELECT t,
        |    CAST(sum(CASE WHEN grp = 1 AND NOT censored
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN grp = 0 AND NOT censored
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c0
        |  FROM spans WHERE t >= 0 GROUP BY t),
        |cum AS (SELECT *,
        |    CAST(sum(c1) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum1,
        |    CAST(sum(c0) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum0
        |  FROM byt),
        |tot AS (SELECT coalesce(CAST(sum(c1) AS BIGINT), 0) AS nt1,
        |    coalesce(CAST(sum(c0) AS BIGINT), 0) AS nt0 FROM byt),
        |fl AS (SELECT cum.*, tot.nt1, tot.nt0,
        |    tot.nt1 - (cum1 - c1) AS n1r,
        |    tot.nt0 - (cum0 - c0) AS n0r
        |  FROM cum, tot),
        |ff AS (SELECT *, n0r + n1r AS nj, d0 + d1 AS dj FROM fl
        |  WHERE d0 + d1 > 0),
        |tm AS (SELECT *,
        |    CAST(dj AS DOUBLE) * CAST(n1r AS DOUBLE)
        |      / CAST(nj AS DOUBLE) AS e1t,
        |    CASE WHEN nj > 1 THEN CAST(dj AS DOUBLE)
        |      * (CAST(n1r AS DOUBLE) / CAST(nj AS DOUBLE))
        |      * (1.0 - CAST(n1r AS DOUBLE) / CAST(nj AS DOUBLE))
        |      * (CAST(nj AS DOUBLE) - CAST(dj AS DOUBLE))
        |      / (CAST(nj AS DOUBLE) - 1.0) ELSE 0.0 END AS vt
        |  FROM ff),
        |ag AS (SELECT CAST(min(nt0) AS BIGINT) AS n0,
        |    CAST(min(nt1) AS BIGINT) AS n1,
        |    CAST(count(*) AS BIGINT) AS n_times,
        |    coalesce(CAST(sum(d1) AS BIGINT), 0) AS o1,
        |    coalesce(CAST(sum(CAST(floor(e1t * 1000000.0 + 0.5)
        |      AS BIGINT)) AS BIGINT), 0) AS se1,
        |    coalesce(CAST(sum(CAST(floor(vt * 1000000.0 + 0.5)
        |      AS BIGINT)) AS BIGINT), 0) AS sv
        |  FROM tm),
        |zz AS (SELECT *,
        |    (CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE) / 1000000.0)
        |      / sqrt(CAST(sv AS DOUBLE) / 1000000.0) AS z
        |  FROM ag),
        |pp AS (SELECT *, 2.0
        |    * (exp(-(abs(z) * abs(z)) / 2.0) / 2.5066282746310002)
        |    * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
        |      + -1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
        |      + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
        |      + -0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
        |      + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z))))
        |    AS p2 FROM zz)
        |SELECT n0, n1, n_times, o1,
        |  floor(CAST(se1 AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS e1,
        |  floor(CAST(sv AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS v,
        |  CASE WHEN sv > 0
        |    THEN floor(z * 1000000.0 + 0.5) / 1000000.0 END AS z,
        |  CASE WHEN sv > 0
        |    THEN floor(z * z * 1000000.0 + 0.5) / 1000000.0 END AS chi2,
        |  CASE WHEN sv > 0
        |    THEN floor(least(p2, 1.0) * 1000000.0 + 0.5) / 1000000.0
        |    END AS p
        |FROM pp""".stripMargin,
    // Same spans, same ordered cumulative ln-sum; the d = n zero case
    // flagged, never ln(0) (NULL in Spark, -inf in DuckDB).
    "q_e19_survival" ->
      """WITH sp AS (
        |  SELECT user_id, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        |  FROM events WHERE event_type = 'purchase'),
        |spans AS (
        |  SELECT CASE WHEN nxt IS NOT NULL
        |      THEN date_diff('day', CAST(ts AS DATE), CAST(nxt AS DATE))
        |      ELSE date_diff('day', CAST(ts AS DATE), DATE '2024-02-01')
        |    END AS t,
        |    (nxt IS NULL) AS censored
        |  FROM sp),
        |byt AS (
        |  SELECT t,
        |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_censored
        |  FROM spans WHERE t >= 0 GROUP BY t),
        |rk AS (
        |  SELECT *, CAST(sum(n_events + n_censored) OVER (
        |    ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS n_risk
        |  FROM byt),
        |sv AS (
        |  SELECT *,
        |    max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t ROWS UNBOUNDED PRECEDING) AS hit_zero,
        |    sum(CASE WHEN n_events > 0 AND n_events < n_risk
        |      THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
        |      ELSE 0.0 END) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |      AS lnsum
        |  FROM rk)
        |SELECT t AS duration_days, n_risk, n_events, n_censored,
        |  CASE WHEN hit_zero = 1 THEN 0.0
        |       ELSE round(exp(lnsum), 6) END AS survival
        |FROM sv ORDER BY duration_days""".stripMargin,
    // Same row-frame MA, same detrended weekday means.
    "q_e18_stl_decompose" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |tr AS (
        |  SELECT user_id, d, x,
        |    avg(x) OVER (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
        |  FROM daily),
        |se AS (
        |  SELECT user_id AS k, dayofweek(d) AS dow,
        |    avg(x - trend) AS seas
        |  FROM tr GROUP BY 1, 2)
        |SELECT tr.user_id AS user_id, strftime(tr.d, '%Y-%m-%d') AS day,
        |  round(tr.x, 2) AS value,
        |  floor(tr.trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
        |  floor(se.seas * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
        |  floor((tr.x - tr.trend - se.seas) * 1000000.0 + 0.5)
        |    / 1000000.0 AS remainder
        |FROM tr JOIN se ON se.k = tr.user_id AND se.dow = dayofweek(tr.d)
        |ORDER BY 1, 2""".stripMargin,
    // Same exact date grid: cutoff_i = min + (span - folds*H) +
    // (i-1)*H; train < cutoff <= test < cutoff + H.
    // Same integer block-edge arithmetic (mn + floor(i*span/k) days),
    // same exact date comparisons for the four roles.
    "q_f72_purged_folds" ->
      """WITH d AS (SELECT event_id AS id, CAST(ts AS DATE) AS day
        |           FROM events),
        |b AS (SELECT min(day) AS mn, max(day) AS mx,
        |    date_diff('day', min(day), max(day)) + 1 AS span FROM d),
        |sp AS (SELECT CAST(unnest(range(1, 5)) AS INTEGER) AS fold),
        |a AS (SELECT d.id, d.day, sp.fold,
        |    b.mn + CAST((CAST(sp.fold - 1 AS BIGINT) * b.span) // 4
        |      AS INTEGER) AS bs,
        |    b.mn + CAST((CAST(sp.fold AS BIGINT) * b.span) // 4
        |      AS INTEGER) AS be
        |  FROM d, b, sp),
        |r AS (SELECT id, day, fold,
        |    CASE WHEN day >= bs AND day < be THEN 'test'
        |         WHEN day < bs AND day + 2 >= bs THEN 'purged'
        |         WHEN day >= be AND day < be + 2 THEN 'embargo'
        |         ELSE 'train' END AS role
        |  FROM a)
        |SELECT fold,
        |  CAST(sum(CASE WHEN role = 'train' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN role = 'test' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN role = 'purged' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purged,
        |  CAST(sum(CASE WHEN role = 'embargo' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_embargo,
        |  strftime(min(CASE WHEN role = 'test' THEN day END),
        |    '%Y-%m-%d') AS test_start,
        |  strftime(max(CASE WHEN role = 'test' THEN day END),
        |    '%Y-%m-%d') AS test_end
        |FROM r GROUP BY fold ORDER BY fold""".stripMargin,
    "q_e32_backtest_folds" ->
      """WITH d AS (SELECT event_id AS id, CAST(ts AS DATE) AS day
        |           FROM events),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |sp AS (SELECT CAST(unnest(range(1, 4)) AS INTEGER) AS fold),
        |a AS (SELECT d.id, d.day, sp.fold,
        |    b.mn + CAST(date_diff('day', b.mn, b.mx) + 1 - 21
        |      + (sp.fold - 1) * 7 AS INTEGER) AS cutoff
        |  FROM d, b, sp),
        |r AS (SELECT id, day, fold,
        |    CASE WHEN day < cutoff THEN 'train'
        |         WHEN day < cutoff + 7 THEN 'test' END AS role
        |  FROM a)
        |SELECT fold,
        |  CAST(sum(CASE WHEN role = 'train' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN role = 'test' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_test,
        |  strftime(max(CASE WHEN role = 'train' THEN day END),
        |    '%Y-%m-%d') AS train_end,
        |  strftime(min(CASE WHEN role = 'test' THEN day END),
        |    '%Y-%m-%d') AS test_start,
        |  strftime(max(CASE WHEN role = 'test' THEN day END),
        |    '%Y-%m-%d') AS test_end
        |FROM r WHERE role IS NOT NULL
        |GROUP BY fold ORDER BY fold""".stripMargin,
    // Same DECIMAL daily sums and keyed lags; RMSE/sMAPE terms
    // floor-scaled to LONGs; identical guarded ratio trees.
    "q_e31_forecast_eval" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,6))) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT *,
        |    lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS f,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS n1
        |  FROM d),
        |t AS (SELECT event_type,
        |    CASE WHEN f IS NOT NULL THEN abs(x - f) END AS abs_err,
        |    CASE WHEN f IS NOT NULL THEN
        |      CAST(floor(CAST(abs(x - f) AS DOUBLE)
        |        * CAST(abs(x - f) AS DOUBLE) * 1000000.0 + 0.5)
        |        AS BIGINT) END AS sq_s,
        |    CASE WHEN f IS NOT NULL
        |      AND abs(CAST(x AS DOUBLE)) + abs(CAST(f AS DOUBLE)) > 0
        |    THEN CAST(floor(2.0 * CAST(abs(x - f) AS DOUBLE)
        |        / (abs(CAST(x AS DOUBLE)) + abs(CAST(f AS DOUBLE)))
        |        * 1000000.0 + 0.5) AS BIGINT) END AS sm_s,
        |    CASE WHEN n1 IS NOT NULL THEN abs(x - n1) END AS sc_err
        |  FROM l),
        |a AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(count(abs_err) AS BIGINT) AS n_eval,
        |    sum(abs_err) AS ae, CAST(sum(sq_s) AS BIGINT) AS sq,
        |    CAST(sum(sm_s) AS BIGINT) AS sm,
        |    CAST(count(sm_s) AS BIGINT) AS nsm,
        |    sum(sc_err) AS sc, CAST(count(sc_err) AS BIGINT) AS nsc
        |  FROM t GROUP BY 1)
        |SELECT event_type, n_days, n_eval,
        |  CASE WHEN n_eval > 0 THEN
        |    floor(CAST(ae AS DOUBLE) / CAST(n_eval AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS mae,
        |  CASE WHEN n_eval > 0 THEN
        |    floor(sqrt(CAST(sq AS DOUBLE) / 1000000.0
        |      / CAST(n_eval AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
        |    END AS rmse,
        |  CASE WHEN nsc > 0 THEN
        |    floor(CAST(sc AS DOUBLE) / CAST(nsc AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS scale,
        |  CASE WHEN n_eval > 0 AND nsc > 0 AND sc > 0 THEN
        |    floor((CAST(ae AS DOUBLE) / CAST(n_eval AS DOUBLE))
        |      / (CAST(sc AS DOUBLE) / CAST(nsc AS DOUBLE))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS mase,
        |  CASE WHEN nsm > 0 THEN
        |    floor(CAST(sm AS DOUBLE) / 1000000.0 / CAST(nsm AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS smape,
        |  n_eval - nsm AS n_smape_excluded
        |FROM a ORDER BY event_type""".stripMargin,
    // Same (ts, id)-ordered gaps in truncated epoch seconds, same
    // exact moment identity and IEEE B ratio.
    "q_e29_burstiness" ->
      """WITH gaps AS (
        |  SELECT user_id,
        |    date_diff('second', lag(ts) OVER w, ts) AS g
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS sg,
        |    CAST(sum(g * g) AS BIGINT) AS sgg
        |  FROM gaps WHERE g IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT *, CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
        |    sqrt(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |      - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |        * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
        |      AS sigma
        |  FROM agg)
        |SELECT user_id, n_gaps, mu AS mean_gap_s,
        |  CASE WHEN n_gaps >= 2 AND mu > 0 THEN sigma / mu END AS cv,
        |  CASE WHEN n_gaps >= 2 AND sigma + mu > 0
        |    THEN (sigma - mu) / (sigma + mu) END AS burstiness
        |FROM m ORDER BY user_id""".stripMargin,
    // Same DECIMAL daily sums, same same-weekday trailing window
    // (exact DECIMAL sum / BIGINT count -> one double division), same
    // D12 integer-rank median/MAD over residuals.
    "q_e28_seasonal_band" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    sum(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |f AS (
        |  SELECT *, sum(x) OVER w AS fs, count(x) OVER w AS fn
        |  FROM daily
        |  WINDOW w AS (PARTITION BY user_id, dayofweek(d) ORDER BY d
        |    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)),
        |sc AS (
        |  SELECT user_id, d, x,
        |    CASE WHEN fn > 0 THEN CAST(fs AS DOUBLE) / fn END
        |      AS forecast,
        |    CAST(x AS DOUBLE)
        |      - CASE WHEN fn > 0 THEN CAST(fs AS DOUBLE) / fn END
        |      AS residual
        |  FROM f),
        |r AS (SELECT user_id, d, residual FROM sc
        |      WHERE residual IS NOT NULL),
        |m1 AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY residual, d) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM r),
        |med AS (SELECT user_id AS g, residual AS med FROM m1
        |        WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT r.user_id, r.d, r.residual, m.med,
        |    abs(r.residual - m.med) AS dv
        |  FROM r JOIN med m ON m.g = r.user_id),
        |m2 AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY dv, d) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM dev),
        |mad AS (SELECT user_id AS g, dv AS mad FROM m2
        |        WHERE rn = (n + 1) // 2),
        |fl AS (
        |  SELECT dev.user_id, dev.d, dev.med, mad.mad,
        |    CAST(dev.dv > 3.0 * mad.mad AS INTEGER) AS is_anomaly
        |  FROM dev JOIN mad ON mad.g = dev.user_id)
        |SELECT sc.user_id, strftime(sc.d, '%Y-%m-%d') AS day,
        |  CAST(sc.x AS DOUBLE) AS value, sc.forecast, sc.residual,
        |  fl.med, fl.mad, fl.is_anomaly
        |FROM sc LEFT JOIN fl ON fl.user_id = sc.user_id
        |  AND fl.d = sc.d
        |ORDER BY sc.user_id, day""".stripMargin,
    // Same DECIMAL daily/cumulative/total sums (exact, order-immune)
    // and the same `C_t - t*(S/n)` double expression over them +
    // round-6 argmax. No float accumulation anywhere.
    "q_e16_cusum" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |agg AS (
        |  SELECT *,
        |    sum(x) OVER (PARTITION BY user_id) AS s,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(x) OVER (PARTITION BY user_id ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS t
        |  FROM daily),
        |cs AS (
        |  SELECT user_id, d, x,
        |    CAST(c AS DOUBLE) - CAST(t AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cusum
        |  FROM agg),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY floor(abs(cusum) * 1000000.0 + 0.5) / 1000000.0
        |      DESC, d) AS rn FROM cs)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
        |  floor(CAST(x AS DOUBLE) * 100.0 + 0.5) / 100.0 AS value,
        |  floor(cusum * 1000000.0 + 0.5) / 1000000.0 AS cusum,
        |  CAST(rn = 1 AS INTEGER) AS is_changepoint
        |FROM rk ORDER BY user_id, day""".stripMargin,
    // Pettitt: same DECIMAL dailies, integral U_t via doubled average
    // ranks (2*rank + ties - 1), earliest-day argmax, the identical
    // clamped exp tree for p.
    "q_e36_pettitt" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |rk AS (SELECT *,
        |    2 * rank() OVER (PARTITION BY user_id ORDER BY x)
        |      + count(*) OVER (PARTITION BY user_id, x) - 1 AS r2,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS t,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM daily),
        |v AS (SELECT user_id, d, n,
        |    CAST(sum(r2) OVER (PARTITION BY user_id ORDER BY d
        |        ROWS UNBOUNDED PRECEDING) - t * (n + 1) AS BIGINT)
        |      AS vt
        |  FROM rk),
        |k AS (SELECT *, abs(vt) AS av,
        |    max(abs(vt)) OVER (PARTITION BY user_id) AS mk FROM v),
        |g AS (SELECT user_id, CAST(max(n) AS BIGINT) AS n_days,
        |    CAST(max(mk) AS BIGINT) AS k,
        |    min(CASE WHEN av = mk THEN d END) AS cp
        |  FROM k GROUP BY 1),
        |pp AS (SELECT *, CAST(n_days AS DOUBLE) AS nd,
        |    least(2.0 * exp(-6.0
        |      * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE))
        |      / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
        |          * CAST(n_days AS DOUBLE)
        |        + CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))),
        |      1.0) AS p
        |  FROM g)
        |SELECT user_id, n_days, k,
        |  strftime(cp, '%Y-%m-%d') AS changepoint_day,
        |  CASE WHEN n_days > 1 THEN
        |    floor(p * 1000000.0 + 0.5) / 1000000.0 END AS p,
        |  CASE WHEN n_days > 1 THEN CAST(p < 0.05 AS INTEGER) END
        |    AS significant
        |FROM pp ORDER BY user_id""".stripMargin,
    // Page-Hinkley: identical micro-integer recursion — DuckDB's //
    // truncates toward zero exactly like Spark's div, so U/PH are
    // bit-identical integers; only the published ph_max divides.
    "q_e38_page_hinkley" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xm
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, xm,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS t,
        |    sum(xm) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS cm
        |  FROM daily),
        |u AS (SELECT *, sum(xm - cm // t - 0)
        |    OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS uu FROM w),
        |p AS (SELECT *, uu - min(uu)
        |    OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS ph FROM u)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  floor(CAST(max(ph) AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS ph_max,
        |  strftime(min(CASE WHEN ph > 2500000000 THEN day END),
        |    '%Y-%m-%d') AS alarm_day,
        |  CAST(min(CASE WHEN ph > 2500000000 THEN day END) IS NOT NULL
        |    AS INTEGER) AS alarmed
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Mann–Kendall: same DECIMAL dailies, the literal day<day pair
    // self-join for S, the same exact tie-corrected variance and
    // continuity-corrected z tree.
    "q_e37_mann_kendall" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |prs AS (
        |  SELECT a.user_id,
        |    CAST(sum(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b
        |    ON a.user_id = b.user_id AND a.d < b.d
        |  GROUP BY 1),
        |tie AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS tj
        |  FROM daily GROUP BY user_id, x),
        |agg AS (
        |  SELECT user_id, CAST(sum(tj) AS BIGINT) AS n_days,
        |    CAST(sum(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT)
        |      AS tie_term
        |  FROM tie GROUP BY 1),
        |j AS (
        |  SELECT g.user_id, g.n_days,
        |    COALESCE(p.s, 0) AS s,
        |    CAST(g.n_days * (g.n_days - 1) * (2 * g.n_days + 5)
        |      - g.tie_term AS BIGINT) AS var_num
        |  FROM agg g LEFT JOIN prs p ON p.user_id = g.user_id),
        |z AS (
        |  SELECT *, CAST(var_num AS DOUBLE) / 18.0 AS var_s,
        |    CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
        |        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
        |        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |      ELSE 0.0 END AS zr
        |  FROM j)
        |SELECT user_id, n_days, s,
        |  floor(var_s * 1000000.0 + 0.5) / 1000000.0 AS var_s,
        |  CASE WHEN n_days >= 2 AND var_num > 0 THEN
        |    floor(zr * 1000000.0 + 0.5) / 1000000.0 END AS z
        |FROM z ORDER BY user_id""".stripMargin,
    // E39: the E37 chain with a day-of-week season key inside the
    // pair join and tie/variance aggregates (DuckDB dayofweek is
    // 0-based vs Spark's 1-based — a pure relabeling: the season
    // value never leaves the grouping, so the partitions are equal).
    "q_e39_seasonal_mann_kendall" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    dayofweek(CAST(ts AS DATE)) AS sn,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3),
        |prs AS (
        |  SELECT a.user_id,
        |    CAST(sum(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b
        |    ON a.user_id = b.user_id AND a.sn = b.sn AND a.d < b.d
        |  GROUP BY 1),
        |tie AS (
        |  SELECT user_id, sn, CAST(count(*) AS BIGINT) AS tj
        |  FROM daily GROUP BY user_id, sn, x),
        |seas AS (
        |  SELECT user_id, sn, CAST(sum(tj) AS BIGINT) AS nm,
        |    CAST(sum(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT)
        |      AS tie_term
        |  FROM tie GROUP BY 1, 2),
        |agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_seasons,
        |    CAST(sum(nm) AS BIGINT) AS n_days,
        |    CAST(sum(nm * (nm - 1) * (2 * nm + 5) - tie_term)
        |      AS BIGINT) AS var_num
        |  FROM seas GROUP BY 1),
        |j AS (
        |  SELECT g.user_id, g.n_seasons, g.n_days,
        |    COALESCE(p.s, 0) AS s, g.var_num
        |  FROM agg g LEFT JOIN prs p ON p.user_id = g.user_id),
        |z AS (
        |  SELECT *, CAST(var_num AS DOUBLE) / 18.0 AS var_s,
        |    CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
        |        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
        |        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |      ELSE 0.0 END AS zr
        |  FROM j)
        |SELECT user_id, n_seasons, n_days, s,
        |  floor(var_s * 1000000.0 + 0.5) / 1000000.0 AS var_s,
        |  CASE WHEN n_days >= 2 AND var_num > 0 THEN
        |    floor(zr * 1000000.0 + 0.5) / 1000000.0 END AS z
        |FROM z ORDER BY user_id""".stripMargin,
    // E40: within-season pairs, one slope division each, the F55
    // two-middle-ranks midpoint median.
    "q_e40_seasonal_theil_sen" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    dayofweek(CAST(ts AS DATE)) AS sn,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3),
        |counts AS (
        |  SELECT user_id,
        |    CAST(count(DISTINCT sn) AS BIGINT) AS n_seasons,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |slopes AS (
        |  SELECT a.user_id,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS m
        |  FROM daily a JOIN daily b
        |    ON a.user_id = b.user_id AND a.sn = b.sn AND a.d < b.d),
        |ranked AS (
        |  SELECT user_id, m,
        |    row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS np
        |  FROM slopes),
        |med AS (
        |  SELECT user_id, max(np) AS n_pairs,
        |    min(m) + (max(m) - min(m)) * 0.5 AS slope
        |  FROM ranked
        |  WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |  GROUP BY 1)
        |SELECT c.user_id, c.n_seasons, c.n_days,
        |  COALESCE(med.n_pairs, 0) AS n_pairs,
        |  CASE WHEN med.slope IS NOT NULL THEN
        |    floor(med.slope * 1000000.0 + 0.5) / 1000000.0 END AS slope
        |FROM counts c LEFT JOIN med ON med.user_id = c.user_id
        |ORDER BY c.user_id""".stripMargin,
    // W21: same LOCF segments — lead over (ts, value), window clamp,
    // micro-LONG x seconds in HUGEINT, the pinned division pair.
    "q_w21_time_weighted_avg" ->
      """WITH base AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |    AND CAST(floor(epoch(ts)) AS BIGINT)
        |      < CAST(floor(epoch(TIMESTAMP '2024-01-25 00:00:00'))
        |        AS BIGINT)),
        |seg AS (
        |  SELECT user_id, v,
        |    greatest(t, CAST(floor(epoch(
        |      TIMESTAMP '2024-01-10 00:00:00')) AS BIGINT)) AS s0,
        |    least(COALESCE(lead(t) OVER (PARTITION BY user_id
        |        ORDER BY t, v),
        |      CAST(floor(epoch(TIMESTAMP '2024-01-25 00:00:00'))
        |        AS BIGINT)),
        |      CAST(floor(epoch(TIMESTAMP '2024-01-25 00:00:00'))
        |        AS BIGINT)) AS s1
        |  FROM base),
        |agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(greatest(s1 - s0, 0)) AS BIGINT) AS covered_sec,
        |    sum(CAST(CAST(v * 1000000 AS BIGINT) AS HUGEINT)
        |      * greatest(s1 - s0, 0)) AS i
        |  FROM seg GROUP BY 1)
        |SELECT user_id, n_events, covered_sec,
        |  CASE WHEN covered_sec > 0 THEN
        |    floor((CAST(CAST(i AS VARCHAR) AS DOUBLE) / 1000000.0)
        |      / CAST(covered_sec AS DOUBLE) * 1000000.0 + 0.5)
        |      / 1000000.0 END AS twa
        |FROM agg ORDER BY user_id""".stripMargin,
    // E42: lower-median dichotomization (the D28 grid selection),
    // ties excluded, runs via day-ordered lag, one IEEE z tree.
    // W22: the same scaled-term mirror — each −p·ln p term is one
    // IEEE tree over an exact count division, floored to a 1e12
    // BIGINT; normalized entropy divides the unquantized H by ln k.
    "q_w22_event_type_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |n AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM c GROUP BY 1),
        |t AS (
        |  SELECT c.user_id,
        |    CAST(floor(-((CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)))
        |      * 1000000000000.0 + 0.5) AS BIGINT) AS t
        |  FROM c JOIN n ON n.user_id = c.user_id),
        |s AS (SELECT user_id, sum(CAST(t AS HUGEINT)) AS s
        |  FROM t GROUP BY 1)
        |SELECT n.user_id, n.n AS n_events, n.k AS n_types,
        |  floor((CAST(CAST(s.s AS VARCHAR) AS DOUBLE) / 1000000000000.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS entropy,
        |  CASE WHEN n.k > 1 THEN
        |    floor((CAST(CAST(s.s AS VARCHAR) AS DOUBLE)
        |        / 1000000000000.0) / ln(CAST(n.k AS DOUBLE))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS norm_entropy
        |FROM n JOIN s ON s.user_id = n.user_id
        |ORDER BY n.user_id""".stripMargin,
    // E43: the pair-join mirror of the lead-window numerators — both
    // sides are exact integers (c = n·m − S in HUGEINT/DECIMAL), so
    // the plans may differ; HUGEINT reaches DOUBLE via VARCHAR (the
    // x184 lesson: DuckDB's direct HUGEINT->DOUBLE cast is not
    // correctly rounded, Spark's DECIMAL->DOUBLE is).
    "q_e43_autocorrelation" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |base AS (
        |  SELECT user_id, d, m,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |    sum(CAST(m AS HUGEINT)) OVER (PARTITION BY user_id) AS s,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS BIGINT) AS t
        |  FROM daily),
        |c AS (SELECT user_id, n, t,
        |    CAST(n AS HUGEINT) * m - s AS c FROM base),
        |den AS (SELECT user_id, CAST(max(n) AS BIGINT) AS n_days,
        |    sum(c * c) AS dn FROM c GROUP BY 1),
        |lags AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5)) AS l(lag)),
        |num AS (
        |  SELECT a.user_id, CAST(b.t - a.t AS BIGINT) AS lag,
        |    sum(a.c * b.c) AS nm, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM c a JOIN c b ON a.user_id = b.user_id
        |    AND b.t - a.t BETWEEN 1 AND 5
        |  GROUP BY 1, 2)
        |SELECT d.user_id, CAST(l.lag AS BIGINT) AS lag, d.n_days,
        |  COALESCE(n.n_pairs, 0) AS n_pairs,
        |  CASE WHEN COALESCE(n.n_pairs, 0) > 0 AND d.dn > 0 THEN
        |    floor(CAST(CAST(n.nm AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(d.dn AS VARCHAR) AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS r
        |FROM den d CROSS JOIN lags l
        |LEFT JOIN num n ON n.user_id = d.user_id AND n.lag = l.lag
        |ORDER BY d.user_id, l.lag""".stripMargin,
    "q_e42_runs_test" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |byv AS (
        |  SELECT user_id, x, CAST(count(*) AS BIGINT) AS c
        |  FROM daily GROUP BY 1, 2),
        |med AS (
        |  SELECT user_id, min(x) AS mv FROM (
        |    SELECT user_id, x,
        |      sum(c) OVER (PARTITION BY user_id ORDER BY x
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS cum,
        |      sum(c) OVER (PARTITION BY user_id) AS n
        |    FROM byv)
        |  WHERE cum * 2 >= n GROUP BY 1),
        |sided AS (
        |  SELECT daily.user_id, d,
        |    CAST(x > mv AS INT) AS s
        |  FROM daily JOIN med ON med.user_id = daily.user_id
        |  WHERE x <> mv),
        |lagged AS (
        |  SELECT user_id, s,
        |    lag(s) OVER (PARTITION BY user_id ORDER BY d) AS prev
        |  FROM sided),
        |agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(s) AS BIGINT) AS n_above,
        |    CAST(sum(1 - s) AS BIGINT) AS n_below,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1
        |      ELSE 0 END) AS BIGINT) AS runs
        |  FROM lagged GROUP BY 1),
        |zz AS (
        |  SELECT *,
        |    1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |      / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) AS mu,
        |    2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |      * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |        - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))
        |      / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |        * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |        * ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |          - 1.0)) AS var_r
        |  FROM agg)
        |SELECT user_id, n_days, n_above, n_below, runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 AND n_days >= 2
        |    AND var_r > 0 THEN
        |    floor((CAST(runs AS DOUBLE) - mu) / sqrt(var_r)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS z
        |FROM zz ORDER BY user_id""".stripMargin,
    // E41: the two clip rounds unrolled; exact DECIMAL moments cast
    // once, the identical mean/sd/clip IEEE trees per round.
    "q_e41_anomalous_days" ->
      """WITH daily AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |m1 AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS s,
        |    CAST(sum(CAST(x AS DECIMAL(19,6))
        |      * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS q
        |  FROM daily GROUP BY 1),
        |c1 AS (
        |  SELECT daily.k, d, x,
        |    CASE WHEN m1.n >= 3
        |      AND sqrt((q - s * s / CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - 1.0)) > 0
        |      AND abs(CAST(x AS DOUBLE) - s / CAST(n AS DOUBLE))
        |        > 1.5 * sqrt((q - s * s / CAST(n AS DOUBLE))
        |          / (CAST(n AS DOUBLE) - 1.0))
        |      THEN 1 ELSE 0 END AS clip
        |  FROM daily LEFT JOIN m1 ON m1.k = daily.k),
        |m2 AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS s,
        |    CAST(sum(CAST(x AS DECIMAL(19,6))
        |      * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS q
        |  FROM c1 WHERE clip = 0 GROUP BY 1),
        |c2 AS (
        |  SELECT c1.k, d, x,
        |    CASE WHEN clip = 0 AND m2.n >= 3
        |      AND sqrt((q - s * s / CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - 1.0)) > 0
        |      AND abs(CAST(x AS DOUBLE) - s / CAST(n AS DOUBLE))
        |        > 1.5 * sqrt((q - s * s / CAST(n AS DOUBLE))
        |          / (CAST(n AS DOUBLE) - 1.0))
        |      THEN 2 ELSE clip END AS clip
        |  FROM c1 LEFT JOIN m2 ON m2.k = c1.k),
        |mf AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS s,
        |    CAST(sum(CAST(x AS DECIMAL(19,6))
        |      * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS q
        |  FROM c2 WHERE clip = 0 GROUP BY 1)
        |SELECT c2.k AS event_type, strftime(d, '%Y-%m-%d') AS day,
        |  CAST(x AS DOUBLE) AS value,
        |  CASE WHEN mf.n >= 2
        |    AND sqrt((q - s * s / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0)) > 0
        |    THEN floor((CAST(x AS DOUBLE) - s / CAST(n AS DOUBLE))
        |      / sqrt((q - s * s / CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - 1.0)) * 1000000.0 + 0.5)
        |      / 1000000.0 END AS z,
        |  clip AS clip_iter
        |FROM c2 LEFT JOIN mf ON mf.k = c2.k
        |WHERE clip > 0 ORDER BY event_type, day""".stripMargin,
    // Same DECIMAL daily sums and pair/series moments, same fixed
    // ratio m = sx/n; num = sab - m*sa - m*sb + c*m*m; den = sxx -
    // n*m*m — operand-mirrored.
    "q_e20_acf" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |mom AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(x * x) AS sxx
        |  FROM daily GROUP BY 1),
        |base AS (
        |  SELECT user_id, d, x, CAST(k AS BIGINT) AS lag
        |  FROM daily, range(1, 8) AS r(k)),
        |pairs AS (
        |  SELECT b.user_id, b.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(b.x) AS sa, sum(a.x) AS sb, sum(b.x * a.x) AS sab
        |  FROM base b JOIN daily a
        |    ON a.user_id = b.user_id
        |    AND a.d = b.d + CAST(b.lag AS INTEGER)
        |  GROUP BY 1, 2)
        |SELECT p.user_id, p.lag, p.n_pairs,
        |  floor((CASE WHEN CAST(m.sxx AS DOUBLE)
        |      - CAST(m.n AS DOUBLE)
        |        * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
        |        * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)) > 0
        |    THEN (CAST(p.sab AS DOUBLE)
        |      - (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
        |        * CAST(p.sa AS DOUBLE)
        |      - (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
        |        * CAST(p.sb AS DOUBLE)
        |      + CAST(p.n_pairs AS DOUBLE)
        |        * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
        |        * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)))
        |      / (CAST(m.sxx AS DOUBLE)
        |        - CAST(m.n AS DOUBLE)
        |          * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
        |          * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)))
        |    END) * 1000000.0 + 0.5) / 1000000.0 AS acf
        |FROM pairs p JOIN mom m USING (user_id)
        |ORDER BY p.user_id, p.lag""".stripMargin,
    // Same packed latest-start sweep (s1*2^32 + t2 under BIGINT max),
    // same integral div/mod decode, same truncated-epoch seconds.
    "q_w19_funnel_timing" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events),
        |p1 AS (
        |  SELECT *, CASE WHEN event_type = 'view' THEN t END AS c1
        |  FROM ev),
        |p2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' THEN
        |      max(c1) OVER w * 4294967296 + t END AS c2
        |  FROM p1 WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' THEN
        |      max(c2) OVER w END AS c3
        |  FROM p2 WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id,
        |  c3 // 4294967296 AS step1_ts_sec,
        |  c3 % 4294967296 AS step2_ts_sec,
        |  t AS step3_ts_sec,
        |  (c3 % 4294967296) - (c3 // 4294967296) AS leg1_sec,
        |  t - (c3 % 4294967296) AS leg2_sec,
        |  t - (c3 // 4294967296) AS total_sec
        |FROM p3
        |WHERE event_type = 'purchase' AND c3 IS NOT NULL
        |  AND t - (c3 // 4294967296) <= 86400
        |ORDER BY user_id, event_id""".stripMargin,
    // Same truncated-epoch gap deltas, same X111 integer rank picks.
    "q_e22_gap_quantiles" ->
      """WITH g AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(lag(ts) OVER (
        |          PARTITION BY user_id, event_type
        |          ORDER BY ts, event_id))) AS BIGINT) AS gap
        |  FROM events),
        |v AS (SELECT event_type, gap AS value, event_id FROM g
        |      WHERE gap IS NOT NULL),
        |ranked AS (
        |  SELECT event_type, value, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS BIGINT) AS rank,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM v),
        |q AS (SELECT * FROM (VALUES (1, 4, 'p25'), (1, 2, 'p50'),
        |      (3, 4, 'p75'), (9, 10, 'p90')) AS q(num, den, label))
        |SELECT event_type, label AS quantile, n, rank, value
        |FROM ranked JOIN q ON rank = (num * n + den - 1) // den
        |ORDER BY event_type, quantile""".stripMargin,
    // Same strictly-earlier-second window (floor(epoch) mirrors
    // unix_timestamp truncation), same (ts, id) first/last pick,
    // DECIMAL value sums.
    "q_w17_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS uts
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS uts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.user_id, c.event_id, t.event_type AS tt,
        |    t.ts AS tts, t.event_id AS tid
        |  FROM conv c JOIN tch t ON t.user_id = c.user_id
        |    AND t.uts BETWEEN c.uts - 86400 AND c.uts - 1),
        |fl AS (
        |  SELECT user_id, event_id,
        |    max(CASE WHEN rf = 1 THEN tt END) AS ft,
        |    max(CASE WHEN rl = 1 THEN tt END) AS lt
        |  FROM (SELECT *,
        |      row_number() OVER (PARTITION BY user_id, event_id
        |        ORDER BY tts, tid) AS rf,
        |      row_number() OVER (PARTITION BY user_id, event_id
        |        ORDER BY tts DESC, tid DESC) AS rl
        |    FROM j)
        |  GROUP BY 1, 2),
        |att AS (
        |  SELECT c.v, coalesce(fl.ft, '(none)') AS ft,
        |    coalesce(fl.lt, '(none)') AS lt
        |  FROM conv c LEFT JOIN fl ON fl.user_id = c.user_id
        |    AND fl.event_id = c.event_id)
        |SELECT * FROM (
        |  SELECT 'first' AS model, ft AS touch_type,
        |    CAST(count(*) AS BIGINT) AS n_conversions,
        |    round(coalesce(CAST(sum(v) AS DOUBLE), 0.0), 2)
        |      AS attributed_value
        |  FROM att GROUP BY 2
        |  UNION ALL
        |  SELECT 'last', lt, CAST(count(*) AS BIGINT),
        |    round(coalesce(CAST(sum(v) AS DOUBLE), 0.0), 2)
        |  FROM att GROUP BY 2)
        |ORDER BY model, touch_type""".stripMargin,
    // Same session construction as q_w1; first/last by (ts, event_id)
    // via window rank; bounce = 1-event session; one total division.
    "q_w16_landing_exit" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 3600
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |rk AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts DESC, event_id DESC) AS rl,
        |    CAST(count(*) OVER (PARTITION BY user_id, session_id)
        |      AS BIGINT) AS ne
        |  FROM sess),
        |per AS (
        |  SELECT user_id, session_id,
        |    max(CASE WHEN rf = 1 THEN event_type END) AS landing,
        |    max(CASE WHEN rl = 1 THEN event_type END) AS exit,
        |    max(ne) AS ne
        |  FROM rk GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM per)
        |SELECT landing, exit, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  CAST(sum(ne) AS BIGINT) AS n_events,
        |  CAST(count(*) AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE)
        |    AS share
        |FROM per GROUP BY 1, 2
        |ORDER BY landing, exit""".stripMargin,
    // Same contribution-explosion closed form, pow(0.7, o) weights.
    "q_e15_ewma" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |con AS (
        |  SELECT user_id, d + CAST(o AS INTEGER) AS td,
        |    pow(0.7, o) * x AS wx, pow(0.7, o) AS w
        |  FROM daily, range(0, 14) AS r(o)),
        |sm AS (
        |  SELECT user_id, td, sum(wx) AS num, sum(w) AS den
        |  FROM con GROUP BY 1, 2)
        |SELECT d.user_id AS user_id, strftime(d.d, '%Y-%m-%d') AS day,
        |  round(d.x, 2) AS value,
        |  floor(num / den * 1000000.0 + 0.5) / 1000000.0 AS ewma
        |FROM daily d JOIN sm ON sm.user_id = d.user_id AND sm.td = d.d
        |ORDER BY 1, 2""".stripMargin,
    // Same session construction; existence check mirrored:
    // min{t_b > min(a)} < max(c), pairwise-distinct types.
    "q_w15_sequential_triples" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |st AS (
        |  SELECT user_id, session_id, event_type,
        |    min(ts) AS mn, max(ts) AS mx
        |  FROM sess GROUP BY 1, 2, 3),
        |fa AS (
        |  SELECT a.user_id, a.session_id, a.event_type AS f,
        |    b.event_type AS s2, min(b.ts) AS mab
        |  FROM sess b JOIN st a ON b.user_id = a.user_id
        |    AND b.session_id = a.session_id
        |    AND b.event_type <> a.event_type AND b.ts > a.mn
        |  GROUP BY 1, 2, 3, 4)
        |SELECT f AS first, s2 AS second, c.event_type AS third,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM fa JOIN st c ON c.user_id = fa.user_id
        |  AND c.session_id = fa.session_id
        |  AND c.event_type <> f AND c.event_type <> s2 AND fa.mab < c.mx
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY first, second, third""".stripMargin,
    // Same session construction as q_w1, collapsed to per-(session,
    // type) min/max before the |types|^2-bounded pair join.
    "q_w14_sequential_rules" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |st AS (
        |  SELECT user_id, session_id, event_type,
        |    min(ts) AS mn, max(ts) AS mx
        |  FROM sess GROUP BY 1, 2, 3),
        |nsc AS (SELECT CAST(count(*) AS BIGINT) AS n_sess
        |        FROM (SELECT DISTINCT user_id, session_id FROM st)),
        |tc AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n_t
        |       FROM st GROUP BY 1),
        |pr AS (
        |  SELECT a.event_type AS antecedent, b.event_type AS consequent,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.session_id = b.session_id
        |    AND a.event_type <> b.event_type AND a.mn < b.mx
        |  GROUP BY 1, 2)
        |SELECT antecedent, consequent, support,
        |  CAST(support AS DOUBLE) / ta.n_t AS confidence,
        |  CAST(support AS DOUBLE) / ta.n_t /
        |    (CAST(tb.n_t AS DOUBLE) / n_sess) AS lift
        |FROM pr JOIN tc ta ON ta.t = antecedent
        |JOIN tc tb ON tb.t = consequent, nsc
        |ORDER BY antecedent, consequent""".stripMargin,
    "q_w11_transition_matrix" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS from_type, event_type AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(1) AS n_transitions
        |FROM p WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin,
    "q_w10_session_funnel" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |per_session AS (
        |  SELECT user_id, session_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(1) AS n_sessions,
        |  CAST(sum(v) AS BIGINT) AS n_view_sessions,
        |  CAST(sum(v * p) AS BIGINT) AS n_converted,
        |  floor(CAST(sum(v * p) AS DOUBLE) /
        |    greatest(CAST(sum(v) AS BIGINT), 1) * 10000.0 + 0.5)
        |    / 10000.0 AS conversion_rate
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_w2_prev_interactions" ->
      s"""SELECT user_id, rk AS recency, event_id, event_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS BIGINT) AS rk
         |  FROM events WHERE ts <= TIMESTAMP '$Asof')
         |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
    "q_w3_chord_paths" ->
      """WITH anchors AS (
        |  SELECT user_id, max(ts) AS anchor_ts FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |prev AS (
        |  SELECT e.user_id, e.ts, e.event_id, e.event_type, a.anchor_ts,
        |    row_number() OVER (PARTITION BY e.user_id
        |      ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |  FROM events e JOIN anchors a USING (user_id)
        |  WHERE e.ts <= a.anchor_ts)
        |SELECT user_id, anchor_ts,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS path
        |FROM prev WHERE rn <= 5 GROUP BY user_id, anchor_ts
        |ORDER BY user_id""".stripMargin,
    "q_w4_unique_paths" ->
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(event_type) OVER w IS NULL
         |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
         |  FROM events WHERE ts <= TIMESTAMP '$Mid'
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS path
         |FROM e WHERE chg = 1 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_w5_snapshot_pivot" ->
      s"""WITH latest AS (
         |  SELECT user_id, event_type, value,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events WHERE ts <= TIMESTAMP '$Mid')
         |SELECT user_id,
         |$pivotCases
         |FROM latest WHERE rn = 1 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_w6_chord_pivot" ->
      s"""WITH anchors AS (
         |  SELECT user_id, max(ts) AS sync_time FROM events
         |  WHERE event_type = 'purchase' GROUP BY user_id),
         |latest AS (
         |  SELECT e.user_id, a.sync_time, e.event_type, e.value,
         |    row_number() OVER (PARTITION BY e.user_id, e.event_type
         |      ORDER BY e.ts DESC, e.event_id DESC) AS rn
         |  FROM events e JOIN anchors a USING (user_id)
         |  WHERE e.ts <= a.sync_time)
         |SELECT user_id, sync_time,
         |$pivotCases
         |FROM latest WHERE rn = 1 GROUP BY user_id, sync_time
         |ORDER BY user_id""".stripMargin,
    "q_w7_current_dedup" ->
      """SELECT user_id, event_type, ts, event_id FROM (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type, ts
        |      ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_w8_chords" ->
      """SELECT user_id, max(ts) AS anchor_ts FROM events
        |WHERE event_type = 'signup' GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_w9_paths" ->
      s"""SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS path
         |FROM events WHERE ts <= TIMESTAMP '$Start'
         |GROUP BY user_id ORDER BY user_id""".stripMargin)
}
