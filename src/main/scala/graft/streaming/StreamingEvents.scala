package graft.streaming

import graft.events.EventCols
import graft.store.BatchStore
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Structured-Streaming event analytics — the reference's "reactive
  * pipeline" roadmap item (reference: docs/reactive_pipeline.md:1-10,
  * docs/roadmap.md; no streaming execution exists in the reference — its
  * only streaming import is the `Duration` *type* for the sessionize
  * timeout, eventFunctions.scala:9,77).
  *
  * Spark-first realization: the batch operators in
  * [[graft.events.EventFunctions]] map onto streaming primitives —
  * sessionize → `session_window` + watermark, current() → keyed state via
  * `flatMapGroupsWithState`. State lives in the streaming state store
  * (RocksDB-backed on a real cluster), partitioned by the grouping key:
  * per-entity state never converges on the driver and scales with
  * executor count.
  *
  * Sinks. Each `xSink` is a `foreachBatch` query over one micro-batch
  * kernel `xBatch(batch, batchId, …)`, started by [[startSink]], which
  * skips empty micro-batches: an empty batch writes nothing. A kernel
  * lands each output through [[graft.store.BatchStore.append]] as
  * `<dir>/batch_id=N`, overwriting that directory, so when Spark replays
  * a batch after a failure (at-least-once) the replay replaces its own
  * earlier attempt and the `xView` reads the same rows. The kernels are
  * `private[graft]` so the parity specs drive the very code a running
  * query runs: they call `xBatch` once per batch, replay one, and compare
  * the view with the batch operator over the union.
  *
  * The views read their stores with `spark.read.parquet`, inferring the
  * schema from the footers. They stay unpinned on purpose: their columns
  * are named by the caller (`groupCol`, `keyCol`, [[EventCols]]), so
  * there is no module-owned schema to pin. */
object StreamingEvents {

  /** Starts `input` as a micro-batch sink checkpointed at
    * `checkpointDir`, handing every non-empty batch to `kernel`. */
  private def startSink(input: DataFrame, checkpointDir: String)(
      kernel: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) kernel(batch.toDF(), batchId)
      }
      .start()

  /** W1 streaming: per-entity session stats over a gap-based
    * `session_window`. Append mode — a session emits once the watermark
    * passes its close. */
  def sessionStats(events: DataFrame, timeoutSec: Long,
      watermarkDelay: String, c: EventCols = EventCols()): DataFrame =
    events
      .withWatermark(c.ts, watermarkDelay)
      .groupBy(col(c.entity),
        session_window(col(c.ts), s"$timeoutSec seconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(c.value)), 2).as("session_value"))
      .select(col(c.entity), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))

  /** Windowed interval aggregates (A3-A5 streaming): tumbling-window event
    * counts/sums per entity and event type. */
  def windowedCounts(events: DataFrame, windowDur: String,
      watermarkDelay: String, c: EventCols = EventCols()): DataFrame =
    events
      .withWatermark(c.ts, watermarkDelay)
      .groupBy(col(c.entity), col(c.eventType),
        window(col(c.ts), windowDur).as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col(c.value)), 2).as("value_sum"))
      .select(col(c.entity), col(c.eventType), col("w.start").as("window_start"),
        col("n"), col("value_sum"))

  /** X1 streaming: exact-duplicate suppression on content hash during
    * ingest — the streaming counterpart of [[graft.text.Dedup.exactDuplicates]]
    * for a training-data pipeline that must not admit byte-identical
    * documents twice. `dropDuplicatesWithinWatermark` keys the state store
    * by the md5, and the watermark BOUNDS the dedup state: a duplicate
    * arriving inside the delay is dropped, state for older hashes is
    * reclaimed — the property that makes ingest dedup run indefinitely at
    * scale (an unbounded `dropDuplicates` would grow state forever). */
  def dedupStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String): DataFrame =
    docs
      .withColumn("__th", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__th")
      .drop("__th")

  /** SCD2 streaming ingest (the reference's "reactive pipeline" roadmap
    * item realized): each micro-batch runs through the SAME
    * [[graft.load.Scd2Store.runLoad]] merge the batch path uses, via
    * `foreachBatch`, and the merge semantics (I/U/D, versioning, delete
    * detection) are literally the batch kernel's, not a parallel
    * implementation. Each batch's delta is appended to history and
    * current swapped through the store's one publish protocol; a batch
    * replayed after a crash first has the interrupted publish finished or
    * undone by runLoad's recovery preamble, then merges against the
    * resulting current, so it appends no duplicate versions. `mkConfig`
    * stamps each batch's processId (the `process_id` column of its rows).
    *
    * Returns the started query; callers own checkpointing/termination.
    * Delta loads only — a stream never sees the "full" universe, so
    * delete-by-absence is meaningless here. */
  def scd2Sink(incoming: DataFrame, store: graft.load.Scd2Store,
      table: String, mkConfig: Long => graft.load.MergeConfig,
      checkpointDir: String): StreamingQuery =
    startSink(incoming, checkpointDir) { (batch, batchId) =>
      val cfg = mkConfig(batchId)
      require(cfg.isDelta, "streaming SCD2 ingest must be a delta load")
      store.runLoad(table, batch, cfg)
    }

  /** X20/X22 streaming: continuous corpus ingestion deduplicated against
    * the PERSISTED dedup index, with the index maintained append-only —
    * the full production loop of [[graft.text.Dedup.buildDedupIndex]] /
    * [[graft.text.Dedup.incrementalDedupIndexed]] run per micro-batch via
    * `foreachBatch`:
    *
    *  1. verdict every batch doc against the current index (exact text-md5
    *     + banded-minhash near match; batch broadcast, index never
    *     shuffled) → appended to `verdictDir`;
    *  2. docs judged `new` are indexed with the SAME buildDedupIndex
    *     projection and appended to `indexDir`, so later batches dedup
    *     against them — the index update IS the indexing function, no
    *     parallel implementation.
    *
    * Duplicates WITHIN one micro-batch are not cross-checked (the indexed
    * form is batch-vs-index by construction); put
    * [[dedupStream]] (watermark-bounded exact suppression) upstream for
    * that. Operator caches are released per batch, so the query runs
    * indefinitely without accumulating blocks. Seed `indexDir` with
    * `buildDedupIndex(corpus)` output (or leave it empty and every
    * first-batch doc is `new`).
    *
    * A replay reproduces byte-identical verdicts instead of matching
    * documents against their own half-committed rows ([[indexSoFar]]).
    * Doc ids are therefore assumed unique across batches (re-ingesting an
    * id re-verdicts it fresh). Seed the index INTO the partition layout —
    * e.g. `buildDedupIndex(corpus).write.parquet(s"$dir/batch_id=-1")` —
    * so the seed and the per-batch appends share one discoverable
    * directory. Index existence goes through the Hadoop FileSystem of
    * the path — a driver-local File test would be false for every
    * hdfs:///s3a:// path and silently disable dedup. Returns the started
    * query; callers own checkpointing/termination.
    *
    * The per-batch partition layout accumulates small files and listing
    * cost over a long-running query — periodically stop the query, run
    * [[graft.text.Dedup.compactDedupIndex]] over `indexDir`, and
    * restart; verdicts are proven identical across compaction. */
  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, verdictDir: String, checkpointDir: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): StreamingQuery =
    startSink(docs, checkpointDir)(dedupBatch(_, _,
      idCol, textCol, indexDir, verdictDir, shingleN, k, bands, minMatch))

  /** The index an index-reading kernel matches `batch` against: `read`
    * minus the batch's own doc ids, because a failed earlier attempt of
    * the batch may have appended them and a replay must not match itself;
    * before the first batch, `build` over no rows (a schema-only index). */
  private def indexSoFar(batch: DataFrame, idCol: String, indexDir: String,
      read: => DataFrame, build: DataFrame => DataFrame): DataFrame =
    if (BatchStore.exists(batch.sparkSession, indexDir))
      read.join(broadcast(batch.select(col(idCol).as("doc_id"))),
        Seq("doc_id"), "left_anti")
    else build(batch.limit(0))

  private[graft] def dedupBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String, verdictDir: String,
      shingleN: Int, k: Int, bands: Int, minMatch: Int): Unit = {
    val spark = batch.sparkSession
    // the [[graft.store.BatchStore]] resurrection guard: a doc deleted
    // by deleteFromDedupIndex must not return before compactDedupIndex
    graft.text.Dedup.dedupLedger(spark, indexDir).guard(batch, idCol,
      "incrementalDedupSink", "compactDedupIndex")
    val index = indexSoFar(batch, idCol, indexDir,
      graft.text.Dedup.readDedupIndex(spark, indexDir),
      graft.text.Dedup.buildDedupIndex(_, idCol, textCol, shingleN, k, bands))
    val verdicts = graft.text.Dedup.incrementalDedupIndexed(index,
      batch, idCol, textCol, shingleN, k, bands, minMatch)
      .persist() // verdictDir write + the fresh-doc filter below
    BatchStore.append(verdicts, verdictDir, batchId)
    val fresh = batch.join(
      verdicts.filter(col("verdict") === "new")
        .select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    BatchStore.append(graft.text.Dedup
      .buildDedupIndex(fresh, idCol, textCol, shingleN, k, bands),
      indexDir, batchId)
    verdicts.unpersist()
    graft.util.Caches.releaseAll(spark)
  }

  /** X40 streaming: exact-substring span detection maintained over
    * micro-batches — each batch's docs are checked for token spans
    * shared with the ALREADY-INDEXED corpus
    * ([[graft.text.SubstringDedup.incrementalDuplicatedSpans]]), span
    * reports land in `spanDir/batch_id=<id>`, and the batch's own
    * window fingerprints append to the index as `batch_id=<id>` — the
    * layout of [[incrementalDedupSink]]. A long-running
    * query compacts with [[graft.text.Dedup.compactDedupIndex]]'s
    * sibling pattern: the span index is plain `batch_id=`-partitioned
    * parquet too. */
  def spanDedupSink(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, spanDir: String, checkpointDir: String,
      windowTokens: Int = 8): StreamingQuery =
    startSink(docs, checkpointDir)(spanBatch(_, _,
      idCol, textCol, indexDir, spanDir, windowTokens))

  private[graft] def spanBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String, spanDir: String,
      windowTokens: Int): Unit = {
    val index = indexSoFar(batch, idCol, indexDir,
      batch.sparkSession.read.parquet(indexDir),
      graft.text.SubstringDedup.buildSpanIndex(_, idCol, textCol,
        windowTokens))
    BatchStore.append(graft.text.SubstringDedup
      .incrementalDuplicatedSpans(index, batch, idCol, textCol, windowTokens),
      spanDir, batchId)
    BatchStore.append(graft.text.SubstringDedup
      .buildSpanIndex(batch, idCol, textCol, windowTokens), indexDir, batchId)
    // no session-global cache release: incrementalDuplicatedSpans
    // persists nothing, so there is nothing of OURS to drop — and a
    // global releaseAll here would clobber the caches of any other sink
    // sharing this SparkSession mid-batch
  }

  /** X76 streaming: IVF embedding-index maintenance over micro-batches —
    * each batch is bucket-assigned against the FROZEN centroid table
    * (the [[graft.ann.Similarity.trainCentroids]] persist-once contract)
    * and written to `indexDir/batch_id=<id>/centroid_id=<c>/`, the one
    * IVF store layout [[graft.ann.Similarity.writeIvfIndex]] also
    * writes, so per-bucket files grow by ONE per batch. The streaming
    * arm of the X76 lifecycle: seed with a batch build, stream appends,
    * query any time through [[graft.ann.Similarity.readIvfIndex]]. */
  def ivfIndexSink(embs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int, indexDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(embs, checkpointDir)(ivfIndexBatch(_, _,
      idCol, vecCol, centroids, dim, indexDir))

  private[graft] def ivfIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, centroids: DataFrame, dim: Int,
      indexDir: String): Unit =
    graft.ann.Similarity.ivfAppend(graft.ann.Similarity
      .buildIvfIndex(batch, idCol, vecCol, centroids, dim), indexDir,
      batchId, guardAs = Some("ivfIndexSink"))

  /** X45 streaming: CCNet line dedup maintained over micro-batches —
    * each batch's lines are deduplicated against every line hash claimed
    * by EARLIER batches ([[graft.text.Dedup.lineDeduplicateIndexed]]),
    * rebuilt docs land in `outDir/batch_id=<id>`, and the batch's
    * newly-claimed hashes append to the index as `batch_id=<id>` — the
    * layout of [[incrementalDedupSink]]. Only NEW hashes append (already-claimed ones are filtered through
    * the same broadcast-probe shape), so the index stays one row per
    * distinct corpus line and never re-claims. */
  def lineDedupSink(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(docs, checkpointDir)(lineBatch(_, _,
      idCol, textCol, indexDir, outDir))

  private[graft] def lineBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String,
      outDir: String): Unit = {
    val index = indexSoFar(batch, idCol, indexDir,
      batch.sparkSession.read.parquet(indexDir),
      graft.text.Dedup.buildLineIndex(_, idCol, textCol))
    BatchStore.append(graft.text.Dedup
      .lineDeduplicateIndexed(index, batch, idCol, textCol), outDir, batchId)
    // append only the hashes no earlier batch claimed: the index streams
    // through two broadcast probes (semi to find claims, anti to drop
    // them from the batch's candidate rows) — never shuffled
    val fresh = graft.text.Dedup.buildLineIndex(batch, idCol, textCol)
    val claimed = index
      .join(broadcast(fresh.select(col("h"))), Seq("h"), "left_semi")
      .select(col("h")).distinct()
    BatchStore.append(fresh.join(broadcast(claimed), Seq("h"), "left_anti"),
      indexDir, batchId)
  }

  /** X24 streaming: corpus vocabulary statistics maintained incrementally
    * over micro-batches — the streaming counterpart of
    * [[graft.text.TextStats.vocabulary]]. Each batch's partial
    * (token, term_freq, doc_freq) aggregate lands in its own
    * `batch_id=<id>` partition; [[vocabularyView]] publishes the
    * exact corpus totals by summing the partials. Exact because term
    * occurrences are additive and each document is ingested in exactly
    * one batch (the same unique-doc-id contract as
    * [[incrementalDedupSink]]), so per-batch distinct-doc counts never
    * overlap. Shuffle per batch is O(distinct tokens in batch); nothing
    * is ever re-aggregated over history. Batch-vs-stream equivalence is
    * proven by spec. */
  def vocabularySink(docs: DataFrame, idCol: String, textCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(docs, checkpointDir)(vocabularyBatch(_, _,
      idCol, textCol, statsDir))

  private[graft] def vocabularyBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, statsDir: String): Unit =
    BatchStore.append(graft.text.TextStats.vocabulary(batch, idCol, textCol),
      statsDir, batchId)

  /** Streaming quality gate: score each micro-batch of documents with a
    * STATIC pre-trained Naive-Bayes model
    * ([[graft.ml.TextClassifier]]) and route rows to `keep/` or
    * `quarantine/` partitions by the (prediction, margin) rule — the
    * online form of the batch filter a curation pipeline trains
    * offline. The model DataFrames are resolved once at sink
    * construction; each micro-batch joins against them exactly as the
    * batch scorer does (same code path — parity is by construction,
    * and the spec drives [[classifierBatch]] directly to prove it). */
  def classifierSink(docs: DataFrame, model: graft.ml.TextClassifier.NbModel,
      idCol: String, textCol: String, acceptLabel: String,
      minMargin: Double, outDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(docs, checkpointDir)(classifierBatch(_, _,
      model, idCol, textCol, acceptLabel, minMargin, outDir))

  private[graft] def classifierBatch(batch: DataFrame, batchId: Long,
      model: graft.ml.TextClassifier.NbModel, idCol: String,
      textCol: String, acceptLabel: String, minMargin: Double,
      outDir: String): Unit = {
    val scored = graft.ml.TextClassifier.score(model, batch, idCol, textCol)
      .withColumn("verdict",
        when(col("label") === acceptLabel &&
          coalesce(col("margin"), lit(0.0)) >= minMargin, "keep")
          .otherwise("quarantine"))
    BatchStore.append(scored, outDir, batchId, "verdict")
  }

  /** Streaming heavy-hitter monitor: each micro-batch writes its
    * per-group Misra–Gries summary TABLE (≤ k counters per group — a
    * few KB regardless of batch size) under `batch_id=N`; the published
    * view merges the persisted summaries into candidates without ever
    * re-reading raw data — the mergeable-summaries pattern
    * ([[graft.sketch.MisraGries]]) end-to-end through storage.
    * The MG guarantee survives the merge tree: any token above Σn/k of
    * the WHOLE stream appears in [[heavyHitterView]] (spec-proven);
    * re-counting candidates exactly is one corpus pass with a
    * broadcast semi-join when exact counts are needed. */
  def heavyHitterSink(docs: DataFrame, groupCol: String, textCol: String,
      k: Int, statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(docs, checkpointDir)(heavyHitterBatch(_, _,
      groupCol, textCol, k, statsDir))

  private[graft] def heavyHitterBatch(batch: DataFrame, batchId: Long,
      groupCol: String, textCol: String, k: Int, statsDir: String): Unit = {
    val toks = batch.select(col(groupCol),
      explode(graft.text.Dedup.words(col(textCol))).as("__tok"))
    BatchStore.append(
      graft.sketch.HeavyHitters.summaries(toks, groupCol, "__tok", k),
      statsDir, batchId)
  }

  /** The published view over a [[heavyHitterSink]] directory: merged
    * per-group candidates (token, lb_count, n_tokens). */
  def heavyHitterView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String, groupCol: String, k: Int): DataFrame =
    graft.sketch.HeavyHitters.mergedCandidates(
      spark.read.parquet(statsDir), groupCol, k)

  /** Streaming point-frequency monitor: each micro-batch writes its
    * Count–Min cell table ([[graft.sketch.Sketches.countMinCells]],
    * ≤ depth·width rows per group — KBs regardless of batch size)
    * under `batch_id=N`; the published view merges the persisted
    * sketches by cell-wise sum (the CM merge), so "how often has token
    * t appeared across the whole stream" is a lookup over stored
    * sketches, never a raw re-scan. Complements [[heavyHitterSink]]:
    * MG answers "which tokens are frequent", CM answers "how frequent
    * is THIS token" for any key, overestimate-only guarantee intact
    * under merging (cell-wise sums commute with the min-over-rows
    * query — spec-proven equal to the one-pass sketch of the union). */
  def countMinSink(docs: DataFrame, groupCol: String, textCol: String,
      depth: Int, width: Int, cellsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(docs, checkpointDir)(countMinBatch(_, _,
      groupCol, textCol, depth, width, cellsDir))

  private[graft] def countMinBatch(batch: DataFrame, batchId: Long,
      groupCol: String, textCol: String, depth: Int, width: Int,
      cellsDir: String): Unit = {
    val toks = batch.select(col(groupCol),
      explode(graft.text.Dedup.words(col(textCol))).as("__tok"))
    BatchStore.append(graft.sketch.Sketches.countMinCells(toks, groupCol,
      "__tok", depth, width), cellsDir, batchId)
  }

  /** Streaming SECOND-MOMENT (AMS F2) maintenance: each micro-batch
    * writes its X169 sign-counter cell table
    * ([[graft.sketch.Sketches.amsF2Cells]] — ≤ `counters` rows per
    * group, KBs regardless of batch size) under `batch_id=N`; counters
    * are plain integer sums, so the published view merges cell-wise
    * and the stream-wide F2 estimate equals a one-pass sketch of the
    * union (spec-proven). The live "is repeat-skew / self-join
    * pressure drifting" dial next to [[countMinSink]]'s point counts
    * and [[heavyHitterSink]]'s top keys. */
  def amsF2Sink(docs: DataFrame, groupCol: String, textCol: String,
      counters: Int, cellsDir: String, checkpointDir: String): StreamingQuery =
    startSink(docs, checkpointDir)(amsF2Batch(_, _,
      groupCol, textCol, counters, cellsDir))

  private[graft] def amsF2Batch(batch: DataFrame, batchId: Long,
      groupCol: String, textCol: String, counters: Int,
      cellsDir: String): Unit = {
    val toks = batch.select(col(groupCol),
      explode(graft.text.Dedup.words(col(textCol))).as("__tok"))
    BatchStore.append(graft.sketch.Sketches.amsF2Cells(toks, groupCol,
      "__tok", counters), cellsDir, batchId)
  }

  /** The published view over an [[amsF2Sink]] directory: cell-wise
    * merged counters → the X169 median estimator
    * ([[graft.sketch.Sketches.amsF2EstimateFromCells]]). */
  def amsF2View(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, groupCol: String): DataFrame =
    graft.sketch.Sketches.amsF2EstimateFromCells(
      spark.read.parquet(cellsDir)
        .groupBy(col(groupCol), col("j"))
        .agg(sum(col("counter")).as("counter")), groupCol)

  /** Streaming PREFERENCE-LEADERBOARD maintenance: each micro-batch of
    * (winner, loser) comparison votes writes its directed pair-win
    * count table (≤ k² rows — KBs at any batch size) under
    * `batch_id=N`; win counts are plain integer sums, so the published
    * view merges cell-wise and runs the X166 exact-integer MM solve
    * ([[graft.ml.Preference.bradleyTerryFromPairWins]]) over the
    * stream-wide counts — bit-identical to the batch leaderboard over
    * everything ingested (the MM is a pure function of the cell
    * multiset; spec-proven). The live RLHF annotation dashboard: "is
    * model B still winning" without re-scanning a single vote. */
  def bradleyTerrySink(votes: DataFrame, winnerCol: String,
      loserCol: String, cellsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(votes, checkpointDir)(bradleyTerryBatch(_, _,
      winnerCol, loserCol, cellsDir))

  private[graft] def bradleyTerryBatch(batch: DataFrame, batchId: Long,
      winnerCol: String, loserCol: String, cellsDir: String): Unit = {
    val guarded = batch.select(
      when(col(winnerCol).isNull || col(loserCol).isNull ||
          col(winnerCol) === col(loserCol),
        raise_error(lit("bradleyTerryBatch: NULL or self-paired vote")))
        .otherwise(col(winnerCol).cast("string")).as("w"),
      col(loserCol).cast("string").as("l"))
    BatchStore.append(guarded.groupBy(col("w"), col("l"))
      .agg(count(lit(1)).as("n")), cellsDir, batchId)
  }

  /** The published view over a [[bradleyTerrySink]] directory: merged
    * win cells → the exact-integer MM leaderboard. */
  def bradleyTerryView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, iterations: Int = 10, maxItems: Int = 256)
      : DataFrame =
    graft.ml.Preference.bradleyTerryFromPairWins(
      spark.read.parquet(cellsDir)
        .groupBy(col("w"), col("l"))
        .agg(sum(col("n")).as("n")), iterations, maxItems)

  /** Streaming HOSMER–LEMESHOW calibration monitor (F74 streaming):
    * each micro-batch persists its FIXED-equal-width-bin cell table
    * `(bucket, n, n_obs, scaled-E DECIMAL sum)` under `batch_id=N`.
    * Fixed cutpoints are the ONE HL binning whose cells merge — rank
    * deciles over a union are not a function of per-batch deciles —
    * so the published view (cell sums per bucket → the shared χ²
    * finish) equals [[graft.ml.Eval.hosmerLemeshowFixedBins]] over
    * everything ingested (spec-proven). */
  def hosmerLemeshowSink(rows: DataFrame, probCol: String,
      labelCol: String, buckets: Int, cellsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(hosmerLemeshowBatch(_, _,
      probCol, labelCol, buckets, cellsDir))

  private[graft] def hosmerLemeshowBatch(batch: DataFrame, batchId: Long,
      probCol: String, labelCol: String, buckets: Int,
      cellsDir: String): Unit =
    BatchStore.append(graft.ml.Eval.hlFixedBinCells(batch, col(probCol),
      col(labelCol), buckets), cellsDir, batchId)

  /** The published view over a [[hosmerLemeshowSink]] directory:
    * bucket-summed cells through the same χ² finish as the batch
    * fixed-bin test. */
  def hosmerLemeshowView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, buckets: Int): DataFrame =
    graft.ml.Eval.hlFromBins(
      spark.read.parquet(cellsDir)
        .groupBy(col("bucket"))
        .agg(sum(col("n")).as("n"), sum(col("n_obs")).as("n_obs"),
          sum(col("__el")).cast("decimal(38,0)").as("__el")), buckets)

  /** Streaming SPIEGELHALTER-Z calibration monitor (F80 streaming) —
    * the binning-free companion dial next to [[hosmerLemeshowSink]]:
    * each micro-batch persists ONE row of exact moment sums
    * `(n, Σ scaled num terms, Σ scaled den terms)` under
    * `batch_id=N`; DECIMAL sums merge exactly, so the published view
    * — the shared z finish over the summed row — equals
    * [[graft.ml.Eval.spiegelhalterZ]] over everything ingested
    * (spec-proven). */
  def spiegelhalterSink(rows: DataFrame, probCol: String,
      labelCol: String, cellsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(rows, checkpointDir)(spiegelhalterBatch(_, _,
      probCol, labelCol, cellsDir))

  /** The per-row guarded terms and 1e9 scaling are written ONCE here,
    * mirroring [[graft.ml.Eval.spiegelhalterZ]]'s base projection
    * verbatim (same fail-loud guard, same fixed IEEE trees). */
  private[graft] def spiegelhalterBatch(batch: DataFrame, batchId: Long,
      probCol: String, labelCol: String, cellsDir: String): Unit = {
    val D = "decimal(38,0)"
    val base = batch.select(
      when(col(probCol).isNull || col(labelCol).isNull ||
          col(probCol) < 0.0 || col(probCol) > 1.0,
        raise_error(lit("spiegelhalterBatch: NULL or out-of-[0,1] " +
          "probability/label")))
        .otherwise(col(probCol).cast("double")).as("__p"),
      col(labelCol).cast("int").cast("double").as("__y"))
    val num = (col("__y") - col("__p")) *
      (lit(1.0) - lit(2.0) * col("__p"))
    val den = (lit(1.0) - lit(2.0) * col("__p")) *
      (lit(1.0) - lit(2.0) * col("__p")) * col("__p") *
      (lit(1.0) - col("__p"))
    def s9(c: org.apache.spark.sql.Column) =
      sum(floor(c * lit(1e9) + lit(0.5)).cast("long").cast(D))
    BatchStore.append(base.agg(count(lit(1)).as("n"),
      s9(num).as("__num"), s9(den).as("__den")), cellsDir, batchId)
  }

  /** The published view over a [[spiegelhalterSink]] directory: the
    * merged moment row through the same z finish as the batch test. */
  def spiegelhalterView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String): DataFrame =
    graft.ml.Eval.spiegelhalterFromMoments(
      spark.read.parquet(cellsDir).agg(
        sum(col("n")).as("n"),
        sum(col("__num")).cast("decimal(38,0)").as("__num"),
        sum(col("__den")).cast("decimal(38,0)").as("__den")))

  /** Streaming JONCKHEERE–TERPSTRA ordered-trend monitor (F78
    * streaming): the group list is DECLARED up front (a streaming
    * schema cannot discover groups per batch — a batch missing a
    * group would write narrower cells that no longer merge); each
    * micro-batch persists its per-distinct-value group-count cell
    * table `(__v, __n0 … __n{k−1})` under `batch_id=N`; integer
    * counts merge by value-keyed addition, so the published view —
    * value-summed cells through the shared J²/z finish — equals
    * [[graft.ml.RankTests.jonckheereTerpstra]] over everything
    * ingested (spec-proven). A row whose group is not in the declared
    * list (or not an exact integer level) fails loud. */
  def jonckheereSink(rows: DataFrame, groupCol: String, valueCol: String,
      groups: Seq[Long], cellsDir: String, checkpointDir: String)
      : StreamingQuery = {
    require(groups.size >= 2 && groups == groups.sorted &&
      groups.distinct == groups,
      s"jonckheereSink: need >= 2 sorted distinct group levels, " +
        s"got $groups")
    startSink(rows, checkpointDir)(jonckheereBatch(_, _,
      groupCol, valueCol, groups, cellsDir))
  }

  private[graft] def jonckheereBatch(batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, groups: Seq[Long],
      cellsDir: String): Unit = {
    val group = col(groupCol)
    val value = col(valueCol)
    val gLong = group.cast("long")
    val base = batch.filter(value.isNotNull && group.isNotNull)
      .select(
        when(gLong.isNull ||
            gLong.cast("double") =!= group.cast("double") ||
            !gLong.isin(groups: _*),
          raise_error(lit("jonckheereBatch: group label is not one " +
            s"of the declared integer levels $groups")))
          .otherwise(gLong).as("__g"),
        value.as("__v"))
    BatchStore.append(graft.ml.RankTests.jtValueCells(base, groups),
      cellsDir, batchId)
  }

  /** The published view over a [[jonckheereSink]] directory: value-
    * summed cells through the same J²/z finish as the batch test. */
  def jonckheereView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, groups: Seq[Long]): DataFrame = {
    val cells = spark.read.parquet(cellsDir)
      .groupBy(col("__v"))
      .agg(sum(col("__n0")).as("__n0"),
        groups.indices.tail.map(i =>
          sum(col(s"__n$i")).as(s"__n$i")): _*)
    graft.ml.RankTests.jtFromValueCells(cells, groups)
  }

  /** Streaming PCA-MOMENT maintenance: each micro-batch of embedding
    * vectors writes its X102 moment buffer (n, per-dim sums, upper-
    * triangular products — `1 + d + d(d+1)/2` doubles, KBs regardless
    * of batch size) as (idx, v) rows under `batch_id=N`. Moment sums
    * are ASSOCIATIVE, so the published covariance view merges buffers
    * elementwise and equals a one-pass covariance of everything
    * ingested (spec-proven) — the stream never re-scans vectors to
    * refresh the PCA model, and a refit is a matrix-sized read. */
  def momentSink(vectors: DataFrame, vecCol: String, dim: Int,
      momentsDir: String, checkpointDir: String): StreamingQuery =
    startSink(vectors, checkpointDir)(momentBatch(_, _,
      vecCol, dim, momentsDir))

  private[graft] def momentBatch(batch: DataFrame, batchId: Long,
      vecCol: String, dim: Int, momentsDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val buf = graft.ml.Pca.momentBuffer(batch, vecCol, dim)
    BatchStore.append(buf.zipWithIndex.map { case (v, k) => (k.toLong, v) }
      .toSeq.toDF("idx", "v").coalesce(1), momentsDir, batchId)
  }

  /** The published view over a [[momentSink]] directory: covariance of
    * every vector ingested so far, from the elementwise-summed moment
    * buffers (matrix-sized read; identical to a batch
    * [[graft.ml.Pca.covarianceMatrix]] over the union). */
  def covarianceView(spark: org.apache.spark.sql.SparkSession,
      momentsDir: String, dim: Int): DataFrame = {
    val merged = spark.read.parquet(momentsDir)
      .groupBy(col("idx")).agg(sum(col("v")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val buf = Array.tabulate(1 + dim + dim * (dim + 1) / 2)(k =>
      merged.getOrElse(k.toLong, 0.0))
    graft.ml.Pca.covarianceFromBuffer(spark, buf, dim)
  }

  /** Streaming DAILY-AGGREGATE sink for series monitors: each
    * micro-batch persists its per-(key, day) value sums — rows bounded
    * by keys × days touched in the batch, never event volume — under
    * `batch_id=N`. Daily sums are ASSOCIATIVE, so the merged view
    * re-aggregates to exactly the one-pass daily table of everything
    * ingested, and the E16 CUSUM changepoint over the view equals the
    * batch operator over the union (spec-proven): the stream gets a
    * "did this series shift level" monitor without ever re-scanning
    * raw events. */
  def dailyAggSink(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, dailyDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(events, checkpointDir)(dailyAggBatch(_, _,
      keyCol, tsCol, valueCol, dailyDir))

  private[graft] def dailyAggBatch(batch: DataFrame, batchId: Long,
      keyCol: String, tsCol: String, valueCol: String,
      dailyDir: String): Unit = {
    // DECIMAL sums (exact, associative): the merged view's re-aggregate
    // is then bit-identical to the one-pass batch daily table, keeping
    // E16 parity exact regardless of batch boundaries (r9 lesson).
    BatchStore.append(batch.groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valueCol).cast("decimal(18,2)")).as("x")),
      dailyDir, batchId)
  }

  /** The published view over a [[dailyAggSink]] directory: the E16
    * CUSUM changepoint table over the merged daily sums. */
  def cusumView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String): DataFrame =
    graft.events.Resample.cusumFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol)

  /** E36 over the SAME [[dailyAggSink]] store: the Pettitt
    * distribution-shift test as a streaming monitor — one daily cell
    * directory feeds all four changepoint/trend views (CUSUM locates,
    * Pettitt tests, Mann–Kendall judges the trend, Page–Hinkley says
    * when an online monitor would have fired); DECIMAL daily sums are
    * associative, so every view is bit-equal to its batch operator
    * regardless of batch boundaries. */
  def pettittView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String, alpha: Double = 0.05)
      : DataFrame =
    graft.events.Resample.pettittFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol, alpha)

  /** E37 Mann–Kendall trend verdicts over a [[dailyAggSink]] store. */
  def mannKendallView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String): DataFrame =
    graft.events.Resample.mannKendallFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol)

  /** E38 Page–Hinkley alarms over a [[dailyAggSink]] store — the
    * "would the online monitor have fired yet" readout, refreshed per
    * micro-batch. */
  def pageHinkleyView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String, delta: Double, lambda: Double,
      detectIncrease: Boolean = true): DataFrame = {
    require(lambda > 0, s"pageHinkleyView: lambda must be > 0")
    graft.events.Resample.pageHinkleyFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol, delta, lambda,
      detectIncrease)
  }

  /** E39 seasonal (Hirsch–Slack) Mann–Kendall over a [[dailyAggSink]]
    * store — the fifth view of the same daily-cell directory: the
    * seasonality-robust trend verdict (MK within day-of-week seasons,
    * per-season statistics summed exactly). */
  def seasonalMannKendallView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String): DataFrame =
    graft.events.Resample.seasonalMannKendallFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol)

  /** E40 seasonal Theil–Sen slope over a [[dailyAggSink]] store — the
    * sixth view: HOW BIG the trend [[seasonalMannKendallView]] judges,
    * from the same merged daily cells. */
  def seasonalTheilSenView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String): DataFrame =
    graft.events.Resample.seasonalTheilSenFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol)

  /** E41 sigma-clipped anomalous days over a [[dailyAggSink]] store —
    * the seventh view: the POINT anomalies the changepoint views don't
    * flag, from the same merged daily cells. */
  def anomalousDaysView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String, nSigma: Double = 3.0,
      maxIter: Int = 3): DataFrame =
    graft.events.Resample.anomalousDaysFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol, nSigma, maxIter)

  /** E42 Wald–Wolfowitz runs test over a [[dailyAggSink]] store — the
    * eighth view: is the series RANDOM around its median, or clumping
    * (the autocorrelation the trend views can't see)? */
  def runsTestView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String): DataFrame =
    graft.events.Resample.runsTestFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol)

  /** E43 over the SAME [[dailyAggSink]] store — the NINTH view one
    * daily cell directory feeds: the per-entity autocorrelation
    * spectrum (at which horizon does the series remember), through
    * the batch [[graft.events.Resample.acfFromDaily]] finish
    * verbatim. */
  def acfView(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String, maxLag: Int = 7): DataFrame =
    graft.events.Resample.acfFromDaily(
      mergedDaily(spark, dailyDir, keyCol), keyCol, maxLag)

  /** The merged (key, day, __x) daily table of a [[dailyAggSink]]
    * directory — per-batch partial daily sums re-aggregated (exact
    * DECIMAL addition), shared by every view above. */
  private def mergedDaily(spark: org.apache.spark.sql.SparkSession,
      dailyDir: String, keyCol: String): DataFrame =
    spark.read.parquet(dailyDir)
      .groupBy(col(keyCol), col("day"))
      .agg(sum(col("x")).as("__x"))

  /** Streaming CATEGORY-CELL sink (the D30 monitor's store): each
    * micro-batch persists its per-category counts under `batch_id=N`
    * — rows bounded by category cardinality, never event volume;
    * counts are exact and mergeable. NULL categories fail loud exactly
    * like the batch operator. */
  def categoryCellSink(rows: DataFrame, catCol: String,
      cellsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(categoryCellBatch(_, _, catCol, cellsDir))

  private[graft] def categoryCellBatch(batch: DataFrame, batchId: Long,
      catCol: String, cellsDir: String): Unit =
    BatchStore.append(batch
      .select(when(col(catCol).isNull,
        raise_error(lit(s"categoryCellSink: NULL category in " +
          s"'$catCol' — bucket NULLs explicitly")))
        .otherwise(col(catCol).cast("string")).as("cat"))
      .groupBy(col("cat")).agg(count(lit(1)).as("n")), cellsDir, batchId)

  /** The D30 drift scorecard of everything ingested so far against a
    * FROZEN reference relation: merged stream cells full-outer-joined
    * to the reference's category counts, finished by the batch
    * [[graft.dq.Dq.categoricalDriftFromCells]] kernel verbatim —
    * counts are mergeable, so the view equals the batch operator over
    * the union of all micro-batches (spec-proven). */
  def categoricalDriftView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, catCol: String,
      maxCategories: Int = 100000): DataFrame = {
    val cur = spark.read.parquet(cellsDir)
      .groupBy(col("cat")).agg(sum(col("n")).as("__nc"))
    val ref = reference
      .select(when(col(catCol).isNull,
        raise_error(lit(s"categoricalDriftView: NULL category in " +
          s"reference '$catCol' — bucket NULLs explicitly")))
        .otherwise(col(catCol).cast("string")).as("cat"))
      .groupBy(col("cat")).agg(count(lit(1)).as("__nr"))
    val cells = ref.join(cur, Seq("cat"), "full_outer")
      .select(col("cat").as("__cat"),
        coalesce(col("__nr"), lit(0L)).as("nr"),
        coalesce(col("__nc"), lit(0L)).as("nc"))
    graft.dq.Dq.categoricalDriftFromCells(cells, maxCategories)
  }

  /** Streaming GROWTH-ACCOUNTING sink (the W18 ledger over a stream):
    * each micro-batch persists its DISTINCT (entity, activity-week)
    * pairs — rows bounded by users × weeks touched, never event
    * volume — under `batch_id=N`. Distinct pairs are a SET, so the
    * merged view's re-distinct is EXACTLY the one-pass pair table of
    * everything ingested and the W18 kernel over it equals the batch
    * operator over the union (spec-proven). */
  def userWeekSink(events: DataFrame, weeksDir: String,
      checkpointDir: String,
      c: graft.events.EventCols = graft.events.EventCols()): StreamingQuery =
    startSink(events, checkpointDir)(userWeekBatch(_, _, weeksDir, c))

  private[graft] def userWeekBatch(batch: DataFrame, batchId: Long,
      weeksDir: String, c: graft.events.EventCols): Unit =
    BatchStore.append(batch.select(col(c.entity).as("u"),
        date_trunc("week", col(c.ts)).cast("date").as("w"))
      .distinct(), weeksDir, batchId)

  /** The published view over a [[userWeekSink]] directory: the W18
    * growth ledger over the merged distinct pairs. */
  def growthView(spark: org.apache.spark.sql.SparkSession,
      weeksDir: String): DataFrame =
    graft.events.EventFeatures.growthFromUserWeeks(
      spark.read.parquet(weeksDir)
        .select(col("u").as("__u"), col("w").as("__w")).distinct())

  /** Streaming COHORT-VALUE sink (the E23 LTV curves over a stream):
    * each micro-batch persists its per-(entity, week) DECIMAL value
    * sums — bounded by users × weeks touched, never event volume —
    * under `batch_id=N`. Weekly decimal sums are exact and
    * associative, so the merged view's re-aggregate equals the
    * one-pass weekly table of everything ingested and the E23 kernel
    * over it equals the batch operator over the union (spec-proven). */
  def cohortValueSink(events: DataFrame, valsDir: String,
      checkpointDir: String,
      c: graft.events.EventCols = graft.events.EventCols()): StreamingQuery =
    startSink(events, checkpointDir)(cohortValueBatch(_, _, valsDir, c))

  private[graft] def cohortValueBatch(batch: DataFrame, batchId: Long,
      valsDir: String, c: graft.events.EventCols): Unit =
    BatchStore.append(batch.groupBy(col(c.entity).as("u"),
        date_trunc("week", col(c.ts)).cast("date").as("w"))
      .agg(sum(col(c.value).cast("decimal(18,2)")).as("v")), valsDir, batchId)

  /** The published view over a [[cohortValueSink]] directory: the E23
    * LTV curve table over the merged weekly value sums. */
  def ltvView(spark: org.apache.spark.sql.SparkSession,
      valsDir: String): DataFrame =
    graft.events.EventFeatures.ltvFromUserWeeks(
      spark.read.parquet(valsDir)
        .groupBy(col("u").as("__u"), col("w").as("__w"))
        .agg(sum(col("v")).cast("decimal(18,2)").as("__v")))

  /** Streaming LANDING/EXIT monitor (the W16 matrix over a stream):
    * the same session-fragment discipline as [[sequentialRuleSink]],
    * with richer fragments — each micro-batch persists per
    * (entity, batch-session) the event count and the FIRST/LAST
    * (ts, id, type) triples. First/last compose under fragment merge
    * (the merged session's landing is the min-(ts, id) fragment
    * first, exit the max-(ts, id) fragment last — even when an
    * out-of-order batch PREPENDS earlier events to a seen session),
    * so the view rebuilds exactly the batch W16 report over the
    * union (spec-proven). */
  def sessionStatsSink(events: DataFrame, timeoutSec: Long,
      fragDir: String, checkpointDir: String,
      c: graft.events.EventCols = graft.events.EventCols()): StreamingQuery =
    startSink(events, checkpointDir)(sessionStatsBatch(_, _,
      timeoutSec, fragDir, c))

  private[graft] def sessionStatsBatch(batch: DataFrame, batchId: Long,
      timeoutSec: Long, fragDir: String,
      c: graft.events.EventCols): Unit =
    BatchStore.append(
      graft.events.EventFunctions.sessionize(batch, timeoutSec, c)
      .groupBy(col(c.entity), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col(c.ts), col(c.id), col(c.eventType))).as("__f"),
        max(struct(col(c.ts), col(c.id), col(c.eventType))).as("__l"))
      .select(col(c.entity), col("session_id"), col("n_events"),
        col("__f").getField(c.ts).as("first_ts"),
        col("__f").getField(c.id).as("first_id"),
        col("__f").getField(c.eventType).as("first_type"),
        col("__l").getField(c.ts).as("last_ts"),
        col("__l").getField(c.id).as("last_id"),
        col("__l").getField(c.eventType).as("last_type")), fragDir, batchId)

  /** The published view over a [[sessionStatsSink]] directory: the
    * W16 landing/exit matrix over the merged fragments — the same
    * entity-keyed hull sweep as [[sequentialRulesView]], then
    * min/max-(ts, id) composition of first/last, then the shared W16
    * kernel. */
  def landingExitView(spark: org.apache.spark.sql.SparkSession,
      fragDir: String, timeoutSec: Long,
      c: graft.events.EventCols = graft.events.EventCols()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = spark.read.parquet(fragDir)
    val w = Window.partitionBy(col(c.entity))
      .orderBy(col("first_ts"), col("first_id"), col("batch_id"),
        col("session_id"))
    val prevEnd = max(unix_timestamp(col("last_ts")))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = rows
      .withColumn("__new", when(prevEnd.isNull ||
        unix_timestamp(col("first_ts")) - prevEnd > timeoutSec, 1)
        .otherwise(0))
      .withColumn("__ms", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val per = merged.groupBy(col(c.entity), col("__ms"))
      .agg(
        min_by(col("first_type"), struct(col("first_ts"),
          col("first_id"))).as("__landing"),
        max_by(col("last_type"), struct(col("last_ts"),
          col("last_id"))).as("__exit"),
        sum(col("n_events")).as("__ne"))
    graft.events.EventFunctions.landingExitFromSessions(per)
  }

  /** Streaming SESSION-SPANNING sequential-rule monitor (the W14 rule
    * table over a stream): each micro-batch sessionizes ITS OWN events
    * and persists per-(entity, batch-session, type) ts-min/max
    * FRAGMENTS — rows bounded by sessions × types touched in the
    * batch, never event volume — under `batch_id=N`. Fragments are
    * exactly mergeable: within a batch-session, consecutive events are
    * gap-bounded by construction, and interleaving events from other
    * batches only telescope gaps (u(b)−u(a) = (u(b)−u(c)) +
    * (u(c)−u(a))), so two fragments belong to one true session of the
    * UNION iff the next hull start is within the timeout of the
    * latest preceding hull end — which is what the view's entity-keyed
    * sweep checks. The reconstructed sessions therefore EQUAL a batch
    * sessionize over everything ingested (spec-proven), and the rule
    * table is the identical [[graft.events.EventFunctions]] W14 kernel
    * over the merged stats. */
  def sequentialRuleSink(events: DataFrame, timeoutSec: Long,
      fragDir: String, checkpointDir: String,
      c: graft.events.EventCols = graft.events.EventCols()): StreamingQuery =
    startSink(events, checkpointDir)(sequentialRuleBatch(_, _,
      timeoutSec, fragDir, c))

  private[graft] def sequentialRuleBatch(batch: DataFrame, batchId: Long,
      timeoutSec: Long, fragDir: String,
      c: graft.events.EventCols): Unit =
    BatchStore.append(
      graft.events.EventFunctions.sessionize(batch, timeoutSec, c)
      .groupBy(col(c.entity), col("session_id"), col(c.eventType))
      .agg(min(col(c.ts)).as("min_ts"), max(col(c.ts)).as("max_ts")),
      fragDir, batchId)

  /** The published view over a [[sequentialRuleSink]] directory: the
    * W14 sequential-rule table over the merged session fragments —
    * fragment hulls swept per entity (gap > timeout on truncated
    * seconds, exactly [[graft.events.EventFunctions.sessionize]]'s
    * rule) into true sessions, per-type stats re-merged by min/max,
    * then the shared rule kernel. */
  def sequentialRulesView(spark: org.apache.spark.sql.SparkSession,
      fragDir: String, timeoutSec: Long, minSupport: Long = 1L,
      c: graft.events.EventCols = graft.events.EventCols()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = spark.read.parquet(fragDir)
    val frag = rows
      .groupBy(col(c.entity), col("batch_id"), col("session_id"))
      .agg(min(col("min_ts")).as("__fs"), max(col("max_ts")).as("__fe"))
    val w = Window.partitionBy(col(c.entity))
      .orderBy(col("__fs"), col("__fe"), col("batch_id"),
        col("session_id"))
    val prevEnd = max(unix_timestamp(col("__fe")))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = frag
      .withColumn("__new", when(prevEnd.isNull ||
        unix_timestamp(col("__fs")) - prevEnd > timeoutSec, 1)
        .otherwise(0))
      .withColumn("__ms", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col(c.entity).as("__me"), col("batch_id").as("__mb"),
        col("session_id").as("__msid"), col("__ms"))
    val st = graft.util.Caches.persistTracked(
      rows.join(merged,
          col(c.entity) === col("__me") &&
            col("batch_id") === col("__mb") &&
            col("session_id") === col("__msid"))
        .groupBy(col(c.entity), col("__ms").as("session_id"),
          col(c.eventType))
        .agg(min(col("min_ts")).as("__min_ts"),
          max(col("max_ts")).as("__max_ts")))
    graft.events.EventFunctions.rulesFromSessionTypeStats(st, minSupport,
      c)
  }

  /** The published view over a [[countMinSink]] directory: the merged
    * cell table — cell-wise sums over every ingested batch, exactly the
    * sketch a one-pass build over the union would produce. Feed it to
    * [[graft.sketch.Sketches.countMinEstimate]] for point queries. */
  def countMinView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, groupCol: String): DataFrame =
    spark.read.parquet(cellsDir)
      .groupBy(col(groupCol), col("r"), col("c"))
      .agg(sum(col("n")).as("n"))

  /** Streaming weighted-sample maintenance: each micro-batch keeps its
    * own X87 priority-sample top-k (k rows max, whatever the batch
    * size) under `batch_id=N`; the published view re-ranks the union of
    * the persisted batch winners. Priority sampling is MERGEABLE by
    * construction — the priority is a pure row function of (seed, id,
    * weight), so every global winner is also a winner within its own
    * batch, and top-k over the stored per-batch top-ks equals the batch
    * operator over the union of everything ingested (spec-proven). */
  def prioritySampleSink(rows: DataFrame, idCol: String,
      weightCol: String, k: Int, seed: String, sampleDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(prioritySampleBatch(_, _,
      idCol, weightCol, k, seed, sampleDir))

  private[graft] def prioritySampleBatch(batch: DataFrame, batchId: Long,
      idCol: String, weightCol: String, k: Int, seed: String,
      sampleDir: String): Unit =
    BatchStore.append(graft.curate.Curation.prioritySample(batch, idCol,
      weightCol, k, seed).drop("sample_rank"), sampleDir, batchId)

  /** The published view over a [[prioritySampleSink]] directory: the
    * stream-wide k highest-priority rows with fresh ranks — identical
    * to [[graft.curate.Curation.prioritySample]] over the union of
    * every ingested batch. */
  def prioritySampleView(spark: org.apache.spark.sql.SparkSession,
      sampleDir: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("priority").desc, col(idCol))
    spark.read.parquet(sampleDir)
      .orderBy(col("priority").desc, col(idCol)).limit(k)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
  }

  /** Streaming DRIFT MONITOR: each micro-batch bins its values against
    * the FROZEN reference quantile edges ([[graft.dq.Dq.quantileEdges]]
    * — computed once, offline, from the reference population) and
    * persists its bins-sized count table under `batch_id=N`; the
    * published view scores every batch's PSI against the reference —
    * "did the feature distribution drift THIS batch" as a lookup over
    * stored summaries, no raw re-scan. Edges must stay frozen across
    * the stream (that is the point: drift is measured against a fixed
    * yardstick). */
  def driftMonitorSink(rows: DataFrame, valueCol: String,
      edges: Array[Double], statsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(rows, checkpointDir)(driftMonitorBatch(_, _,
      valueCol, edges, statsDir))

  private[graft] def driftMonitorBatch(batch: DataFrame, batchId: Long,
      valueCol: String, edges: Array[Double], statsDir: String): Unit =
    BatchStore.append(batch.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(graft.dq.Dq.binOf(col("__v"), edges).as("bin"))
      .agg(count(lit(1)).as("n_cur")), statsDir, batchId)

  /** The published view over a [[driftMonitorSink]] directory: one row
    * per ingested batch with its PSI against the reference bin counts
    * — the same clipped-share formula as [[graft.dq.Dq.psiDrift]], so
    * each batch's score is identical to running the batch operator on
    * that micro-batch (spec-proven). `refCounts` is the bins-sized
    * (bin, n_ref) table of the frozen reference. */
  def driftMonitorView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String, refCounts: DataFrame, bins: Int,
      minShare: Double = 1e-4): DataFrame = {
    val nRef = refCounts.agg(coalesce(sum(col("n_ref")), lit(0L)))
      .head().getLong(0)
    require(nRef > 0, "driftMonitorView: empty reference")
    // partition discovery types batch_id as INT; pin the contract
    val cur = spark.read.parquet(statsDir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val spine = spark.range(1, bins + 1)
      .select(col("id").cast("int").as("bin"))
      .crossJoin(cur.select(col("batch_id")).distinct())
    val nCur = cur.groupBy(col("batch_id"))
      .agg(sum(col("n_cur")).as("__nc"))
    spine
      .join(refCounts, Seq("bin"), "left")
      .join(cur, Seq("batch_id", "bin"), "left")
      .join(nCur, "batch_id")
      .select(col("batch_id"), col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"), col("__nc"))
      .withColumn("__p",
        greatest(col("n_ref").cast("double") / lit(nRef.toDouble),
          lit(minShare)))
      .withColumn("__q",
        greatest(col("n_cur").cast("double") / col("__nc").cast("double"),
          lit(minShare)))
      .groupBy(col("batch_id"))
      .agg(round(sum((col("__p") - col("__q")) *
        log(col("__p") / col("__q"))), 6).as("psi"))
  }

  /** Streaming LIFT/GAINS monitor (F28 streaming): each micro-batch of
    * (score, label) rows is binned against FROZEN score edges (computed
    * once, offline — the fixed yardstick, same discipline as
    * [[driftMonitorSink]]) and persists its (bucket, n, n_pos) integer
    * count table — bins-sized, KBs regardless of batch volume — under
    * `batch_id=N`. The counts are exact and mergeable, so the published
    * view's decile table over the whole stream equals the batch kernel
    * over the union (spec-proven). Bucket 1 holds the TOP scores (the
    * gains-table convention). */
  def liftMonitorSink(rows: DataFrame, scoreCol: String, labelCol: String,
      edges: Array[Double], statsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(rows, checkpointDir)(liftMonitorBatch(_, _,
      scoreCol, labelCol, edges, statsDir))

  private[graft] def liftMonitorBatch(batch: DataFrame, batchId: Long,
      scoreCol: String, labelCol: String, edges: Array[Double],
      statsDir: String): Unit = {
    // binOf counts ascending; flip so bucket 1 = highest scores
    val bucket = lit(edges.length + 2) -
      graft.dq.Dq.binOf(col("__s"), edges)
    BatchStore.append(batch
      .select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("int").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y") === 1, 1L).otherwise(0L)).as("n_pos")),
      statsDir, batchId)
  }

  /** The published view over a [[liftMonitorSink]] directory: the
    * merged per-bucket counts through the SAME lift/gains kernel as
    * the batch operator ([[graft.ml.Eval.liftFromCounts]]) — (bucket,
    * n, n_pos, pos_rate, cum_pos, capture, lift). */
  def liftMonitorView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.ml.Eval.liftFromCounts(
      spark.read.parquet(statsDir)
        .groupBy(col("bucket"))
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos")))

  /** Streaming SPLIT-BALANCE audit (X125 streaming): each micro-batch
    * of already-split rows persists its (split, stratum) count table —
    * splits×strata rows, KBs — under `batch_id=N`; the published view
    * merges the counts and reports each stratum's within-split share,
    * the governance check that the upstream split keeps preserving the
    * stratum mix as data flows. Counts are exact and mergeable, so the
    * view equals the batch audit over the union (spec-proven). */
  def splitBalanceSink(rows: DataFrame, splitCol: String,
      stratumCol: String, statsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(rows, checkpointDir)(splitBalanceBatch(_, _,
      splitCol, stratumCol, statsDir))

  private[graft] def splitBalanceBatch(batch: DataFrame, batchId: Long,
      splitCol: String, stratumCol: String, statsDir: String): Unit =
    BatchStore.append(batch
      .groupBy(col(splitCol).as("split"), col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n")), statsDir, batchId)

  /** The published view over a [[splitBalanceSink]] directory: merged
    * (split, stratum, n, share) with share = n / Σ_split n — the same
    * expression as the q_x125 batch audit. */
  def splitBalanceView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame = {
    val per = spark.read.parquet(statsDir)
      .groupBy(col("split"), col("stratum"))
      .agg(sum(col("n")).as("n"))
    val tot = per.groupBy(col("split")).agg(sum(col("n")).as("__t"))
    per.join(tot, "split")
      .select(col("split"), col("stratum"), col("n"),
        (col("n").cast("double") / col("__t").cast("double"))
          .as("share"))
  }

  /** Streaming FAIRNESS monitor (F68 streaming): each micro-batch of
    * (group, pred, label) decisions persists its per-group confusion
    * cell table ([[graft.ml.Eval.fairnessCells]] — group-count-sized,
    * KBs) under `batch_id=N`. Cells are exact mergeable counters, so
    * the published view's parity/DI/equalized-odds report over the
    * whole stream equals the batch [[graft.ml.Eval.fairnessReport]]
    * over the union (spec-proven) — "is the filter drifting into
    * discarding one source disproportionately" as a live dashboard. */
  def fairnessSink(rows: DataFrame, groupCol: String, predCol: String,
      labelCol: String, statsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(rows, checkpointDir)(fairnessBatch(_, _,
      groupCol, predCol, labelCol, statsDir))

  private[graft] def fairnessBatch(batch: DataFrame, batchId: Long,
      groupCol: String, predCol: String, labelCol: String,
      statsDir: String): Unit =
    BatchStore.append(graft.ml.Eval.fairnessCells(batch, groupCol,
      col(predCol), col(labelCol)), statsDir, batchId)

  /** The published view over a [[fairnessSink]] directory: merged
    * cells through the SAME derivation as the batch operator
    * ([[graft.ml.Eval.fairnessFromCells]]). */
  def fairnessView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.ml.Eval.fairnessFromCells(
      spark.read.parquet(statsDir)
        .groupBy(col("group"))
        .agg(sum(col("n")).as("n"), sum(col("__sel")).as("__sel"),
          sum(col("__pos")).as("__pos"), sum(col("__tp")).as("__tp"),
          sum(col("__fp")).as("__fp"),
          sum(col("__n_null")).as("__n_null")))

  /** Streaming CONFORMAL monitor (F69 streaming): each micro-batch
    * persists its distinct-score count table under `batch_id=N`;
    * counts are exact and mergeable, so the published view's
    * threshold table over the whole stream equals the batch
    * [[graft.ml.Eval.conformalThresholds]] over the union
    * (spec-proven) — live "flag the weirdest α" cutoffs that tighten
    * as calibration data accumulates. The persisted table is
    * DISTINCT-SCORE-sized: for continuous scores callers should
    * pre-quantize the score column to a fixed grid — an explicit
    * modeling choice, never silent policy. */
  def conformalSink(rows: DataFrame, scoreCol: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(conformalBatch(_, _, scoreCol, statsDir))

  private[graft] def conformalBatch(batch: DataFrame, batchId: Long,
      scoreCol: String, statsDir: String): Unit =
    BatchStore.append(batch
      .select(col(scoreCol).cast("double").as("__s"))
      .filter(col("__s").isNotNull)
      .groupBy(col("__s")).agg(count(lit(1)).as("__c")), statsDir, batchId)

  /** The published view over a [[conformalSink]] directory: merged
    * distinct-score counts through the SAME order-statistic kernel as
    * the batch operator ([[graft.ml.Eval.conformalFromCounts]]). */
  def conformalView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String,
      alphas: Seq[Double] = Seq(0.01, 0.05, 0.1, 0.2)): DataFrame =
    graft.ml.Eval.conformalFromCounts(spark,
      spark.read.parquet(statsDir)
        .groupBy(col("__s")).agg(sum(col("__c")).as("__c")),
      alphas)

  /** Streaming SCRIPT-MIX monitor (X148 streaming): each micro-batch
    * of documents persists its summed per-class codepoint counts (ONE
    * row per batch — the [[graft.text.TextStats.scriptProfile]]
    * per-doc counters reduced; exact, mergeable) under `batch_id=N`;
    * the published view re-sums and reports the corpus-wide script mix
    * with quantized shares — the "did the crawl start drifting into a
    * script our langid never saw" alarm. */
  def scriptMixSink(docs: DataFrame, idCol: String, textCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(docs, checkpointDir)(scriptMixBatch(_, _,
      idCol, textCol, statsDir))

  private[graft] def scriptMixBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, statsDir: String): Unit =
    BatchStore.append(graft.text.TextStats.scriptProfile(batch, idCol, textCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_latin")).as("n_latin"),
        sum(col("n_cyrillic")).as("n_cyrillic"),
        sum(col("n_cjk")).as("n_cjk"),
        sum(col("n_arabic")).as("n_arabic"),
        sum(col("n_digit")).as("n_digit"),
        sum(col("n_space")).as("n_space"),
        sum(col("n_chars")).as("n_chars")), statsDir, batchId)

  /** The published view over a [[scriptMixSink]] directory: merged
    * counts with quantized corpus-wide shares. */
  def scriptMixView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame = {
    val m = spark.read.parquet(statsDir)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_latin")).as("n_latin"),
        sum(col("n_cyrillic")).as("n_cyrillic"),
        sum(col("n_cjk")).as("n_cjk"),
        sum(col("n_arabic")).as("n_arabic"),
        sum(col("n_digit")).as("n_digit"),
        sum(col("n_space")).as("n_space"),
        sum(col("n_chars")).as("n_chars"))
    val t = col("n_chars").cast("double")
    m.select(col("n_docs"), col("n_latin"), col("n_cyrillic"),
      col("n_cjk"), col("n_arabic"), col("n_digit"), col("n_space"),
      col("n_chars"),
      graft.functions.q6(when(col("n_chars") > 0,
        col("n_latin").cast("double") / t)).as("latin_share"),
      graft.functions.q6(when(col("n_chars") > 0,
        col("n_cyrillic").cast("double") / t)).as("cyrillic_share"),
      graft.functions.q6(when(col("n_chars") > 0,
        col("n_cjk").cast("double") / t)).as("cjk_share"))
  }

  /** Streaming KEY-SKEW monitor (X126 streaming): each micro-batch
    * persists its per-key row counts under `batch_id=N` (bounded by
    * the batch's key cardinality); counts are exact and mergeable, so
    * the published view — the shared
    * [[graft.dq.Stats.keySkewFromCounts]] kernel over the summed
    * counts — equals the batch report over everything ingested
    * (spec-proven). The "is this join key developing a hot lane"
    * dashboard for a continuously-ingested table. */
  def keySkewSink(rows: DataFrame, keyCol: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(keySkewBatch(_, _, keyCol, statsDir))

  private[graft] def keySkewBatch(batch: DataFrame, batchId: Long,
      keyCol: String, statsDir: String): Unit =
    BatchStore.append(batch.select(col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("n")), statsDir, batchId)

  /** The published view over a [[keySkewSink]] directory: the merged
    * per-key counts through the same skew kernel as the batch report. */
  def keySkewView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String, k: Int = 10): DataFrame =
    graft.dq.Stats.keySkewFromCounts(
      spark.read.parquet(statsDir)
        .groupBy(col("key")).agg(sum(col("n")).as("n")), k)

  /** Streaming NULL-RATE drift monitor (D17 streaming): each
    * micro-batch persists per-column (n, n_nonnull) counts — a
    * columns-sized table, mergeable — under `batch_id=N`; the
    * published view compares the stream-wide null rate per column
    * against a FROZEN reference rate table (the D5 frozen-yardstick
    * discipline) and reports the delta. Catches the upstream change
    * that silently started writing NULLs without any schema change. */
  def nullRateSink(rows: DataFrame, cols: Seq[String], statsDir: String,
      checkpointDir: String): StreamingQuery = {
    require(cols.nonEmpty, "nullRateSink: no columns")
    startSink(rows, checkpointDir)(nullRateBatch(_, _, cols, statsDir))
  }

  private[graft] def nullRateBatch(batch: DataFrame, batchId: Long,
      cols: Seq[String], statsDir: String): Unit = {
    val agg = batch.agg(count(lit(1)).as("__n"),
      cols.map(c => count(col(c)).as(s"__c_$c")): _*)
    val rows = cols.map(c => struct(lit(c).as("column"),
      col("__n").as("n"), col(s"__c_$c").as("n_nonnull")))
    BatchStore.append(agg.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.*")), statsDir, batchId)
  }

  /** The published view over a [[nullRateSink]] directory: stream-wide
    * per-column null rates vs the frozen `refRates` (column, ref_rate)
    * table — (column, n, null_rate, ref_rate, delta). */
  def nullRateView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String, refRates: DataFrame): DataFrame =
    spark.read.parquet(statsDir)
      .groupBy(col("column"))
      .agg(sum(col("n")).as("n"), sum(col("n_nonnull")).as("__nn"))
      .withColumn("null_rate",
        (col("n") - col("__nn")).cast("double") / col("n").cast("double"))
      .join(refRates, Seq("column"), "left")
      .select(col("column"), col("n"), col("null_rate"), col("ref_rate"),
        (col("null_rate") - col("ref_rate")).as("delta"))

  /** Streaming BENFORD monitor (D21 streaming): each micro-batch
    * persists its first-digit count table (≤ 10 rows — digits 1–9 plus
    * the NULL skipped-row census) under `batch_id=N`; digit counts are
    * exact and mergeable, so the published view — the shared
    * [[graft.dq.Dq.benfordFromCounts]] kernel over the summed counts —
    * equals the batch test over everything ingested (spec-proven).
    * The "did the amounts feed start emitting invented numbers"
    * dashboard. */
  def benfordSink(rows: DataFrame, valueCol: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(benfordBatch(_, _, valueCol, statsDir))

  private[graft] def benfordBatch(batch: DataFrame, batchId: Long,
      valueCol: String, statsDir: String): Unit =
    BatchStore.append(batch
      .select(floor(abs(col(valueCol).cast("double")) * lit(100.0) +
        lit(0.5)).cast("long").as("__cents"))
      .select(when(col("__cents") > 0,
        substring(col("__cents").cast("string"), 1, 1).cast("int"))
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("__n")), statsDir, batchId)

  /** The published view over a [[benfordSink]] directory: merged digit
    * counts through the same χ²/MAD kernel as the batch test. */
  def benfordView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.dq.Dq.benfordFromCounts(
      spark.read.parquet(statsDir)
        .groupBy(col("digit")).agg(sum(col("__n")).as("__n")))

  /** Streaming CONFUSION monitor (F36 streaming): each micro-batch
    * persists ONE (tp, fp, tn, fn, null-count) row under `batch_id=N`;
    * the four counters are exact and mergeable, so the published view
    * — the shared [[graft.ml.Eval.confusionFromCounts]] scorecard over
    * the summed row — equals the batch suite over everything ingested
    * (spec-proven). The live model-health dashboard as labeled
    * feedback trickles in. */
  def confusionSink(rows: DataFrame, predCol: String, labelCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(confusionBatch(_, _,
      predCol, labelCol, statsDir))

  private[graft] def confusionBatch(batch: DataFrame, batchId: Long,
      predCol: String, labelCol: String, statsDir: String): Unit = {
    val p = col(predCol).cast("int")
    val y = col(labelCol).cast("int")
    BatchStore.append(batch.agg(
      coalesce(sum(when(p === 1 && y === 1, 1L)), lit(0L)).as("tp"),
      coalesce(sum(when(p === 1 && y === 0, 1L)), lit(0L)).as("fp"),
      coalesce(sum(when(p === 0 && y === 0, 1L)), lit(0L)).as("tn"),
      coalesce(sum(when(p === 0 && y === 1, 1L)), lit(0L)).as("fn"),
      coalesce(sum(when(p.isNull || y.isNull, 1L)), lit(0L))
        .as("__n_null")), statsDir, batchId)
  }

  /** The published view over a [[confusionSink]] directory: the merged
    * counters through the same scorecard derivation as the batch
    * suite. */
  def confusionView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.ml.Eval.confusionFromCounts(
      spark.read.parquet(statsDir).agg(
        sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
        sum(col("tn")).as("tn"), sum(col("fn")).as("fn"),
        sum(col("__n_null")).as("__n_null")))

  /** Streaming WELCH A/B monitor (F42 streaming): each micro-batch
    * persists ONE row of per-variant DECIMAL moment sums (n, Σx, Σx²)
    * under `batch_id=N`; decimal addition is exact and associative, so
    * the published view — [[graft.dq.Stats.welchFromMoments]] over the
    * summed row — equals the batch test over everything ingested
    * (spec-proven). The continuously-updating experiment readout. */
  def welchSink(rows: DataFrame, variantCol: String, valueCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(welchBatch(_, _,
      variantCol, valueCol, statsDir))

  private[graft] def welchBatch(batch: DataFrame, batchId: Long,
      variantCol: String, valueCol: String, statsDir: String): Unit = {
    val variant = col(variantCol)
    val x = col(valueCol).cast("decimal(18,6)")
    BatchStore.append(batch.agg(
      coalesce(sum(when(variant === 0, 1L).otherwise(0L)), lit(0L))
        .as("n0"),
      coalesce(sum(when(variant === 1, 1L).otherwise(0L)), lit(0L))
        .as("n1"),
      sum(when(variant === 0, x)).as("__s0"),
      sum(when(variant === 1, x)).as("__s1"),
      sum(when(variant === 0, x * x)).as("__q0"),
      sum(when(variant === 1, x * x)).as("__q1")), statsDir, batchId)
  }

  /** The published view over a [[welchSink]] directory: the merged
    * moments through the same Welch derivation as the batch test. */
  def welchView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.dq.Stats.welchFromMoments(
      spark.read.parquet(statsDir).agg(
        sum(col("n0")).as("n0"), sum(col("n1")).as("n1"),
        sum(col("__s0")).as("__s0"), sum(col("__s1")).as("__s1"),
        sum(col("__q0")).as("__q0"), sum(col("__q1")).as("__q1")))

  /** Streaming UCB1 dashboard (F43 streaming): each micro-batch
    * persists its per-arm (pulls, DECIMAL reward sum) table under
    * `batch_id=N`; both merge exactly, so the published view —
    * [[graft.dq.Stats.ucbFromCounts]] over the summed arms — equals
    * the batch snapshot over every pull ingested (spec-proven). The
    * live "which arm next" readout. */
  def ucbSink(rows: DataFrame, armCol: String, rewardCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(ucbBatch(_, _, armCol, rewardCol, statsDir))

  private[graft] def ucbBatch(batch: DataFrame, batchId: Long,
      armCol: String, rewardCol: String, statsDir: String): Unit =
    BatchStore.append(batch.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col(rewardCol).cast("decimal(18,6)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)"))
          .as("__r")), statsDir, batchId)

  /** The published view over a [[ucbSink]] directory: merged arm
    * counts through the same UCB1 derivation as the batch snapshot. */
  def ucbView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.dq.Stats.ucbFromCounts(
      spark.read.parquet(statsDir)
        .groupBy(col("arm"))
        .agg(sum(col("n")).as("n"), sum(col("__r")).as("__r")))

  /** Streaming BH-FDR dashboard (F38 streaming): each micro-batch
    * persists its per-group (n0, n1, c0, c1) count table under
    * `batch_id=N`; counts merge exactly, so the published view —
    * [[graft.dq.Stats.bhFdrFromCounts]] over the summed groups —
    * equals the batch step-up over everything ingested (spec-proven),
    * INCLUDING the degeneracy filter: a group only becomes a test once
    * enough batches give both arms exposure. */
  def bhFdrSink(rows: DataFrame, groupCols: Seq[String],
      variantCol: String, convertedCol: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(bhFdrBatch(_, _,
      groupCols, variantCol, convertedCol, statsDir))

  private[graft] def bhFdrBatch(batch: DataFrame, batchId: Long,
      groupCols: Seq[String], variantCol: String, convertedCol: String,
      statsDir: String): Unit = {
    val variant = col(variantCol)
    BatchStore.append(batch.groupBy(groupCols.map(col): _*)
      .agg(
        coalesce(sum(when(variant === 0, 1L).otherwise(0L)), lit(0L))
          .as("n0"),
        coalesce(sum(when(variant === 1, 1L).otherwise(0L)), lit(0L))
          .as("n1"),
        coalesce(sum(when(variant === 0, col(convertedCol).cast("long"))
          .otherwise(0L)), lit(0L)).as("c0"),
        coalesce(sum(when(variant === 1, col(convertedCol).cast("long"))
          .otherwise(0L)), lit(0L)).as("c1")), statsDir, batchId)
  }

  /** The published view over a [[bhFdrSink]] directory: merged group
    * counts through the same step-up as the batch operator. */
  def bhFdrView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String, groupCols: Seq[String], qNum: Int = 1,
      qDen: Int = 20): DataFrame =
    graft.dq.Stats.bhFdrFromCounts(
      spark.read.parquet(statsDir)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1"),
          sum(col("c0")).as("c0"), sum(col("c1")).as("c1")),
      groupCols, qNum, qDen)

  /** Always-valid mSPRT monitor: per-batch per-segment A/B counters
    * (the [[bhFdrSink]] schema — exact mergeable LONGs), published
    * through [[graft.dq.Stats.msprtFromCounts]]. THE streaming test:
    * the mSPRT p is valid at every interim look by construction, so a
    * dashboard reading this view after any batch makes no peeking
    * error. Batch-parity + replay-idempotence spec-proven. */
  def msprtSink(rows: DataFrame, groupCols: Seq[String],
      variantCol: String, convertedCol: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(bhFdrBatch(_, _,
      groupCols, variantCol, convertedCol, statsDir))

  /** The published view over a [[msprtSink]] directory: merged segment
    * counters through the identical closed-form mSPRT. */
  def msprtView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String, groupCols: Seq[String], tau2: Double = 1e-4)
      : DataFrame =
    graft.dq.Stats.msprtFromCounts(
      spark.read.parquet(statsDir)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1"),
          sum(col("c0")).as("c0"), sum(col("c1")).as("c1")),
      groupCols, tau2)

  /** CMH stratified-test monitor: per-batch per-stratum A/B counters
    * (same mergeable schema), published through
    * [[graft.dq.Stats.cmhFromCounts]] — the pooled Simpson's-safe
    * readout over everything ingested so far. */
  def cmhSink(rows: DataFrame, strataCols: Seq[String],
      variantCol: String, convertedCol: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(bhFdrBatch(_, _,
      strataCols, variantCol, convertedCol, statsDir))

  /** The published view over a [[cmhSink]] directory: merged stratum
    * counters through the identical pooled test (degenerate strata
    * re-filtered AFTER the merge, exactly as the batch operator). */
  def cmhView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String, strataCols: Seq[String]): DataFrame =
    graft.dq.Stats.cmhFromCounts(
      spark.read.parquet(statsDir)
        .groupBy(strataCols.map(col): _*)
        .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1"),
          sum(col("c0")).as("c0"), sum(col("c1")).as("c1")),
      strataCols)

  /** Streaming ANNOTATOR-AGREEMENT monitor (F63 streaming): each
    * micro-batch of paired labels (rater A's and rater B's label for the
    * same item) persists its label-pair CELL COUNTS under `batch_id=N` —
    * a table bounded by the label alphabet squared, never by volume.
    * Cell counts are exact BIGINTs and associative, so the published
    * view — [[graft.ml.Labeling.cohenKappaFromCells]] over the summed
    * cells — equals the batch kappa over everything ingested
    * (spec-proven). The live "are the labelers drifting apart" readout
    * for a labeling campaign. */
  def agreementSink(rows: DataFrame, labelACol: String, labelBCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(agreementBatch(_, _,
      labelACol, labelBCol, statsDir))

  /** NULL on either side is an abstention, not a vote: excluded,
    * matching the batch operator's NULL-label filter. */
  private[graft] def agreementBatch(batch: DataFrame, batchId: Long,
      labelACol: String, labelBCol: String, statsDir: String): Unit =
    BatchStore.append(batch
      .filter(col(labelACol).isNotNull && col(labelBCol).isNotNull)
      .groupBy(col(labelACol).as("__la"), col(labelBCol).as("__lb"))
      .agg(count(lit(1)).as("__c")), statsDir, batchId)

  /** The published view over an [[agreementSink]] directory: merged
    * label-pair cells through the identical kappa derivation as the
    * batch operator. */
  def agreementView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.ml.Labeling.cohenKappaFromCells(
      spark.read.parquet(statsDir)
        .groupBy(col("__la"), col("__lb"))
        .agg(sum(col("__c")).as("__c")))

  /** Streaming KRIPPENDORFF'S-ALPHA monitor (F70 streaming) — the
    * varying-panel agreement readout for a live annotation campaign
    * (the F63 Cohen sink demands exactly two fixed raters; real
    * campaigns don't). Each micro-batch persists its per-(unit, label)
    * vote-count cells — bounded by units × labels touched in the
    * batch, never vote volume. Cell counts are exact, associative
    * LONGs, so the merged cells of any batch split equal the cells of
    * the union EVEN when one unit's votes arrive across batches (the
    * counts just add) — the view runs the shared
    * [[graft.ml.Labeling.krippendorffFromCells]] kernel and is
    * spec-proven identical to the batch operator over the union.
    * NULL labels are abstentions (excluded), matching the batch
    * operator; the batch operator's duplicate-(unit, rater) guard is
    * enforced per batch
    * (cross-batch re-votes are indistinguishable from late extra
    * raters by design — alpha handles varying panels). */
  def krippendorffSink(rows: DataFrame, itemCol: String,
      raterCol: String, labelCol: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(krippendorffBatch(_, _,
      itemCol, raterCol, labelCol, statsDir))

  private[graft] def krippendorffBatch(batch: DataFrame, batchId: Long,
      itemCol: String, raterCol: String, labelCol: String,
      statsDir: String): Unit = {
    val votes = batch.filter(col(labelCol).isNotNull)
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(labelCol).as("__l"))
    val dup = votes.groupBy(col("__i"), col("__r"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      "krippendorffBatch: a rater voted the same unit twice in one batch")
    BatchStore.append(votes.groupBy(col("__i"), col("__l"))
      .agg(count(lit(1)).as("__c")), statsDir, batchId)
  }

  /** The published view over a [[krippendorffSink]] directory: merged
    * per-(unit, label) cells through the identical alpha derivation as
    * the batch operator. */
  def krippendorffView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.ml.Labeling.krippendorffFromCells(
      spark.read.parquet(statsDir)
        .groupBy(col("__i"), col("__l"))
        .agg(sum(col("__c")).as("__c")))

  /** Streaming CONFIDENT-LEARNING monitor (X153 streaming) — the live
    * label-noise census over an annotation + model-score stream. The
    * X153 cells are NOT mergeable from per-batch cell tables: the
    * class thresholds t_j are GLOBAL means, so a per-batch census
    * would gate each batch on drifting thresholds and the merged cells
    * would not equal the batch operator over the union. The sink
    * therefore follows the INDEX-sink ingest contract (the span/
    * line-index precedent): each micro-batch appends its scaled score
    * rows (id, given, class, p) — the kernel's minimal sufficient
    * input — under `batch_id=N`, and
    * the view re-runs the full [[graft.ml.Labeling.confidentJoint]]
    * kernel over the union with thresholds recomputed globally —
    * spec-proven identical to the batch operator. State is
    * score-volume (like every index sink), not monitor-bounded; the
    * compaction story is the shared dedup-index one. */
  def confidentJointSink(rows: DataFrame, idCol: String,
      givenCol: String, classCol: String, pCol: String,
      statsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(confidentJointBatch(_, _,
      idCol, givenCol, classCol, pCol, statsDir))

  private[graft] def confidentJointBatch(batch: DataFrame,
      batchId: Long, idCol: String, givenCol: String, classCol: String,
      pCol: String, statsDir: String): Unit =
    BatchStore.append(batch.select(col(idCol).as("__i"),
        col(givenCol).as("__g"), col(classCol).as("__c"),
        col(pCol).cast("double").as("__p"))
      .filter(col("__p").isNotNull), statsDir, batchId)

  /** The published view over a [[confidentJointSink]] directory: the
    * X153 census with GLOBAL thresholds over everything ingested. */
  def confidentJointView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    graft.ml.Labeling.confidentJoint(spark.read.parquet(statsDir),
      col("__i"), col("__g"), col("__c"), col("__p"))

  /** The published view over a [[vocabularySink]] directory: exact
    * corpus-wide (token, term_freq, doc_freq) — proven identical to the
    * batch operator run over the union of every ingested batch. */
  def vocabularyView(spark: org.apache.spark.sql.SparkSession,
      statsDir: String): DataFrame =
    spark.read.parquet(statsDir)
      .groupBy(col("token"))
      .agg(sum(col("term_freq")).as("term_freq"),
        sum(col("doc_freq")).as("doc_freq"))

  /** Streaming BOILERPLATE monitor (X158 streaming): each micro-batch
    * persists its DISTINCT (doc_id, line trim-hash) projection —
    * [[graft.text.Dedup.docLineIndex]] — under `batch_id=N`. The
    * line-grain index is the X158 sufficient statistic, and it merges
    * by plain union because a document arrives in exactly ONE batch
    * (the ingest contract every index sink here shares): the
    * published view re-runs the exact X158 tail (line-frequency
    * aggregate + per-doc rollup) over the union, so it equals the
    * batch operator over everything ingested (spec-proven). The live
    * "is the crawl drifting into template pages" dashboard. */
  def lineIndexSink(rows: DataFrame, idCol: String, textCol: String,
      indexDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(lineIndexBatch(_, _,
      idCol, textCol, indexDir))

  private[graft] def lineIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String): Unit =
    BatchStore.append(graft.text.Dedup.docLineIndex(batch, idCol, textCol),
      indexDir, batchId)

  /** The published view over a [[lineIndexSink]] directory: the X158
    * per-doc boilerplate report from the unioned line index. */
  def boilerplateView(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, minDocs: Int = 2): DataFrame =
    graft.text.Dedup.boilerplateFromLines(
      spark.read.parquet(indexDir).select(col("doc_id"), col("h")),
      minDocs)

  /** Streaming COCHRAN–ARMITAGE dose-response monitor (F86 streaming):
    * dose levels are DECLARED up front (the jonckheereSink discipline
    * — an undeclared or non-integer level, or a non-0/1 outcome, fails
    * loud); each micro-batch persists its per-level (n, converted)
    * counts under `batch_id=N` — ≤ k rows per batch, exact mergeable
    * counters — and the published view sums them through
    * [[graft.dq.Stats.cochranArmitageFromCounts]] verbatim, so the
    * live "is the ramp's conversion trend holding" readout equals the
    * batch test over everything ingested (spec-proven). */
  def cochranArmitageSink(rows: DataFrame, doseCol: String,
      convertedCol: String, doses: Seq[Long], cellsDir: String,
      checkpointDir: String): StreamingQuery = {
    require(doses.size >= 2 && doses == doses.sorted &&
      doses.distinct == doses,
      s"cochranArmitageSink: need >= 2 sorted distinct dose levels, " +
        s"got $doses")
    startSink(rows, checkpointDir)(cochranArmitageBatch(_, _,
      doseCol, convertedCol, doses, cellsDir))
  }

  private[graft] def cochranArmitageBatch(batch: DataFrame,
      batchId: Long, doseCol: String, convertedCol: String,
      doses: Seq[Long], cellsDir: String): Unit = {
    // the batch operator's guard front, shared verbatim — declared
    // levels, exactly-0/1 outcomes, both fail loud
    BatchStore.append(graft.dq.Stats.cochranArmitageGuardedCounts(batch,
      col(doseCol), col(convertedCol), doses), cellsDir, batchId)
  }

  /** The published view over a [[cochranArmitageSink]] directory:
    * level-summed counts through the batch trend finish verbatim. */
  def cochranArmitageView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String): DataFrame =
    graft.dq.Stats.cochranArmitageFromCounts(
      spark.read.parquet(cellsDir)
        .groupBy(col("__g"))
        .agg(sum(col("n")).as("n"), sum(col("c")).as("c")))

  /** Streaming NUMERIC-DRIFT VALUE-CELL store: each micro-batch of the
    * CURRENT stream persists its per-distinct-value counts (__v, n)
    * under `batch_id=N` — rows bounded by value cardinality, never
    * event volume; counts are exact mergeable integers (the
    * dailyAggSink pattern at value grain). ONE store feeds the whole
    * numeric-drift family against a frozen reference: [[ksDriftView]]
    * (worst CDF gap), [[wassersteinView]] (mass moved),
    * [[andersonDarlingView]] (tail-weighted total) — each reusing its
    * batch finisher verbatim, so every view is bit-equal to the batch
    * operator over (reference, everything-ingested) regardless of
    * batch boundaries (spec-proven). NULL values drop exactly like the
    * batch operators' clean step. */
  def valueCellSink(rows: DataFrame, valueCol: String,
      cellsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(valueCellBatch(_, _, valueCol, cellsDir))

  private[graft] def valueCellBatch(batch: DataFrame, batchId: Long,
      valueCol: String, cellsDir: String): Unit =
    BatchStore.append(batch.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("n")), cellsDir, batchId)

  /** The pooled (__v, nr, nc) distinct-value table of a frozen
    * reference DataFrame against a [[valueCellSink]] store — the
    * shared front of the three numeric-drift views. `quantize`
    * re-grids both sides to micro LONGs for the W₁ view (same value →
    * same micro cell, so cell-then-quantize ≡ row-then-quantize). */
  private def pooledValueCells(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String,
      quantize: Boolean): DataFrame = {
    def grid(c: org.apache.spark.sql.Column) =
      if (quantize) floor(c * lit(1e6) + lit(0.5)).cast("long") else c
    val ref = reference
      .select(col(valueCol).cast("double").as("__raw"))
      .filter(col("__raw").isNotNull)
      .select(grid(col("__raw")).as("__v"), lit(1L).as("__r"),
        lit(0L).as("__c"))
    val cur = spark.read.parquet(cellsDir)
      .select(grid(col("__v")).as("__v"), lit(0L).as("__r"),
        col("n").as("__c"))
    ref.unionByName(cur)
      .groupBy(col("__v"))
      .agg(sum(col("__r")).as("nr"), sum(col("__c")).as("nc"))
  }

  /** D7 over a [[valueCellSink]] store: the KS drift statistic of the
    * merged current cells against a frozen reference, through the
    * batch [[graft.dq.Dq.ksDrift]] finish verbatim. */
  def ksDriftView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String)
      : DataFrame =
    graft.dq.Dq.ksFromCells(pooledValueCells(spark, cellsDir,
      reference, valueCol, quantize = false))

  /** D26 over the SAME [[valueCellSink]] store: the 1-Wasserstein
    * drift through the batch finish verbatim (micro-grid cells). */
  def wassersteinView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String)
      : DataFrame =
    graft.dq.Dq.wassersteinFromCells(pooledValueCells(spark, cellsDir,
      reference, valueCol, quantize = true))

  /** D29 over the SAME [[valueCellSink]] store: the tail-sensitive
    * two-sample Anderson–Darling drift through the batch finish
    * verbatim (including its exact-DECIMAL pooled-N bound). */
  def andersonDarlingView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String)
      : DataFrame =
    graft.dq.Dq.andersonDarlingFromCells(pooledValueCells(spark,
      cellsDir, reference, valueCol, quantize = false))

  /** D31 over the SAME [[valueCellSink]] store: the integrated-square
    * Cramér–von Mises drift through the batch finish verbatim. */
  def cramerVonMisesView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String)
      : DataFrame =
    graft.dq.Dq.cramerVonMisesFromCells(pooledValueCells(spark,
      cellsDir, reference, valueCol, quantize = false))

  /** D32 over the SAME [[valueCellSink]] store: the two-sided Kuiper
    * max-gap through the batch finish verbatim — the store now feeds
    * the full five-member CDF-distance family (KS, W₁, AD, CvM,
    * Kuiper) from one cell directory. */
  def kuiperView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String)
      : DataFrame =
    graft.dq.Dq.kuiperFromCells(pooledValueCells(spark,
      cellsDir, reference, valueCol, quantize = false))

  /** Streaming k-NN-GRAPH MAINTENANCE sink (X185): a growing embedding
    * corpus keeps its X182 edge list current WITHOUT full rebuilds —
    * each micro-batch of (id, vector) rows runs ONE
    * [[graft.ann.Similarity.knnGraphIncrement]]: frozen-centroid
    * assignment, index append under `index/batch_id=N/__shard=S`,
    * and edge recompute ONLY for sources probing a touched cell, under
    * `edges/batch_id=N`. The published [[knnGraphView]] — latest batch
    * per source — is bit-equal to a full [[graft.ann.Similarity
    * .knnGraph]] rebuild over everything ingested (spec-proven).
    * A replay re-reads only earlier batches. */
  def knnGraphSink(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int, k: Int, storeDir: String,
      checkpointDir: String, probes: Int = 2,
      maxBucketPoints: Long = 100000L): StreamingQuery =
    startSink(vectors, checkpointDir) { (batch, batchId) =>
      graft.ann.Similarity.knnGraphIncrement(batch, idCol, vecCol,
        centroids, dim, k, storeDir, batchId, probes, maxBucketPoints)
    }

  /** The published view over a [[knnGraphSink]] store: each source's
    * edges from the LATEST batch that recomputed it — an unaffected
    * source's candidate set (hence its exact top-k) cannot have
    * changed, so this equals the full-rebuild [[graft.ann.Similarity
    * .knnGraph]] over the union corpus. */
  def knnGraphView(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    graft.ann.Similarity.knnLatestEdges(spark, storeDir)
      .orderBy(col("vec_id"), col("rk"))

  /** D34 over the SAME [[valueCellSink]] store: the Jensen–Shannon
    * overlap divergence through the batch finish verbatim (micro-grid
    * cells, the W₁ re-grid) — the SIXTH view one cell directory
    * feeds. */
  def jsdView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String)
      : DataFrame =
    graft.dq.Dq.jsdFromCells(pooledValueCells(spark, cellsDir,
      reference, valueCol, quantize = true))

  /** D5 over the SAME [[valueCellSink]] store: the Population
    * Stability Index against a frozen reference — the SEVENTH view
    * one cell directory feeds, completing the numeric-drift family's
    * streaming twins. Bin edges are the reference's exact type-1
    * quantiles (batch-computed — the frozen contract); merged cell
    * values bin through the same pure comparisons as rows (same value
    * → same bin, counts merge), then the batch finish verbatim. */
  def psiView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, valueCol: String,
      idCol: String, bins: Int = 10, minShare: Double = 1e-4)
      : DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val refV = graft.util.Caches.persistTracked(reference
      .select(col(valueCol).cast("double").as("__v"),
        col(idCol).as("__i"))
      .filter(col("__v").isNotNull))
    val nRef = refV.count()
    require(nRef >= bins, s"psiView: reference has $nRef rows < $bins bins")
    val edges = graft.dq.Dq.quantileEdges(refV, "__v", "__i", bins)
    val cells = spark.read.parquet(cellsDir)
    val tot = cells.agg(coalesce(sum(col("n")), lit(0L)).as("__n"))
      .head().getAs[Long]("__n")
    require(tot > 0, "psiView: empty current population")
    val refBins = refV
      .groupBy(graft.dq.Dq.binOf(col("__v"), edges).as("bin"))
      .agg(count(lit(1)).as("n_ref"))
    val curBins = cells
      .groupBy(graft.dq.Dq.binOf(col("__v"), edges).as("bin"))
      .agg(sum(col("n")).as("n_cur"))
    graft.dq.Dq.psiFinish(spark, refBins, curBins, nRef, tot, bins,
      minShare)
  }

  /** X187: mutual-kNN COMMUNITIES over a [[knnGraphSink]] store — the
    * maintenance story extended to the community layer: the X183
    * reciprocity cut + deterministic min-label closure
    * ([[graft.ann.Similarity.mutualClustersFromEdges]], shared
    * verbatim) over the maintained latest-batch-per-source edge list,
    * which [[knnGraphView]] already proves bit-equal to a full
    * rebuild — so the live communities equal
    * [[graft.ann.Similarity.mutualKnnClusters]] of everything
    * ingested, without ever re-touching raw vectors.
    *
    * CACHE OBLIGATION: the shared kernel pins its edge projection via
    * `Caches.persistTracked` (session-lifetime). A long-lived process
    * polling this view (or [[clusteringReportView]]) repeatedly must
    * call `graft.util.Caches.releaseAll(spark)` between polls — the
    * harness does after every invocation — or one cached plan
    * accumulates per poll. */
  def mutualKnnView(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, minCosine: Double = 0.0): DataFrame =
    graft.ann.Similarity.mutualClustersFromEdges(
      knnGraphView(spark, storeDir), minCosine)

  /** X186 as the TENTH live monitor: the clustering-coefficient report
    * (transitivity + average local clustering, the exact wedge/triangle
    * census) over the maintained [[knnGraphSink]] store's edge list —
    * [[graft.graph.Communities.clusteringReport]] verbatim over
    * [[knnGraphView]], which is itself spec-proven bit-equal to a full
    * rebuild, so the live readout equals the batch X186 of everything
    * ingested. The graph tier's dashboard twin beside the drift
    * families. */
  def clusteringReportView(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    graft.graph.Communities.clusteringReport(
      knnGraphView(spark, storeDir), "vec_id", "neighbor_id")

  /** Streaming EVENT-TYPE ENTROPY cell store (W22 streaming): each
    * micro-batch persists its per-(entity, type) event counts under
    * `batch_id=N` — rows bounded by entities × types, never event
    * volume; counts are exact mergeable integers, so the published
    * [[eventTypeEntropyView]] — cell-summed counts through
    * [[graft.events.EventFeatures.eventTypeEntropyFromCells]]
    * verbatim — equals the batch W22 over everything ingested
    * (spec-proven). This keeps the survey's invariant: every batch
    * operator with mergeable sufficient statistics gets a twin. NULL
    * event types drop exactly like the batch operator. */
  def eventTypeCellSink(events: DataFrame, cellsDir: String,
      checkpointDir: String, c: EventCols = EventCols()): StreamingQuery =
    startSink(events, checkpointDir)(eventTypeCellBatch(_, _, cellsDir, c))

  private[graft] def eventTypeCellBatch(batch: DataFrame, batchId: Long,
      cellsDir: String, c: EventCols = EventCols()): Unit =
    BatchStore.append(batch.filter(col(c.eventType).isNotNull)
      .groupBy(col(c.entity), col(c.eventType))
      .agg(count(lit(1)).as("__c")), cellsDir, batchId)

  /** The published view over an [[eventTypeCellSink]] store: merged
    * (entity, type) counts through the batch W22 entropy finish
    * verbatim — the live behavioral-diversity readout. */
  def eventTypeEntropyView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, c: EventCols = EventCols()): DataFrame =
    graft.events.EventFeatures.eventTypeEntropyFromCells(
      spark.read.parquet(cellsDir)
        .groupBy(col(c.entity), col(c.eventType))
        .agg(sum(col("__c")).as("__c")), c)

  /** Streaming NULL-RATE cell store (D33 streaming): each micro-batch
    * persists its per-declared-column (column, n rows, nulls) counters
    * under `batch_id=N` — k rows per batch, never row volume; counts
    * are exact mergeable integers (one map-side-combined aggregate
    * pass, the [[graft.dq.Dq.nullCounts]] pass verbatim), so the
    * published view — column-summed cells against a frozen reference
    * through [[graft.dq.Dq.nullRateDriftFinish]] verbatim — equals the
    * batch [[graft.dq.Dq.nullRateDriftTest]] over everything ingested
    * (spec-proven). This completes the drift-monitor family: every
    * D-family drift test now has a streaming twin. A declared column
    * missing from a batch fails loud (narrower cells would no longer
    * merge). */
  def nullRateCellSink(rows: DataFrame, cols: Seq[String],
      cellsDir: String, checkpointDir: String): StreamingQuery = {
    require(cols.nonEmpty && cols.distinct == cols,
      s"nullRateCellSink: need >= 1 distinct declared columns, got $cols")
    startSink(rows, checkpointDir)(nullRateCellBatch(_, _, cols, cellsDir))
  }

  private[graft] def nullRateCellBatch(batch: DataFrame, batchId: Long,
      cols: Seq[String], cellsDir: String): Unit = {
    for (c <- cols) require(batch.columns.contains(c),
      s"nullRateCellBatch: declared column $c missing from the stream")
    val (n, m) = graft.dq.Dq.nullCounts(batch, cols)
    val spark = batch.sparkSession
    import spark.implicits._
    BatchStore.append(cols.map(c => (c, n, m(c))).toDF("column", "n", "nulls")
      .coalesce(1), cellsDir, batchId)
  }

  /** The published view over a [[nullRateCellSink]] directory: the D33
    * per-column null-rate significance test of the merged current
    * cells against a frozen reference, through the batch finish
    * verbatim. BOTH directions of column mismatch fail loud: a
    * declared column with no cells, and a stored column not declared
    * (a store written with a different column set). */
  def nullRateDriftView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, reference: DataFrame, cols: Seq[String])
      : DataFrame = {
    require(cols.nonEmpty && cols.distinct == cols,
      s"nullRateDriftView: need >= 1 distinct declared columns, got $cols")
    // bounded collect: the merged store is k rows (column census is
    // metadata-scale whatever the ingested volume)
    val merged = spark.read.parquet(cellsDir)
      .groupBy(col("column"))
      .agg(sum(col("n")).as("n"), sum(col("nulls")).as("nulls"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("nulls"))).toMap
    val missing = cols.filterNot(merged.contains)
    require(missing.isEmpty,
      s"nullRateDriftView: declared columns $missing have no ingested " +
        "cells")
    val undeclared = merged.keySet -- cols.toSet
    require(undeclared.isEmpty,
      s"nullRateDriftView: stored columns $undeclared are not in the " +
        "declared list — the store was written with a different " +
        "column set")
    for (c <- cols) require(reference.columns.contains(c),
      s"nullRateDriftView: column $c missing from the reference side")
    val (nr, mr) = graft.dq.Dq.nullCounts(reference, cols)
    graft.dq.Dq.nullRateDriftFinish(spark,
      cols.map(c => (c, nr, mr(c), merged(c)._1, merged(c)._2)))
  }

  /** Streaming TIME-WEIGHTED-AVERAGE cell store (W21 streaming): the
    * LOCF integral's one genuinely cross-batch semantic — the value
    * carried INTO a batch by the last event of an EARLIER batch — made
    * mergeable. Each micro-batch persists, under `batch_id=N`:
    *
    *  - `days/`  — per-(key, epoch-day) cells (n events, covered
    *    seconds, Σ value_µ·sec as DECIMAL(38,0)) for every segment
    *    CLOSED by this batch: the batch's own consecutive-event
    *    segments, plus the BRIDGE from each entity's previous-batch
    *    carry to its first event here, split exactly at UTC day
    *    boundaries (rows bounded by keys × days touched, never event
    *    volume; all columns exact mergeable integers);
    *  - `carry/` — per-entity (last_ts, last value_µ) of this batch,
    *    the still-open segment a later batch (or the view's window
    *    end) will close.
    *
    * The published [[twaView]] sums day cells over a DAY-ALIGNED
    * window, closes each entity's final carry at the window end, and
    * finishes with the batch kernel's exact arithmetic — so it equals
    * [[graft.events.EventFeatures.timeWeightedAverage]] over
    * everything ingested, regardless of batch boundaries
    * (spec-proven). Day-splitting is exact: a window-aligned clamp of
    * a segment equals the sum of its per-day overlaps, and
    * value_µ·seconds sums are order-free in DECIMAL(38,0).
    *
    * Contract (fails loud): per-entity event times STRICTLY increase
    * across micro-batches (same-timestamp ties must arrive in one
    * batch — the batch kernel breaks ties by value, which cross-batch
    * arrival order cannot reproduce); values on the DECIMAL(18,6)
    * grid; NULL values drop exactly like the batch kernel. A replay
    * re-reads only EARLIER batches' carries. */
  def twaCellSink(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, cellsDir: String, checkpointDir: String)
      : StreamingQuery =
    startSink(events, checkpointDir)(twaCellBatch(_, _,
      keyCol, tsCol, valueCol, cellsDir))

  private[graft] def twaCellBatch(batch: DataFrame, batchId: Long,
      keyCol: String, tsCol: String, valueCol: String,
      cellsDir: String): Unit = {
    val spark = batch.sparkSession
    val D = "decimal(38,0)"
    val DAY = 86400L
    // the batch kernel's guard front verbatim: NULL values drop,
    // out-of-grid values fail loud (a silent NULL would keep seconds
    // in covered while dropping the value from the integral)
    val vd = col(valueCol).cast("decimal(18,6)")
    val base = batch
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"),
        unix_timestamp(col(tsCol)).as("__t"),
        when(vd.isNull,
          raise_error(lit("twaCellBatch: value outside the " +
            "DECIMAL(18,6) grid — rescale first")))
          .otherwise((vd * lit(1000000L)).cast("long")).as("__vu"))
    // the kernel's (ts, value) ordering — in-batch ties resolve
    // exactly as the batch operator resolves them
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__vu"))
    val seq = base
      .withColumn("__next", lead(col("__t"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
    // within-batch closed segments: every event except the last holds
    // to the next in-batch event
    val closed = seq.filter(col("__next").isNotNull)
      .select(col("__k"), col("__t").as("__s0"),
        col("__next").as("__s1"), col("__vu"))
    // bridge segments: the latest EARLIER-batch carry per entity holds
    // to this batch's first event; strict cross-batch monotonicity is
    // the contract and fails loud here
    val bridges =
      if (!BatchStore.exists(spark, s"$cellsDir/carry")) None
      else {
        val prev = spark.read.parquet(s"$cellsDir/carry")
          .filter(col("batch_id") < batchId)
        val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
          .orderBy(col("batch_id").desc)
        val latest = prev.withColumn("__r", row_number().over(wc))
          .filter(col("__r") === 1)
          .select(col("__k"), col("__ct"), col("__cv"))
        val firsts = seq.filter(col("__rn") === 1)
          .select(col("__k"), col("__t"))
        Some(latest.join(firsts, Seq("__k"))
          .select(col("__k"),
            when(col("__ct") >= col("__t"),
              raise_error(lit("twaCellBatch: per-entity event times " +
                "must strictly increase across micro-batches — " +
                "out-of-order or duplicate-timestamp delivery " +
                "detected")))
              .otherwise(col("__ct")).as("__s0"),
            col("__t").as("__s1"), col("__cv").as("__vu")))
      }
    val segments = bridges.fold(closed)(b => closed.unionByName(b))
    // exact day split: Σ per-day overlaps ≡ the segment's duration,
    // so any DAY-ALIGNED window clamp is a plain cell-range sum
    val dayCells = segments.filter(col("__s1") > col("__s0"))
      .select(col("__k"), col("__s0"), col("__s1"), col("__vu"),
        explode(sequence(floor(col("__s0") / DAY).cast("long"),
          floor((col("__s1") - 1) / DAY).cast("long"))).as("__d"))
      .select(col("__k"), col("__d"), col("__vu"),
        (least(col("__s1"), (col("__d") + 1) * DAY) -
          greatest(col("__s0"), col("__d") * DAY)).as("__dur"))
      .groupBy(col("__k"), col("__d"))
      .agg(sum(col("__dur")).as("cov"),
        sum(col("__vu").cast(D) * col("__dur").cast(D)).as("int"))
    val eventCells = base
      .groupBy(col("__k"), floor(col("__t") / DAY).cast("long").as("__d"))
      .agg(count(lit(1)).as("n"))
    BatchStore.append(eventCells.join(dayCells, Seq("__k", "__d"), "full_outer")
      .select(col("__k"), col("__d"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("cov"), lit(0L)).as("cov"),
        coalesce(col("int"), lit(0L).cast(D)).as("int")),
      s"$cellsDir/days", batchId)
    // the new open carry: this batch's last (ts, value) per entity
    BatchStore.append(seq.filter(col("__next").isNull)
      .select(col("__k"), col("__t").as("__ct"), col("__vu").as("__cv")),
      s"$cellsDir/carry", batchId)
  }

  /** The published view over a [[twaCellSink]] store: the W21
    * time-weighted average over a DAY-ALIGNED window [start, end) —
    * day cells summed over window days, each entity's final open
    * carry closed at the window end, then the batch kernel's exact
    * finish ((Σµ/10⁶)/covered, q6). Equals
    * [[graft.events.EventFeatures.timeWeightedAverage]] over the
    * union of everything ingested (spec-proven). n_events counts
    * events before the window end — the batch kernel's census —
    * which is why day cells keep per-day event counts. */
  def twaView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, keyCol: String, windowStart: String,
      windowEnd: String): DataFrame = {
    val DAY = 86400L
    def epochUtc(s: String): Long =
      java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
        .toEpochSecond(java.time.ZoneOffset.UTC)
    val startS = epochUtc(windowStart)
    val endS = epochUtc(windowEnd)
    require(endS > startS,
      s"twaView: empty window [$windowStart, $windowEnd)")
    require(startS % DAY == 0 && endS % DAY == 0,
      s"twaView: window must be day-aligned (UTC midnights), got " +
        s"[$windowStart, $windowEnd) — the store is day-grain")
    val D = "decimal(38,0)"
    val startD = startS / DAY
    val endD = endS / DAY
    val days = spark.read.parquet(s"$cellsDir/days")
      .groupBy(col("__k"))
      .agg(
        // the kernel censuses every event BEFORE the window end
        sum(when(col("__d") < endD, col("n")).otherwise(lit(0L)))
          .as("n_events"),
        sum(when(col("__d") >= startD && col("__d") < endD, col("cov"))
          .otherwise(lit(0L))).as("__cov0"),
        sum(when(col("__d") >= startD && col("__d") < endD, col("int"))
          .otherwise(lit(0L).cast(D))).as("__int0"))
    // each entity's FINAL open carry (latest batch that saw the key)
    // holds from its last event to the window end — exactly the batch
    // kernel's lead-NULL segment
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      .orderBy(col("batch_id").desc)
    val carry = spark.read.parquet(s"$cellsDir/carry")
      .withColumn("__r", row_number().over(wc))
      .filter(col("__r") === 1)
      .select(col("__k"),
        greatest(least(lit(endS) - greatest(col("__ct"), lit(startS)),
          lit(endS - startS)), lit(0L)).as("__cdur"),
        col("__cv"))
    val out = days.join(carry, Seq("__k"), "left_outer")
      .select(col("__k"), col("n_events"),
        (col("__cov0") + coalesce(col("__cdur"), lit(0L)))
          .as("covered_sec"),
        (col("__int0") + coalesce(col("__cv").cast(D) *
          col("__cdur").cast(D), lit(0L).cast(D))).as("__int"))
      .filter(col("n_events") > 0)
    import graft.functions.q6
    out.select(col("__k").as(keyCol), col("n_events"),
      col("covered_sec"),
      q6(when(col("covered_sec") > 0,
        (col("__int").cast("double") / lit(1e6)) /
          col("covered_sec").cast("double"))).as("twa"))
  }

  /** Streaming FRIEDMAN matched-design monitor (F82 streaming): the
    * treatment list is DECLARED up front (the jonckheereSink
    * discipline — a batch missing a treatment would write narrower
    * cells that no longer merge) and blocks arrive WHOLE — one
    * micro-batch carries every declared treatment of each of its
    * blocks (the lineIndexSink one-batch contract; within-block ranks
    * need the complete block). Each micro-batch persists its
    * per-treatment cells (__t, __n blocks, __R2 Σ doubled ranks, __sr2
    * Σ doubled-rank squares) under `batch_id=N` — k rows per batch,
    * never block volume; every column is an exact mergeable integer,
    * so the published view — treatment-summed cells through
    * [[graft.ml.RankTests.friedmanFromTreatmentCells]] verbatim —
    * equals the batch Friedman over everything ingested (spec-proven).
    * Undeclared treatments, NULLs, duplicate observations and
    * incomplete blocks fail loud. A per-batch block-id ledger
    * (`<cellsDir>__blocks/batch_id=N`) makes CROSS-batch redelivery —
    * the same block arriving whole in two different micro-batches,
    * invisible to every within-batch guard — fail loud in the view. */
  def friedmanSink(rows: DataFrame, blockCol: String, treatCol: String,
      valueCol: String, treatments: Seq[String], cellsDir: String,
      checkpointDir: String): StreamingQuery = {
    require(treatments.size >= 2 && treatments.distinct == treatments,
      s"friedmanSink: need >= 2 distinct declared treatments, " +
        s"got $treatments")
    startSink(rows, checkpointDir)(friedmanBatch(_, _,
      blockCol, treatCol, valueCol, treatments, cellsDir))
  }

  private[graft] def friedmanBatch(batch: DataFrame, batchId: Long,
      blockCol: String, treatCol: String, valueCol: String,
      treatments: Seq[String], cellsDir: String): Unit = {
    val t = col(treatCol).cast("string")
    val guarded = batch.select(col(blockCol).as("__b0"),
      when(t.isNotNull && !t.isin(treatments: _*),
        raise_error(concat(lit("friedmanBatch: treatment "), t,
          lit(s" is not in the declared list $treatments"))))
        .otherwise(t).as("__t0"),
      col(valueCol).as("__v0"))
    val cells = graft.ml.RankTests.friedmanGuardedCells(guarded,
      col("__b0"), col("__t0"), col("__v0"))
    // block-grain completeness INSIDE the batch: within-block ranks
    // need every declared treatment of a block in this micro-batch
    val k = treatments.size
    val ranked = graft.ml.RankTests.friedmanRankedCells(cells)
      .withColumn("__nb", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))))
      .select(col("__t"),
        when(col("__nb") =!= lit(k),
          raise_error(lit("friedmanBatch: incomplete block in batch " +
            "— a block must arrive whole (every declared treatment " +
            "in one micro-batch)")))
          .otherwise(col("__r2")).as("__r2"))
    BatchStore.append(ranked.groupBy(col("__t"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__r2").cast("decimal(38,0)")).as("__R2"),
        sum((col("__r2") * col("__r2")).cast("decimal(38,0)"))
          .as("__sr2")), cellsDir, batchId)
    // cross-batch redelivery ledger: a block re-ingested WHOLE in a
    // LATER micro-batch (at-least-once upstream) passes every
    // within-batch guard yet double-counts __n/__R2/__sr2 on merge —
    // so each batch also records its distinct block ids (one short row
    // per block, k× smaller than the raw batch) and the view fails
    // loud on any cross-batch overlap. Written AFTER the cells commit:
    // the within-batch guards fire during the cells write, so a
    // ledger-first order would leave a guard-failed batch's block ids
    // in the ledger with no matching cells — and a later WHOLE
    // redelivery of those blocks under a fresh batch_id (checkpoint
    // reset) would trip the view's overlap guard forever even though
    // the cells merged exactly once
    BatchStore.append(
      cells.select(col("__b").cast("string").as("__b")).distinct(),
      s"${cellsDir}__blocks", batchId)
  }

  /** The published view over a [[friedmanSink]] directory: treatment-
    * summed cells through the batch Friedman finish verbatim. A
    * declared treatment with no cells yet fails loud (a narrower k
    * would silently change the statistic's dof). */
  def friedmanView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, treatments: Seq[String]): DataFrame = {
    import spark.implicits._
    // cross-batch redelivery guard: the sink's per-batch block ledger
    // (`<cellsDir>__blocks/batch_id=N`) is grouped by block
    // id — a block appearing under MORE than one batch_id means the
    // same block merged twice into the treatment cells, which the
    // within-batch guards cannot see. Bounded collect: limit(1).
    // Only ledger batches whose CELLS actually committed count: the
    // sink writes the ledger after the cells, but a store written by
    // an older ledger-first sink (or any out-of-band writer) could
    // hold ledger rows for a guard-failed batch with no cells — those
    // blocks never merged, so they must not poison a later whole
    // redelivery (semi-join against the committed cell batch ids).
    val committed = spark.read.parquet(cellsDir)
      .select(col("batch_id")).distinct()
    val dup = spark.read.parquet(s"${cellsDir}__blocks")
      .join(committed, Seq("batch_id"), "left_semi")
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"friedmanView: block '${dup.head.getString(0)}' was ingested " +
        "in more than one micro-batch — each block must be delivered " +
        "whole in exactly one batch (upstream redelivery detected)")
    val merged = spark.read.parquet(cellsDir)
      .groupBy(col("__t"))
      .agg(sum(col("__n")).as("__n"),
        sum(col("__R2")).cast("decimal(38,0)").as("__R2"),
        sum(col("__sr2")).cast("decimal(38,0)").as("__sr2"))
    // BOTH directions fail loud: a declared treatment with no cells
    // would silently narrow k (changing dof); a STORED treatment
    // absent from the declared list would silently drop cells whose
    // within-block ranks were assigned among MORE treatments — not a
    // Friedman statistic of anything
    val spine = treatments.toDF("__t")
      .withColumn("__declared", lit(1))
    val guarded = spine.join(merged, Seq("__t"), "full_outer")
      .select(col("__t"),
        when(col("__n").isNull,
          raise_error(concat(lit("friedmanView: declared treatment "),
            col("__t"), lit(" has no ingested cells"))))
          .when(col("__declared").isNull,
            raise_error(concat(lit("friedmanView: stored treatment "),
              col("__t"),
              lit(" is not in the declared list — the store was " +
                "written with a different treatment set"))))
          .otherwise(col("__n")).as("__n"),
        col("__R2"), col("__sr2"))
    graft.ml.RankTests.friedmanFromTreatmentCells(guarded)
  }

  /** Streaming KENDALL-τ-b monitor (F83 streaming): each micro-batch
    * persists its per-(g, x, y) distinct-cell counts under
    * `batch_id=N` — rows bounded by cell cardinality, never row
    * volume; counts are exact mergeable integers, so the published
    * view — cell-summed counts through
    * [[graft.ml.RankTests.kendallTauFromCells]] verbatim (eager
    * cell-cap guard included) — equals the batch τ-b over everything
    * ingested (spec-proven). NULL x/y drop exactly like the batch
    * operator. */
  def kendallTauSink(rows: DataFrame, groupCol: String, xCol: String,
      yCol: String, cellsDir: String, checkpointDir: String): StreamingQuery =
    startSink(rows, checkpointDir)(kendallTauBatch(_, _,
      groupCol, xCol, yCol, cellsDir))

  private[graft] def kendallTauBatch(batch: DataFrame, batchId: Long,
      groupCol: String, xCol: String, yCol: String,
      cellsDir: String): Unit =
    BatchStore.append(batch.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("g"), col(xCol).as("x"),
        col(yCol).as("y"))
      .groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("c")), cellsDir, batchId)

  /** The published view over a [[kendallTauSink]] directory: merged
    * cells through the batch τ-b finish verbatim. */
  def kendallTauView(spark: org.apache.spark.sql.SparkSession,
      cellsDir: String, maxCellsPerGroup: Int = 20000): DataFrame =
    graft.ml.RankTests.kendallTauFromCells(
      spark.read.parquet(cellsDir)
        .groupBy(col("g"), col("x"), col("y"))
        .agg(sum(col("c")).as("c")), maxCellsPerGroup)

  /** One (entity, eventType) lane of streaming state. */
  case class EventKey(entity: Long, eventType: String)
  case class EventIn(entity: Long, eventType: String,
      ts: java.sql.Timestamp, value: Double)
  case class Latest(entity: Long, eventType: String,
      ts: java.sql.Timestamp, value: Double, updates: Long)

  /** W7/W5 streaming: the running latest value per (entity, eventType) —
    * the state that keeps a snapshot feature vector current as events
    * arrive. `flatMapGroupsWithState` in update mode; state is one small
    * record per key. */
  def runningLatest(events: Dataset[EventIn]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => EventKey(e.entity, e.eventType))
      .flatMapGroupsWithState[Latest, Latest](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: EventKey, rows: Iterator[EventIn], state: GroupState[Latest]) =>
          val prev = state.getOption
          val batchLatest = rows.toSeq.maxBy(_.ts.getTime)
          val updates = prev.map(_.updates).getOrElse(0L) + 1
          val next =
            if (prev.forall(_.ts.getTime <= batchLatest.ts.getTime))
              Latest(key.entity, key.eventType, batchLatest.ts,
                batchLatest.value, updates)
            else prev.get.copy(updates = updates)
          state.update(next)
          Iterator.single(next)
      }
  }
}
