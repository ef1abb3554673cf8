package graft.load

import graft.meta.Meta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge configuration, the union of the reference loader signatures
  * (reference: diamond/load/DataLoader.scala:179-278 scaladoc;
  * ParquetDataLoader.scala:49-553).
  *
  * `processTime` is an explicit parameter everywhere the reference stamped
  * `current_timestamp()` (ParquetDataLoader.scala:388,413) — determinism is a
  * design requirement here (SURVEY.md §7.1): the DuckDB oracle must be able
  * to reproduce every stamped value.
  *
  * @param idFields  natural-key columns hashed into `entity_id`
  * @param idType    id-type discriminator mixed into the hash
  * @param isDelta   delta load (no delete detection by absence) vs full load
  * @param overwrite SCD2 close-off mode: superseded versions get
  *                  `end_time = new start_time` (mutually exclusive with
  *                  isDelta, reference: ParquetDataLoader.scala:290)
  * @param projection optional column subset applied before stamping
  * @param newNames   rename map applied before stamping
  * @param deleteIndicatorField (column, delete-marker values): rows whose
  *                  column value is in the set are logical deletes
  * @param dropKeys  drop natural-key columns from the stamped output
  *                  (satellite privacy mode, reference: ParquetDataLoader.scala:519-521)
  * @param validStartTimeField source column carrying the *business*
  *                  validity start (reference loadHub/loadSatellite
  *                  `validStartTimeField`, DataLoader.scala:188-189);
  *                  stamped as `valid_start_time` (processTime when absent)
  * @param validEndTimeField  likewise for `valid_end_time` (open-end
  *                  sentinel when absent)
  */
case class MergeConfig(
    idFields: Seq[String],
    idType: String,
    entityType: String,
    source: String,
    processType: String,
    processId: String,
    userId: String,
    processTime: String,
    isDelta: Boolean = true,
    overwrite: Boolean = false,
    projection: Option[Seq[String]] = None,
    newNames: Map[String, String] = Map.empty,
    deleteIndicatorField: Option[(String, Seq[String])] = None,
    dropKeys: Boolean = false,
    validStartTimeField: Option[String] = None,
    validEndTimeField: Option[String] = None,
    // store-level: append per-load new/changed/removed tables (reference
    // SatelliteTable `write-change-tables`; the reference defaults it OFF,
    // this store defaults ON because its change tables feed S13 retention)
    writeChangeTables: Boolean = true) {
  require(!(isDelta && overwrite), "isDelta and overwrite are mutually exclusive")
}

/** The generic SCD2 merge kernel — the one algorithm behind the reference's
  * four ~250-line loaders (hub/satellite/link/mapping, reference:
  * diamond/load/ParquetDataLoader.scala:49-975). Pure DataFrame-in /
  * DataFrame-out so results are oracle-checkable; [[Scd2Store]] adds the
  * history/current/new/changed/removed parquet layout.
  *
  * Scale design (100 TB): the kernel ([[delta]]) reads a *snapshot* —
  * the latest version per entity — never the full history, so a load
  * costs O(current + batch), not O(history depth). [[Scd2Store]] hands it
  * the stored `current.parquet`; the pure [[merge]] derives the snapshot
  * from the in-memory history it is given. Everything keys on the
  * uniformly distributed md5 `entity_id` — no surrogate-key lookup step,
  * so hubs, satellites and links of one source can load in parallel (the
  * reference's stated design goal, DataLoader.scala:15-21).
  */
object Scd2Merge {
  import Meta._

  /** Branches of one merge, pre-union. `history` is the full new history.
    * `cachedPlans` are intermediate plans the merge cached; call
    * [[MergeResult.unpersist]] once all branches are materialized so cached
    * snapshots don't accumulate executor memory across successive loads. */
  case class MergeResult(
      history: DataFrame,
      current: DataFrame,
      inserted: DataFrame,
      changed: DataFrame,
      removed: DataFrame,
      cachedPlans: Seq[DataFrame] = Nil) {
    def unpersist(): Unit = cachedPlans.foreach(_.unpersist())

    /** Materialize `history` for plan-chaining callers — feeding this
      * merge's in-memory result straight into a further merge without it,
      * every branch of the next merge (and its snapshot) re-executes this
      * merge's shuffles; chains recompute combinatorially. `localCheckpoint`
      * runs one eager job and truncates lineage; `current` is rebuilt over
      * the checkpointed history so it shares the materialized blocks.
      *
      * Memory contract: holds one history copy on executor block storage
      * (memory-and-disk). The store paths ([[Scd2Store]]/[[CatalogStore]])
      * materialize to parquet between loads instead and don't need this. */
    def materialized: MergeResult = {
      val h = graft.util.Caches.trackCheckpointed(history.localCheckpoint())
      copy(history = h, current = Scd2Merge.snapshot(h))
    }
  }

  /** Latest version per entity (C7 `snapshot`, reference:
    * ParquetDataLoader.scala:977-990 reduceByKey arg-max). `max_by` compiles
    * to a single partial+final hash aggregate — one shuffle, no sort. */
  def snapshot(history: DataFrame): DataFrame = {
    val cols = history.columns
    history.groupBy(col(EntityId))
      .agg(max_by(struct(cols.filter(_ != EntityId).map(col): _*),
        col(Version)).as("__r"))
      .select(col(EntityId) +: cols.filter(_ != EntityId)
        .map(c => col(s"__r.$c").as(c)): _*)
      .select(cols.map(col): _*)
  }

  /** Current active view: latest versions minus logical deletes
    * (reference: ParquetDataLoader.scala:342-344). */
  def currentActive(history: DataFrame): DataFrame =
    snapshot(history).filter(col(RecType) =!= Rec.Delete)

  /** Time-travel read: the snapshot as it stood at `asOf` — the latest
    * version per entity among rows whose `start_time` is at or before the
    * instant. SCD2 histories are append-only, so this is a filter + the
    * same one-shuffle arg-max as [[snapshot]]; entities first loaded
    * after `asOf` simply don't appear. */
  def snapshotAsOf(history: DataFrame, asOf: String): DataFrame =
    snapshot(history.filter(col(StartTime) <= lit(asOf).cast("timestamp")))

  /** Project + rename + stamp metadata columns onto an incoming batch
    * (reference: ParquetDataLoader.scala:292-322). Output columns:
    * entity_id, [natural keys unless dropKeys], attrs…, then
    * Meta.StampedCols. Exact duplicates are removed by [[delta]], inside
    * its per-entity partitioning.
    *
    * The delete-indicator column is *consumed* here (into `__is_delete`),
    * never persisted and never part of the change hash — a flipped flag must
    * not masquerade as an attribute change, and the history schema must not
    * depend on whether a given load carried the indicator. */
  def stamp(incoming: DataFrame, cfg: MergeConfig): DataFrame = {
    val projected = cfg.projection
      .map(p => incoming.select(p.map(col): _*)).getOrElse(incoming)
      .withColumnsRenamed(cfg.newNames)
    val keyCols = cfg.idFields.map(projected(_))
    // Load-metadata columns (delete flag, business-validity sources) are
    // consumed into their stamped forms: they must not ride in the payload
    // (the history schema would depend on which loads carried them) and
    // must not feed the change hash (a flag/validity-only change is not an
    // attribute change). A natural-key column doubling as a validity
    // source stays in the payload — keys are never dropped unless
    // `dropKeys` says so. NOTE: histories persisted by versions that kept
    // the raw validity column in the payload need a one-time column drop
    // before merging with this stamp.
    val metaFields = (cfg.deleteIndicatorField.map(_._1).toSeq ++
      cfg.validStartTimeField ++ cfg.validEndTimeField)
      .filterNot(cfg.idFields.contains)
    val attrNames = projected.columns
      .filterNot(cfg.idFields.contains).filterNot(metaFields.contains)
    val delCol = cfg.deleteIndicatorField.map { case (f, vs) =>
      col(f).isin(vs: _*)
    }.getOrElse(lit(false))
    val dataCols =
      if (cfg.dropKeys) attrNames.map(col).toSeq
      else projected.columns.filterNot(metaFields.contains).map(col).toSeq
    val validStart = cfg.validStartTimeField.map(col(_).cast("timestamp"))
      .getOrElse(lit(cfg.processTime).cast("timestamp"))
    val validEnd = cfg.validEndTimeField.map(col(_).cast("timestamp"))
      .getOrElse(lit(OpenEndDate).cast("timestamp"))
    projected.select(
      (graft.functions.entityIdHash(cfg.idType, keyCols).as(EntityId) +:
        dataCols :+
        lit(cfg.processTime).cast("timestamp").as(StartTime) :+
        lit(OpenEndDate).cast("timestamp").as(EndTime) :+
        validStart.as(ValidStartTime) :+
        validEnd.as(ValidEndTime) :+
        lit(cfg.source).as(Source) :+
        lit(cfg.processType).as(ProcessType) :+
        lit(cfg.processId).as(ProcessId) :+
        lit(cfg.processTime).cast("date").as(ProcessDate) :+
        lit(cfg.userId).as(UserId) :+
        graft.functions.changeHash(attrNames.map(col)).as(HashedValue) :+
        delCol.as("__is_delete")): _*)
  }

  /** The kernel: the new history rows (I/U/D, versioned) that `incoming`
    * makes against `snapshot` — the latest version per entity, logical
    * deletes included (the stored `current.parquet`, or [[snapshot]] of a
    * history; None ⇒ first load). Output columns are in history order.
    *
    * One co-partitioned pass: the snapshot rows and the stamped batch rows
    * are unioned and grouped by a window on `entity_id` — a single
    * exchange, and each entity's rows meet in one window partition, which
    * decides for the entity:
    *  - a live batch row is an Insert when the entity has no active
    *    snapshot row, an Update when its change hash differs from the
    *    active row's, and dropped otherwise;
    *  - the active snapshot row becomes a Delete, restamped with this
    *    load's process metadata, when the batch flags the entity — or, on
    *    a full load, when the batch has no live row for it.
    * Delete flags take precedence: an entity with both a live and a
    * flagged row emits only the D row, so no U and D row tie on one
    * version and the snapshot arg-max stays deterministic. Every emitted
    * row takes version snapshot+1 (1 for a new lineage), so a re-inserted
    * entity resumes after its delete instead of being shadowed by the
    * stale D row. Two different live rows of one entity in one batch
    * would share that version, so they fail loud, unless the batch also
    * flags the entity. Exact-duplicate rows are removed last; the aggregate
    * reuses the window's entity_id partitioning, so it adds no exchange.
    * A full load of an unchanged universe emits nothing. */
  def delta(incoming: DataFrame, snapshot: Option[DataFrame],
      cfg: MergeConfig): DataFrame = {
    val batch = stamp(incoming, cfg)
      .withColumn(RecType, lit(null).cast("string"))
      .withColumn(Version, lit(null).cast("int"))
      .withColumn("__snap", lit(false))
    val outCols = snapshot.map(_.columns.toSeq).getOrElse(
      batch.columns.toSeq.filterNot(Seq("__is_delete", "__snap").contains))
    val rows = snapshot.fold(batch)(_
      .withColumn("__is_delete", lit(false))
      .withColumn("__snap", lit(true))
      .unionByName(batch))
    val entity = Window.partitionBy(col(EntityId))
    def fromSnapshot(c: String) = max(when(col("__snap"), col(c))).over(entity)
    val liveRow = !col("__snap") && !col("__is_delete")
    val decided = rows
      .withColumn("__sn_version", fromSnapshot(Version))
      .withColumn("__sn_rectype", fromSnapshot(RecType))
      .withColumn("__sn_hash", fromSnapshot(HashedValue))
      .withColumn("__flagged", max(col("__is_delete")).over(entity))
      // the least and greatest change hash of the batch's live rows: NULL
      // when it has none, different when it has two different ones
      .withColumn("__lo", min(when(liveRow, col(HashedValue))).over(entity))
      .withColumn("__hi", max(when(liveRow, col(HashedValue))).over(entity))
    val active = col("__sn_rectype").isNotNull &&
      col("__sn_rectype") =!= Rec.Delete
    val emit = when(col("__snap"), active &&
        (col("__flagged") || lit(!cfg.isDelta) && col("__lo").isNull))
      .otherwise(!col("__flagged") &&
        (!active || col(HashedValue) =!= col("__sn_hash")))
    // an unflagged entity with two different live rows emits at least one
    // of them, so the check fails loud on the emitted rows alone
    val version = when(!col("__flagged") && col("__lo") =!= col("__hi"),
        raise_error(concat(lit("Scd2Merge.delta: entity "),
          col(EntityId).cast("string"), lit(" has two different live " +
            "rows in one batch; they would share one version"))))
      .otherwise(coalesce(col("__sn_version") + 1, lit(1)))
    val stamped = Map(
      RecType -> when(col("__snap"), lit(Rec.Delete))
        .when(active, lit(Rec.Update)).otherwise(lit(Rec.Insert)),
      Version -> version,
      StartTime -> lit(cfg.processTime).cast("timestamp"),
      ProcessDate -> lit(cfg.processTime).cast("date"),
      ProcessType -> lit(cfg.processType),
      ProcessId -> lit(cfg.processId),
      UserId -> lit(cfg.userId))
    decided.filter(emit)
      .select(outCols.map(c => stamped.get(c).fold(col(c))(_.as(c))): _*)
      .distinct()
  }

  /** Overwrite mode's rewrite of the old history: the versions `delta`
    * supersedes (its U and D entities) get their open `end_time` set to
    * this load's processTime (true SCD2 close-off, reference:
    * ParquetDataLoader.scala:436-471). The caller appends the delta;
    * append mode keeps history rows untouched and skips this. */
  def closeOff(history: DataFrame, delta: DataFrame,
      cfg: MergeConfig): DataFrame = {
    val superseded = delta.filter(col(RecType) =!= Rec.Insert)
      .select(col(EntityId)).distinct()
    val closed = history.join(superseded, Seq(EntityId), "left_semi")
      .withColumn(EndTime,
        when(col(EndTime) === lit(OpenEndDate).cast("timestamp"),
          lit(cfg.processTime).cast("timestamp"))
          .otherwise(col(EndTime)))
    history.join(superseded, Seq(EntityId), "left_anti").unionByName(closed)
  }

  /** Full merge: incoming batch vs existing history (None ⇒ first load).
    * The history is reduced to its [[snapshot]] and run through [[delta]];
    * the branches are filters of that one delta. */
  def merge(incoming: DataFrame, existingHistory: Option[DataFrame],
      cfg: MergeConfig): MergeResult = {
    def branches(d: DataFrame) =
      Seq(Rec.Insert, Rec.Update, Rec.Delete).map(r => d.filter(col(RecType) === r))
    existingHistory match {
      case None =>
        val d = delta(incoming, None, cfg)
        val Seq(ins, upd, del) = branches(d)
        MergeResult(d, snapshot(d), ins, upd, del)

      case Some(hist) =>
        // the snapshot feeds the kernel and the new current, the delta
        // every branch and the new history: each is computed once
        val snap = snapshot(hist).cache()
        val d = delta(incoming, Some(snap), cfg).cache()
        val newHistory =
          if (cfg.overwrite) closeOff(hist, d, cfg).unionByName(d)
          else hist.unionByName(d)
        val Seq(ins, upd, del) = branches(d)
        MergeResult(newHistory, snapshot(snap.unionByName(d)), ins, upd, del,
          cachedPlans = Seq(snap, d))
    }
  }
}
