package graft.load

import graft.meta.Meta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Parquet persistence for SCD2 loads — the reference's on-disk contract
  * (reference: diamond/load/usage.md "Files created"):
  *
  * `<base>/<table>/history.parquet`   full versioned history, append-only:
  *                                    each load adds its delta as new part
  *                                    files (only overwrite mode rewrites it)
  * `<base>/<table>/current.parquet`   latest version per entity, logical
  *                                    deletes included; the snapshot each
  *                                    load merges against, rebuilt per load
  * `<base>/<table>/new.parquet` / `changed.parquet` / `removed.parquet`
  *                                    per-load change tables, partitioned by
  *                                    process_date with N-day retention
  *                                    (reference: ParquetDataLoader.scala:1067-1103)
  * `<base>/<table>/proc.csv`          load-stats log
  *
  * Scale notes: a delta load reads current, never history, so it costs
  * O(current + batch) however deep the history grows. Change tables are
  * `partitionBy(process_date)` so retention is a driver-side
  * partition-directory delete, not a data rewrite. Load stats come from
  * `observe()` metrics on the single delta write — the reference re-ran
  * `count()` 4-6 times over the same lineage
  * (ParquetDataLoader.scala:493-497).
  */
class Scd2Store(val spark: SparkSession, base: String) {
  import Meta._

  private def p(table: String, name: String) = s"$base/$table/$name.parquet"

  def historyExists(table: String): Boolean = {
    val path = new Path(p(table, "history"))
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  def readHistory(table: String): Option[DataFrame] =
    if (historyExists(table)) Some(spark.read.parquet(p(table, "history")))
    else None

  def readCurrent(table: String): DataFrame =
    spark.read.parquet(p(table, "current"))
      .filter(col(RecType) =!= Rec.Delete)

  /** Current view with history fallback (reference `readCurrentMapping`,
    * ParquetDataLoader.scala:992-1001): prefer the materialized current
    * table; when only a history exists (e.g. written by an external job),
    * derive the latest-per-entity view from it. For links/mappings the
    * entity id IS the (src, dst) pair hash, so this equals the
    * reference's latest-per-pair `readMapping`. */
  def readCurrentOrSnapshot(table: String): DataFrame = {
    val cur = new Path(p(table, "current"))
    if (cur.getFileSystem(spark.sessionState.newHadoopConf()).exists(cur))
      readCurrent(table)
    else
      Scd2Merge.currentActive(spark.read.parquet(p(table, "history")))
  }

  /** Time-travel read of a stored table (see [[Scd2Merge.snapshotAsOf]]). */
  def readSnapshotAsOf(table: String, asOf: String): DataFrame =
    Scd2Merge.snapshotAsOf(spark.read.parquet(p(table, "history")), asOf)

  /** Run a merge against the stored current snapshot and publish it.
    * Returns the per-branch counts (inserted/changed/removed).
    *
    * The kernel ([[Scd2Merge.delta]]) runs once against `current.parquet`
    * (a first load against nothing); its cached delta is staged once, in
    * the stored schema, and appended to history as new part files. The
    * new current is `snapshot(current ∪ delta)`; the change tables are the
    * delta split by rectype. Branch counts ride the delta write via
    * `observe()`, so they cost no extra job. Only overwrite mode, whose
    * close-off edits old versions, stages a full history rewrite.
    *
    * The publish — the one crash window of a load — runs:
    *  1. stage the new current, then the history rows and the change-table
    *     rows, under fixed hidden names in the table directory;
    *  2. swap current — the commit point;
    *  3. move the staged rows into history and the change tables;
    *  4. drop the backups.
    * A recovery preamble runs first and finishes or undoes a publish that a
    * crash cut short, so a rerun — or a streaming batch replayed after a
    * crash — never appends a version twice. Single writer per table, like
    * every store mutation. */
  def runLoad(table: String, incoming: DataFrame, cfg: MergeConfig): Map[String, Long] = {
    recoverLoad(table)
    requireCompatibleHashEncoding(table)
    val dir = tableDir(table)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val curPath = new Path(p(table, "current"))
    val snap =
      if (fs.exists(curPath)) Some(spark.read.parquet(curPath.toString))
      else readHistory(table).map(Scd2Merge.snapshot)
    val delta = inSchemaOf(snap, Scd2Merge.delta(incoming, snap, cfg)).cache()
    try {
      // 1. stage — current first: while it is staged, the load is undone.
      // A first load's snapshot reuses the cached delta's partitioning, so
      // no AQE-coalesced exchange sizes its files: rebalance it like the
      // delta write. Later loads' snapshot aggregate has its own exchange.
      val current = Scd2Merge.snapshot(snap.fold(delta)(_.unionByName(delta)))
      (if (snap.isEmpty) current.hint("rebalance") else current)
        .write.mode("overwrite").parquet(new Path(dir, StagedCurrent).toString)
      val obs = org.apache.spark.sql.Observation(s"scd2_${table}_${cfg.processId}")
      def branch(rectype: String) = count(when(col(RecType) === rectype, 1))
      val counted = delta.observe(obs,
        branch(Rec.Insert).as("inserted"),
        branch(Rec.Update).as("changed"),
        branch(Rec.Delete).as("removed"))
      val hist = new Path(p(table, "history"))
      val (rows, staged) =
        if (cfg.overwrite && fs.exists(hist))
          Scd2Merge.closeOff(spark.read.parquet(hist.toString), delta, cfg)
            .unionByName(counted) -> StagedHistory
        else counted -> StagedDelta
      // rebalance: AQE sizes the files, so a small delta lands in one
      // file instead of one per shuffle partition of the kernel
      rows.hint("rebalance")
        .write.mode("overwrite").parquet(new Path(dir, staged).toString)
      val metrics = obs.get
      val counts = Seq("inserted", "changed", "removed")
        .map(k => k -> metrics(k).asInstanceOf[Long]).toMap
      // nothing changed: publish nothing, not even a new current
      if (counts.values.sum == 0 && snap.nonEmpty) discardStaged(fs, dir)
      else {
        if (cfg.writeChangeTables)
          delta.withColumn(ChangeTableCol,
              when(col(RecType) === Rec.Insert, "new")
                .when(col(RecType) === Rec.Update, "changed").otherwise("removed"))
            .hint("rebalance", col(ChangeTableCol), col(ProcessDate))
            .write.mode("overwrite").partitionBy(ChangeTableCol, ProcessDate)
            .parquet(new Path(dir, StagedChanges).toString)
        // 2. commit
        swapIn(fs, new Path(dir, StagedCurrent), curPath, new Path(dir, CurrentBackup))
        // 3. + 4.
        finishLoad(table)
      }
      counts
    } finally delta.unpersist()
  }

  // Hidden (dot-prefixed, so invisible to parquet readers) names of the
  // load publish, fixed per table: any crash leaves findable state.
  private val StagedCurrent = ".load_current"
  private val StagedDelta = ".load_delta"
  private val StagedHistory = ".load_history"
  private val StagedChanges = ".load_changes"
  private val CurrentBackup = ".current_backup"
  private val HistoryBackup = ".history_backup"
  private val ChangeTableCol = "__change_table"

  private def tableDir(table: String) = new Path(s"$base/$table")

  /** `delta` in the stored tables' column order and types: its files land
    * beside those of earlier loads, so the schema must match theirs.
    * (current.parquet and history.parquet share one schema.) A batch
    * column of a wider type than the stored one fails loud rather than
    * narrowing silently. */
  private def inSchemaOf(stored: Option[DataFrame], delta: DataFrame): DataFrame =
    stored.fold(delta) { s =>
      delta.select(s.schema.fields.toSeq.map { f =>
        val have = delta.schema(f.name).dataType
        if (have.catalogString == f.dataType.catalogString) col(f.name)
        else {
          require(Cast.canUpCast(have, f.dataType),
            s"column ${f.name} is ${have.catalogString} in this batch but " +
              s"${f.dataType.catalogString} in the stored table")
          col(f.name).cast(f.dataType).as(f.name)
        }
      }: _*)
    }

  /** Rename `staged` to `live`, moving an existing `live` aside to
    * `backup` first — never delete-then-rename: HDFS `rename` reports
    * failure as `false` rather than throwing, and a crash between a delete
    * and a rename would lose the table. */
  private def swapIn(fs: FileSystem, staged: Path, live: Path, backup: Path): Unit = {
    if (fs.exists(live) && !fs.rename(live, backup))
      throw new java.io.IOException(
        s"could not move $live aside to $backup; $live left untouched")
    if (!fs.rename(staged, live)) {
      if (!fs.exists(live) && fs.exists(backup)) fs.rename(backup, live)
      throw new java.io.IOException(s"could not publish $staged to $live")
    }
  }

  /** Move the part files of `from` into `to` (the whole directory when `to`
    * does not exist yet), then drop `from`. Part names carry the writing
    * job's UUID, so they never collide with files already in `to`; a
    * rerun after a crash moves only the files still left in `from`. */
  private def moveParts(fs: FileSystem, from: Path, to: Path): Unit = {
    if (!fs.exists(to)) {
      fs.mkdirs(to.getParent)
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"could not move $from to $to")
    } else {
      fs.listStatus(from).map(_.getPath)
        .filter(_.getName.startsWith("part-")).foreach { f =>
          if (!fs.rename(f, new Path(to, f.getName)))
            throw new java.io.IOException(s"could not move $f into $to")
        }
      fs.delete(from, true)
    }
  }

  private def discardStaged(fs: FileSystem, dir: Path): Unit =
    Seq(StagedCurrent, StagedDelta, StagedHistory, StagedChanges)
      .foreach(n => fs.delete(new Path(dir, n), true))

  /** Steps 3–4 of a committed load: move the staged rows into history
    * (overwrite mode: swap the staged rewrite in) and into the change
    * tables, then drop the backups. Every step is idempotent. */
  private def finishLoad(table: String): Unit = {
    val dir = tableDir(table)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val hist = new Path(p(table, "history"))
    val stagedHistory = new Path(dir, StagedHistory)
    if (fs.exists(stagedHistory))
      swapIn(fs, stagedHistory, hist, new Path(dir, HistoryBackup))
    val stagedDelta = new Path(dir, StagedDelta)
    if (fs.exists(stagedDelta)) moveParts(fs, stagedDelta, hist)
    val changes = new Path(dir, StagedChanges)
    if (fs.exists(changes)) {
      for {
        t <- fs.listStatus(changes) if t.isDirectory
        part <- fs.listStatus(t.getPath) if part.isDirectory
      } moveParts(fs, part.getPath, new Path(
        p(table, t.getPath.getName.stripPrefix(s"$ChangeTableCol=")),
        part.getPath.getName))
      fs.delete(changes, true)
    }
    fs.listStatus(dir).map(_.getPath).filter { b =>
      b.getName == CurrentBackup || b.getName.startsWith(HistoryBackup) ||
        b.getName.startsWith(".history_staging_")
    }.foreach(fs.delete(_, true))
  }

  /** The recovery preamble of [[runLoad]]: bring a table whose last load
    * crashed mid-publish back to a consistent history/current pair.
    *  - A history backup with no live history — an overwrite swap cut
    *    between its two renames, or the `.history_backup_<processId>` that
    *    the full-history rewrite of earlier versions left when cut the
    *    same way — is restored first, so the next load can never take the
    *    first-load path over an orphaned history.
    *  - A staged current means the load never committed: current is
    *    restored from its backup if the swap was cut between its renames,
    *    and every staged output is dropped (a rerun redoes the load).
    *  - A `.history_backup_<processId>` beside a live history is that
    *    earlier rewrite cut after its history swap, before or while it
    *    rewrote current: current may lag history, so it is rebuilt.
    *  - Then a committed load is rolled forward ([[finishLoad]]). */
  private def recoverLoad(table: String): Unit = {
    val dir = tableDir(table)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) {
      val hist = new Path(p(table, "history"))
      val cur = new Path(p(table, "current"))
      def backups = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith(HistoryBackup))
      backups.foreach(b => if (!fs.exists(hist)) fs.rename(b, hist))
      if (fs.exists(new Path(dir, StagedCurrent))) {
        val backup = new Path(dir, CurrentBackup)
        if (!fs.exists(cur) && fs.exists(backup)) fs.rename(backup, cur)
        discardStaged(fs, dir)
      }
      if (backups.exists(_.getName != HistoryBackup)) {
        val staged = new Path(dir, StagedCurrent)
        Scd2Merge.snapshot(spark.read.parquet(hist.toString))
          .write.mode("overwrite").parquet(staged.toString)
        swapIn(fs, staged, cur, new Path(dir, CurrentBackup))
      }
      finishLoad(table)
    }
  }

  /** Publish the stored history and current views as catalog tables
    * BUCKETED (and sorted) on entity_id
    * ([[graft.relational.Joins.writeBucketed]]) — the storage layout for
    * tables joined on entity_id every day: a join against a staged batch
    * bucketed the same way runs EXCHANGE-FREE (plan-guarded in
    * PlanGuardSpec), and against a plain unbucketed batch only the small
    * batch side shuffles — the 100 TB history/current side is never
    * re-partitioned, load after load. Returns the (history, current)
    * catalog table names. */
  def publishBucketed(table: String, buckets: Int): (String, String) = {
    val histT = s"${table}_history_bucketed"
    val curT = s"${table}_current_bucketed"
    val hist = readHistory(table).getOrElse(throw new IllegalArgumentException(
      s"publishBucketed: no history stored for '$table'"))
    graft.relational.Joins.writeBucketed(hist, histT, Seq(EntityId), buckets)
    graft.relational.Joins.writeBucketed(
      spark.read.parquet(p(table, "current")), curT, Seq(EntityId), buckets)
    (histT, curT)
  }

  /** Read `<base>/<table>/meta.json` as a flat string map (empty when the
    * table was never logged through [[writeMeta]]). */
  def readMeta(table: String): Map[String, String] = {
    val metaPath = new Path(new Path(p(table, "history")).getParent, "meta.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(metaPath)) Map.empty
    else {
      val in = fs.open(metaPath)
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      // flat {"k": "v", ...} as written by writeMeta — a full JSON parser
      // is not needed for our own escaped output
      """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
        .findAllMatchIn(txt)
        .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
    }
  }

  private def unesc(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Refuse to merge into a history stamped with a different [[graft.functions.HashEncodingVersion]]:
    * entity/change hashes from another encoding would classify every
    * existing entity as deleted + re-inserted — silent corruption, not a
    * merge. Histories logged before versions were stamped count as v1.
    * Unlogged histories (no meta.json) can't be checked and pass through. */
  private def requireCompatibleHashEncoding(table: String): Unit = {
    val meta = readMeta(table)
    if (meta.nonEmpty && historyExists(table)) {
      val stored = meta.getOrElse("hash_encoding", "1")
      val current = graft.functions.HashEncodingVersion.toString
      require(stored == current,
        s"history for '$table' was written with hash encoding v$stored but " +
          s"this library stamps v$current: merging would mark every entity " +
          "deleted+re-inserted. Rehash the stored history (recompute " +
          "entity_id/hashed_value from the natural keys) before loading.")
    }
  }

  /** S14 process-log sink: append one stats line per load to
    * `<base>/<table>/proc.csv` (reference schema: DataLoader.scala:85-96;
    * the reference's collect+re-parallelize merge, ParquetDataLoader.scala:
    * 1014-1056, is replaced by a driver-side append — the log is one line
    * per load, never data-sized). */
  def logProcess(table: String, cfg: MergeConfig, readCount: Long,
      duplicates: Long, counts: Map[String, Long]): Unit = {
    // Hadoop FS, not java.nio: `base` may be any filesystem URI (hdfs://,
    // s3a://...) — local Paths would silently write to the driver's cwd.
    // Read-modify-write instead of append: HDFS append support is
    // configuration-dependent and the log is one line per load.
    val f = new Path(p(table, "history")).getParent
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    val procPath = new Path(f, "proc.csv")
    val header =
      "process_id,process_type,table,read_count,duplicates,inserted,changed,removed,process_time\n"
    val line = Seq(cfg.processId, cfg.processType, table, readCount,
      duplicates, counts("inserted"), counts("changed"), counts("removed"),
      cfg.processTime).mkString(",") + "\n"
    val existing =
      if (fs.exists(procPath)) {
        val in = fs.open(procPath)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      } else header
    // write-then-swap: truncating proc.csv in place would lose the whole
    // log if the driver dies mid-write, and delete-then-rename leaves NO
    // published log if it dies between the two — so the old file is moved
    // ASIDE (not deleted) until the new one is in place. Any crash leaves
    // either the old log or the new log at a findable name. The
    // read-modify-write makes this single-writer-per-table; concurrent
    // loads of the SAME table are outside the store's contract (the
    // reference's loader had the same constraint).
    val tag = cfg.processId.replaceAll("\\W", "_")
    val tmp = new Path(f, s".proc_$tag.tmp")
    val out = fs.create(tmp, true)
    try out.write((existing + line).getBytes("UTF-8")) finally out.close()
    val aside = new Path(f, s".proc_$tag.old")
    swapIn(fs, tmp, procPath, aside)
    fs.delete(aside, false)
  }

  /** S15 meta-file sink: load parameters as `<base>/<table>/meta.json`
    * (reference: ParquetDataLoader.scala:1058-1065). */
  def writeMeta(table: String, cfg: MergeConfig): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = Seq(
      "table" -> table, "id_type" -> cfg.idType,
      "entity_type" -> cfg.entityType, "source" -> cfg.source,
      "process_type" -> cfg.processType, "process_id" -> cfg.processId,
      "user_id" -> cfg.userId, "process_time" -> cfg.processTime,
      "id_fields" -> cfg.idFields.mkString("|"),
      // guards future loads against a silent hash-format break
      "hash_encoding" -> graft.functions.HashEncodingVersion.toString)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ", ", "}")
    val metaPath = new Path(new Path(p(table, "history")).getParent, "meta.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(metaPath, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** [[runLoad]] plus the A7 duplicates metric and the S14/S15 sinks. */
  def runLoadLogged(table: String, incoming: DataFrame,
      cfg: MergeConfig): Map[String, Long] = {
    val readCount = incoming.count()
    val duplicates = readCount - incoming.distinct().count()
    val counts = runLoad(table, incoming, cfg)
    logProcess(table, cfg, readCount, duplicates, counts)
    writeMeta(table, cfg)
    counts + ("read" -> readCount) + ("duplicates" -> duplicates)
  }

  /** Crash-safe in-place consolidation of one parquet directory: rows are
    * rewritten into `targetFiles` files in a dot-prefixed staging dir
    * (invisible to parquet readers), then swapped in via the same
    * rename-aside discipline as [[runLoad]]'s current swap. The swap
    * itself is two renames; a crash exactly between them leaves the data
    * at the DETERMINISTIC backup name (tags are content-addressed, never
    * timestamped), and the recovery preamble of the next call — or of
    * [[recoverCompact]] directly — renames it back before doing anything
    * else, so the table is restored by re-running the maintenance job.
    * The backup is deleted last. `dropCols` lets partitioned callers
    * strip the column the directory name re-materializes. Staging and
    * backup names are the live directory's own name behind a dot prefix,
    * so a backup always names exactly the directory it must restore. */
  private def rewriteCompact(dir: Path, targetFiles: Int,
      dropCols: Seq[String] = Nil): Unit = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val parent = dir.getParent
    val staging = new Path(parent, s".compact_staging_${dir.getName}")
    val backup = new Path(parent, s".compact_backup_${dir.getName}")
    // recovery preamble: a backup with no live dir is the crashed-between-
    // renames state — restore it; everything else hidden is stale output
    if (fs.exists(backup) && !fs.exists(dir)) fs.rename(backup, dir)
    if (fs.exists(staging)) fs.delete(staging, true)
    if (fs.exists(backup)) fs.delete(backup, true)
    spark.read.parquet(dir.toString)
      .drop(dropCols: _*)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(staging.toString)
    swapIn(fs, staging, dir, backup)
    fs.delete(backup, true)
  }

  private def partFileCount(dir: Path): Int = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count(_.getPath.getName.startsWith("part-"))
  }

  /** Consolidate the history and current tables to `targetFiles` files
    * each. Every load appends its delta to history as new part files,
    * however few rows changed, so a long-lived table carries hundreds of
    * KB-sized files whose open/footer cost dominates reads (the classic
    * small-file problem; the reference's README asks for the same
    * "stitching function"). Run in a maintenance window —
    * single-writer-per-table, like every store mutation. */
  def compactHistory(table: String, targetFiles: Int = 8): Unit = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    recoverCompact(table)
    for (name <- Seq("history", "current")) {
      val dir = new Path(p(table, name))
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(dir) && partFileCount(dir) > targetFiles)
        rewriteCompact(dir, targetFiles)
    }
  }

  /** Restore any compaction backup whose live directory is missing (the
    * crashed-between-renames state) — called automatically by
    * [[compactHistory]]/[[compactChangeTables]], exposed for explicit
    * recovery. A backup dir is `.compact_backup_<liveName>` in the live
    * directory's parent, so restoration is a prefix strip + rename. */
  def recoverCompact(table: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val parents = new Path(s"$base/$table") +:
      Seq("new", "changed", "removed").map(n => new Path(p(table, n)))
    for (parent <- parents) {
      val fs = parent.getFileSystem(conf)
      if (fs.exists(parent)) {
        fs.listStatus(parent).map(_.getPath)
          .filter(_.getName.startsWith(".compact_backup_")).foreach { b =>
            val live = new Path(parent,
              b.getName.stripPrefix(".compact_backup_"))
            if (!fs.exists(live)) fs.rename(b, live)
          }
      }
    }
  }

  /** Consolidate change-table partitions whose per-load appends exceeded
    * `targetFiles` part files. Appends accumulate one file set per load
    * into each `process_date=` partition (retention deletes whole
    * partitions but never consolidates live ones); this rewrites only
    * the partitions over the threshold, one at a time, keeping the
    * directory-per-partition layout [[expireChangeTables]] deletes by. */
  def compactChangeTables(table: String, targetFiles: Int = 4): Unit = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    recoverCompact(table)
    val conf = spark.sessionState.newHadoopConf()
    for (name <- Seq("new", "changed", "removed")) {
      val root = new Path(p(table, name))
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) {
        fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
          .filter(_.getName.startsWith(s"$ProcessDate="))
          .filter(partFileCount(_) > targetFiles)
          .foreach { part =>
            // the partition column lives in the directory name; dropping
            // it from the rewrite keeps the read-back schema identical
            rewriteCompact(part, targetFiles, dropCols = Seq(ProcessDate))
          }
      }
    }
  }

  /** S13: drop change-table partitions older than `retainDays` relative to
    * `asOf` — a partition-directory delete, no rewrite
    * (reference: ParquetDataLoader.scala:1091-1103 `removeParts`). */
  def expireChangeTables(table: String, asOf: java.time.LocalDate,
      retainDays: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    for (name <- Seq("new", "changed", "removed")) {
      val dir = new Path(p(table, name))
      val fs = dir.getFileSystem(conf)
      if (fs.exists(dir)) {
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(s"$ProcessDate=")) {
            val d = java.time.LocalDate.parse(n.stripPrefix(s"$ProcessDate="))
            if (d.isBefore(asOf.minusDays(retainDays.toLong)))
              fs.delete(st.getPath, true)
          }
        }
      }
    }
  }
}
