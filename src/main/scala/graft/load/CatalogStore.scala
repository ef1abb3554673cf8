package graft.load

import graft.meta.Meta
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** C6: the catalog-table variant of [[Scd2Store]] — history and current
  * live as catalog tables (`spark.table` / `saveAsTable`) instead of
  * parquet paths (reference: diamond/load/HiveDataLoader.scala:101-509,
  * which targeted ORC Hive tables and left updates commented out pending
  * Hive ACID). The merge semantics are [[Scd2Merge]] unchanged: the data
  * model is append-only versioned rows, so no table UPDATE support is
  * needed — exactly the conclusion the reference's Hive commentary reaches
  * (HiveDataLoader.scala:77-78).
  *
  * Covers S11 (catalog table scan) and A9 (existence probe via
  * `spark.catalog.tableExists`, not the reference's try/catch around
  * `select count(*)`). */
class CatalogStore(spark: SparkSession) {
  import Meta._

  private def historyName(table: String) = s"${table}_history"
  private def currentName(table: String) = s"${table}_current"

  /** A9 existence probe. */
  def tableExists(name: String): Boolean = spark.catalog.tableExists(name)

  /** Drop a managed table AND its warehouse location — a stale location
    * from an earlier session would otherwise fail the next
    * `saveAsTable` with LOCATION_ALREADY_EXISTS. */
  private def dropManaged(name: String): Unit = {
    if (tableExists(name)) spark.sql(s"DROP TABLE $name")
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = warehouse.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(warehouse)) fs.delete(warehouse, true)
  }

  def readHistory(table: String): Option[DataFrame] =
    if (tableExists(historyName(table))) Some(spark.table(historyName(table)))
    else None

  def readCurrent(table: String): DataFrame =
    spark.table(currentName(table)).filter(col(RecType) =!= Rec.Delete)

  /** Time-travel read of a catalog-stored table
    * (see [[Scd2Merge.snapshotAsOf]]). */
  def readSnapshotAsOf(table: String, asOf: String): DataFrame =
    Scd2Merge.snapshotAsOf(spark.table(historyName(table)), asOf)

  /** Current view with history fallback (parity with
    * [[Scd2Store.readCurrentOrSnapshot]]). */
  def readCurrentOrSnapshot(table: String): DataFrame =
    if (tableExists(currentName(table))) readCurrent(table)
    else Scd2Merge.currentActive(spark.table(historyName(table)))

  /** Run a merge against the stored history tables. The new history is
    * staged under a temporary name and swapped in with a rename so the
    * lazy merge plan never overwrites its own input. */
  def runLoad(table: String, incoming: DataFrame,
      cfg: MergeConfig): Map[String, Long] = {
    val result = Scd2Merge.merge(incoming, readHistory(table), cfg)
    val hist = historyName(table)
    val pid = cfg.processId.replaceAll("\\W", "_")
    val staging = s"${hist}_staging_$pid"
    dropManaged(staging)
    // Branch counts ride the staging write via observe() — zero extra
    // jobs. The whole history is observed and this load's rows are told
    // apart by process_id, so processId must be unique per load.
    val obs = org.apache.spark.sql.Observation(s"cat_${table}_$pid")
    def branch(rectype: String) = count(
      when(col(ProcessId) === cfg.processId && col(RecType) === rectype, 1))
    result.history
      .observe(obs,
        branch(Rec.Insert).as("inserted"),
        branch(Rec.Update).as("changed"),
        branch(Rec.Delete).as("removed"))
      .write.mode(SaveMode.Overwrite).saveAsTable(staging)
    val metrics = obs.get
    val counts = Map(
      "inserted" -> metrics("inserted").asInstanceOf[Long],
      "changed" -> metrics("changed").asInstanceOf[Long],
      "removed" -> metrics("removed").asInstanceOf[Long])
    result.unpersist()
    // Swap via a PROCESS-UNIQUE backup rename, never drop-then-rename: a
    // crash between the two renames leaves the old history recoverable
    // under the backup name, and a later load's cleanup cannot touch an
    // earlier crash's backup (distinct suffix).
    val backup = s"${hist}_backup_$pid"
    dropManaged(backup)
    val hadOld = tableExists(hist)
    if (hadOld) spark.sql(s"ALTER TABLE $hist RENAME TO $backup")
    // no live table: still clear any stale location left by an earlier
    // session (in-memory catalog forgets tables, the warehouse dir doesn't)
    else dropManaged(hist)
    try spark.sql(s"ALTER TABLE $staging RENAME TO $hist")
    catch {
      case e: Exception =>
        if (hadOld) spark.sql(s"ALTER TABLE $backup RENAME TO $hist")
        throw e
    }
    if (hadOld) dropManaged(backup)
    dropManaged(currentName(table))
    Scd2Merge.snapshot(spark.table(hist))
      .write.mode(SaveMode.Overwrite).saveAsTable(currentName(table))
    counts
  }
}
