package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The tombstone-ledger contract of the delete-maintained stores: the
  * dedup index (X190), the IVF index (X191) and the k-NN store (X188).
  *
  * Layout. A store side is parquet under `<dir>/batch_id=N`, one
  * directory per batch. Appends overwrite their own directory, so a
  * replayed batch is a no-op. A delete never rewrites data: its keys land
  * in a [[Ledger]] of `(key, batch_id)` rows under `<ledger>/batch_id=N`,
  * again overwrite-per-batch. The ledger sits either beside the data
  * (`<dir>__tombstones`: a subdirectory would join the data's own
  * `batch_id=*` partition discovery) or inside a store root that holds
  * several sides (`<store>/tombstones`).
  *
  * Reads. Every read goes through [[Ledger.minus]]: the data LEFT ANTI
  * JOIN a broadcast of the ledger keys, so a delete is visible everywhere
  * at once and the data scan keeps its pruning. A store whose deletes
  * share the batch sequence with its appends (the k-NN store) restricts
  * the ledger to `batch_id < N` when it replays batch N.
  *
  * Resurrection. Re-ingesting a tombstoned key would be hidden by that
  * anti-join, which is silent wrongness, so ingest calls
  * [[Ledger.guard]]: it fails loud, bounded by `limit(1)`, until a
  * compaction has applied and cleared the ledger.
  *
  * Compaction ([[BatchStore.compact]]) holds the one crash window. First
  * every consolidated side is written in full into
  * `batch_id = min - 1`, counting down from that side's minimum while
  * stream ids count up from 0, so the target never collides with a stream
  * batch or with a directory the rewrite reads. Then the old batch
  * directories are deleted, then the ledger. A crash after the write
  * leaves the old directories beside the consolidated one, and the ledger
  * still in place: the rows are duplicated and the ledger still hides the
  * deleted keys, so the tombstone-aware read keeps the same rows, and the
  * next compaction absorbs the duplicates. A crash after the old
  * directories are gone leaves only the ledger, which hides keys the
  * consolidated side no longer holds. Run compaction while the sink is
  * idle.
  *
  * Schemas. The ledger schema is pinned, so opening it starts no Spark
  * job; a store pins its own data schema where the module owns it.
  *
  * The streaming sinks of [[graft.streaming.StreamingEvents]] land
  * through [[append]] too, without a ledger. */
private[graft] object BatchStore {

  private val Prefix = "batch_id="

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir))

  /** Removes `dir` and everything under it, if it exists. */
  def delete(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).delete(new Path(dir), true)

  /** Where batch `id` of the store side `dir` lives. */
  def batchDir(dir: String, id: Long): String = s"$dir/$Prefix$id"

  /** Whether `name` is a batch directory's name. */
  def isBatch(name: String): Boolean = name.startsWith(Prefix)

  /** Writes `df` as batch `batchId` of `dir`, replacing what an earlier
    * attempt of the same batch left there. */
  def append(df: DataFrame, dir: String, batchId: Long,
      partitionBy: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(batchDir(dir, batchId))

  /** What a store holds: how many distinct batch ids its sides hold, its
    * data files, and whether its ledger has deletes not yet compacted. */
  final case class Stats(batches: Int, files: Long, pending: Boolean)

  def stats(spark: SparkSession, dir: String): Stats = {
    val root = fs(spark, dir).makeQualified(new Path(dir))
    val ledgers = Ledger.dirs(root.toUri.getPath)
    val it = fs(spark, dir).listFiles(root, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext)
      .map(_.next().getPath).filter(_.getName.startsWith("part-"))
      .map(_.toUri.getPath).filterNot(_.startsWith(ledgers.last + "/")).toList
    val ids = files.flatMap(_.split('/').filter(isBatch)).distinct
    Stats(ids.size, files.size, ledgers.exists(exists(spark, _)))
  }

  /** The batch ids stored under `dir`; fails loud, naming `who` and what
    * the store is, when `dir` is missing or holds no batch. */
  def batches(spark: SparkSession, dir: String, who: String,
      what: String): Side = {
    require(exists(spark, dir), s"$who: no store at $dir")
    val ids = fs(spark, dir).listStatus(new Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(isBatch).map(_.stripPrefix(Prefix).toLong).toSeq
    require(ids.nonEmpty,
      s"$who: $dir has no batch_id=* partitions — not $what")
    new Side(spark, dir, ids)
  }

  /** Compacts `sides` under the crash window of the contract above:
    * `write` gets each side's target id and writes every consolidated
    * side; then the old batch directories go, then the ledger. A store
    * that is already one directory per side with no pending tombstone is
    * left alone unless `force`. Returns each side's id afterwards. */
  def compact(ledger: Ledger, sides: Seq[Side], force: => Boolean = false)(
      write: Seq[Long] => Unit): Seq[Long] =
    if (sides.forall(_.ids.length == 1) && !ledger.pending && !force)
      sides.map(_.ids.head)
    else {
      val to = sides.map(_.ids.min - 1)
      write(to)
      sides.foreach(_.deleteBatches())
      ledger.clear()
      to
    }
}

/** One store side's `batch_id=N` directories. */
private[graft] final class Side(spark: SparkSession, dir: String,
    val ids: Seq[Long]) {
  private def fs = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def batchDir(id: Long): String = BatchStore.batchDir(dir, id)

  /** Data files in the side's first batch directory. */
  def files: Int = fs.listStatus(new Path(batchDir(ids.head)))
    .count(_.getPath.getName.startsWith("part-"))

  def deleteBatches(): Unit =
    ids.foreach(id => fs.delete(new Path(batchDir(id)), true))
}

/** A store's tombstone ledger: `(key, batch_id)` rows, `key` a long. */
private[graft] final class Ledger private (spark: SparkSession,
    dir: String, key: String) {
  private val path = new Path(dir)
  private def fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val schema = StructType(Seq(StructField(key, LongType),
    StructField("batch_id", LongType)))

  def pending: Boolean = fs.exists(path)

  /** The tombstoned keys, restricted to batches before `before` when
    * given; `None` while nothing is pending. */
  def read(before: Option[Long] = None): Option[DataFrame] =
    if (!pending) None
    else {
      val t = spark.read.schema(schema).parquet(dir)
      Some(before.fold(t)(n => t.filter(col("batch_id") < n))
        .select(col(key)))
    }

  /** The distinct `idCol` values of `df` as ledger keys. */
  def keys(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as(key)).distinct()

  /** Records `keys` (a frame of [[keys]]) as delete batch `batchId`. */
  def write(keys: DataFrame, batchId: Long): Unit =
    BatchStore.append(keys, dir, batchId)

  /** `data` without its tombstoned rows. */
  def minus(data: DataFrame, before: Option[Long] = None): DataFrame =
    read(before).fold(data)(t =>
      data.join(broadcast(t), Seq(key), "left_anti"))

  /** Fails loud when `data` re-ingests a tombstoned `idCol` value. */
  def guard(data: DataFrame, idCol: String, who: String, fix: String,
      before: Option[Long] = None): Unit =
    read(before).foreach { t =>
      val re = data.select(col(idCol).cast("long").as(key))
        .join(broadcast(t), Seq(key), "left_semi").limit(1).collect()
      require(re.isEmpty, s"$who: $key ${re.head.getLong(0)} was " +
        s"tombstoned — run $fix before re-ingesting a deleted id")
    }

  def clear(): Unit = if (pending) fs.delete(path, true)
}

private[graft] object Ledger {
  /** The ledger of a single-side store, beside its data directory. */
  def beside(spark: SparkSession, dataDir: String, key: String): Ledger =
    new Ledger(spark, dirs(dataDir).head, key)

  /** The ledger of a multi-side store, inside its root. */
  def within(spark: SparkSession, storeDir: String, key: String): Ledger =
    new Ledger(spark, dirs(storeDir).last, key)

  /** The two places a ledger of the store at `dir` can be. */
  private[store] def dirs(dir: String): Seq[String] =
    Seq(s"${dir}__tombstones", s"$dir/tombstones")
}
