package graft

import graft.ann.Similarity
import graft.streaming.StreamingEvents
import graft.text.Dedup
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The tombstone-ledger contract of [[graft.store.BatchStore]], checked
  * over generated ingest / delete / compact sequences on each of the
  * three stores built on it: the dedup index, the IVF index and the
  * maintained k-NN store.
  *
  * After every step the store's tombstone-aware read must equal a fresh
  * build over the ids a model says are live. Besides that, per store:
  *  - a delete followed by re-ingesting a deleted id fails loud, leaving
  *    the store unchanged (a fresh id in the same batch included), until
  *    a compaction runs;
  *  - replaying a delete batch is a no-op;
  *  - the crash states of a compaction (the consolidated side written
  *    with the old batch directories and the ledger still present; or
  *    only the ledger still present) read the same rows, and the next
  *    compaction restores a single batch directory per side.
  *
  * Sequences come from a fixed seed with bounded sizes (12 ids, 9 steps). */
class StoreContractSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private final case class Ingest(ids: Seq[Long]) extends Op
  private final case class Delete(ids: Seq[Long]) extends Op
  private case object Compact extends Op

  private val universe = 0L until 12L
  private val someIds = Gen.choose(1, 4).flatMap(n => Gen.pick(n, universe))
    .map(_.toSeq.sorted)
  private val op: Gen[Op] = Gen.frequency(
    3 -> someIds.map(Ingest(_)),
    2 -> someIds.map(Delete(_)),
    1 -> Gen.const(Compact))
  // every sequence creates the store, runs random steps, then deletes,
  // re-ingests the deleted ids among others (refused) and compacts with
  // the ledger pending; [[play]] then re-ingests every deleted id and
  // compacts again with no ledger, so each check runs in each sequence
  private val scenario: Gen[List[Op]] = for {
    first <- Gen.pick(6, universe)
    middle <- Gen.listOfN(3, op)
    last <- someIds
    more <- someIds
  } yield (Ingest(first.toSeq.sorted) :: middle) :::
    List(Delete(last), Ingest((last ++ more).distinct.sorted), Compact)

  private def scenarios(n: Int): Seq[List[Op]] =
    (1 to n).map(i => scenario.pureApply(Gen.Parameters.default,
      Seed(20261018L + i)))

  private lazy val fs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def batchDirs(dir: String): Seq[String] =
    if (!fs.exists(new Path(dir))) Nil
    else fs.listStatus(new Path(dir)).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq

  /** One store under test. `sides` hold its `batch_id=N` directories. */
  private abstract class Store {
    val root: String =
      java.nio.file.Files.createTempDirectory("graft_contract").toString
    def sides: Seq[String]
    def ledger: String
    def ingest(ids: Seq[Long], batchId: Long): Unit
    def delete(ids: Seq[Long], batchId: Long): Unit
    def compact(): Unit
    /** The tombstone-aware read, without batch ids. */
    def read(): DataFrame
    /** What [[read]] must equal when exactly `ids` are live. */
    def fresh(ids: Seq[Long]): DataFrame
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).distinct.sorted.toSeq
  }

  private def vec(id: Long): Array[Double] =
    Array(1.0 + id % 3, 1.0 + id % 5, 1.0 + id % 2, 1.0 + id / 4.0)
  private def vectors(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
  private lazy val centroids = Seq(100L -> Array(1.0, 0.0, 0.0, 0.0),
    101L -> Array(0.0, 1.0, 0.0, 0.0), 102L -> Array(0.0, 0.0, 1.0, 1.0))
    .toDF("vec_id", "embedding")

  private final class DedupStore extends Store {
    private val idx = s"$root/index"
    val sides = Seq(idx)
    val ledger = s"${idx}__tombstones"
    private def docs(ids: Seq[Long]) =
      ids.map(i => (i, (0 until 6).map(j => s"t${i}w$j").mkString(" ")))
        .toDF("doc_id", "text")
    def ingest(ids: Seq[Long], batchId: Long): Unit =
      StreamingEvents.dedupBatch(docs(ids), batchId, "doc_id", "text", idx,
        s"$root/verdicts", 3, 16, 4, 8)
    def delete(ids: Seq[Long], batchId: Long): Unit =
      Dedup.deleteFromDedupIndex(spark, idx, ids.toDF("doc_id"), "doc_id",
        batchId)
    def compact(): Unit = Dedup.compactDedupIndex(spark, idx)
    def read(): DataFrame = Dedup.readDedupIndex(spark, idx).drop("batch_id")
    def fresh(ids: Seq[Long]): DataFrame =
      Dedup.buildDedupIndex(docs(ids), "doc_id", "text")
  }

  // ingest alternates between the two public writers of the one layout:
  // the sink's batch (at the stream's batch id) and writeIvfIndex (at an
  // id counting down from the store's minimum)
  private final class IvfStore extends Store {
    private val idx = s"$root/idx"
    val sides = Seq(idx)
    val ledger = s"${idx}__tombstones"
    def ingest(ids: Seq[Long], batchId: Long): Unit =
      if (batchId % 2 == 0)
        StreamingEvents.ivfIndexBatch(vectors(ids), batchId, "vec_id",
          "embedding", centroids, 4, idx)
      else Similarity.writeIvfIndex(Similarity.buildIvfIndex(vectors(ids),
        "vec_id", "embedding", centroids, 4), idx)
    def delete(ids: Seq[Long], batchId: Long): Unit =
      Similarity.deleteFromIvfIndex(spark, idx, ids.toDF("vec_id"),
        "vec_id", batchId)
    def compact(): Unit = Similarity.compactIvfIndex(spark, idx)
    def read(): DataFrame = Similarity.readIvfIndex(spark, idx)
      .select("vec_id", "centroid_id", "embedding")
    def fresh(ids: Seq[Long]): DataFrame = Similarity.buildIvfIndex(
      vectors(ids), "vec_id", "embedding", centroids, 4)
      .select("vec_id", "centroid_id", "embedding")
  }

  private final class KnnStore extends Store {
    private val store = s"$root/store"
    val sides = Seq(s"$store/index", s"$store/edges")
    val ledger = s"$store/tombstones"
    def ingest(ids: Seq[Long], batchId: Long): Unit =
      Similarity.knnGraphIncrement(vectors(ids), "vec_id", "embedding",
        centroids, 4, 2, store, batchId, probes = 2)
    def delete(ids: Seq[Long], batchId: Long): Unit =
      Similarity.knnGraphDelete(ids.toDF("vec_id"), "vec_id", store,
        batchId, 2)
    def compact(): Unit = Similarity.compactKnnStore(spark, store)
    // the published view, plus the surviving corpus the view is over
    def read(): DataFrame = StreamingEvents.knnGraphView(spark, store)
      .select(lit("edge").as("kind"), col("vec_id"), col("rk"),
        col("neighbor_id"), col("cosine").cast("string").as("v"))
      .unionByName(Similarity.knnStoreCorpus(spark, store)
        .select(lit("point").as("kind"), col("vec_id"),
          lit(null).cast("long").as("rk"),
          lit(null).cast("long").as("neighbor_id"),
          col("v").cast("string").as("v")))
    def fresh(ids: Seq[Long]): DataFrame =
      Similarity.knnGraph(vectors(ids), "vec_id", "embedding", centroids,
        4, 2, probes = 2)
        .select(lit("edge").as("kind"), col("vec_id"), col("rk"),
          col("neighbor_id"), col("cosine").cast("string").as("v"))
        .unionByName(vectors(ids).select(lit("point").as("kind"),
          col("vec_id"), lit(null).cast("long").as("rk"),
          lit(null).cast("long").as("neighbor_id"),
          col("embedding").cast("string").as("v")))
  }

  /** Runs `ops` against `s`, checking the contract after every step. */
  private def play(s: Store, ops: List[Op]): Unit = {
    var live = Set.empty[Long]
    var pending = Set.empty[Long] // tombstoned since the last compaction
    var deleted = Set.empty[Long]
    var batch = 0L
    def next(): Long = { batch += 1; batch }
    def matchesModel(step: String): Unit = withClue(s"after $step: ") {
      s.rows(s.read()) shouldBe s.rows(s.fresh(live.toSeq.sorted))
    }
    def copy(from: String, to: String): Unit =
      FileUtil.copy(fs, new Path(from), fs, new Path(to), false,
        spark.sparkContext.hadoopConfiguration)

    def compactWithCrashes(): Unit = {
      val before = s.rows(s.read())
      // a crash after the consolidated write: restore what compaction
      // deletes afterwards, the old batch directories and the ledger
      val saved = s"${s.root}/saved_${next()}"
      val old = s.sides.flatMap(d => batchDirs(d).map(b => s"$d/$b"))
      old.zipWithIndex.foreach { case (d, i) => copy(d, s"$saved/$i") }
      val hadLedger = fs.exists(new Path(s.ledger))
      if (hadLedger) copy(s.ledger, s"$saved/ledger")
      // a no-op compaction deleted nothing, so there is nothing to put back
      def restore(from: String, to: String): Unit =
        if (!fs.exists(new Path(to))) copy(from, to)
      def restoreLedger(): Unit =
        if (hadLedger) restore(s"$saved/ledger", s.ledger)
      def compactsToOne(state: String): Unit = withClue(state) {
        s.compact()
        s.sides.foreach(d => batchDirs(d) should have size 1)
        fs.exists(new Path(s.ledger)) shouldBe false
        val after = s.read().collect().map(_.toString)
        after.distinct.sorted.toSeq shouldBe before
        after.length shouldBe after.distinct.length // duplicates absorbed
      }
      compactsToOne("clean compaction: ")
      old.zipWithIndex.foreach { case (d, i) => restore(s"$saved/$i", d) }
      restoreLedger()
      withClue(s"crash with old batches, ledger=$hadLedger: ") {
        s.rows(s.read()) shouldBe before
      }
      compactsToOne("compaction after that crash: ")
      if (hadLedger) {
        // the crash after the old directories went, before the ledger
        restoreLedger()
        withClue("crash with only the ledger left: ") {
          s.rows(s.read()) shouldBe before
        }
        compactsToOne("compaction after that crash: ")
      }
      pending = Set.empty
    }

    ops.foreach {
      case Ingest(ids0) =>
        val ids = ids0.filterNot(live)
        if (ids.nonEmpty) {
          if (ids.exists(pending)) {
            val before = s.rows(s.read())
            withClue(s"re-ingesting tombstoned ${ids.filter(pending)}: ") {
              an[IllegalArgumentException] should be thrownBy
                s.ingest(ids, next())
            }
            s.rows(s.read()) shouldBe before
          } else {
            s.ingest(ids, next())
            live ++= ids
          }
          matchesModel(s"ingest $ids")
        }
      case Delete(ids) =>
        val b = next()
        s.delete(ids, b)
        live --= ids; pending ++= ids; deleted ++= ids
        matchesModel(s"delete $ids")
        val after = s.rows(s.read())
        s.delete(ids, b) // the at-least-once replay of the same batch
        withClue(s"replayed delete $ids: ") { s.rows(s.read()) shouldBe after }
        // resurrection fails loud while the ledger is pending, and the
        // refused batch leaves nothing behind, not even its fresh id
        an[IllegalArgumentException] should be thrownBy
          s.ingest(Seq(ids.head, universe.end), next())
        withClue(s"after the refused ingest of ${ids.head}: ") {
          s.rows(s.read()) shouldBe after
        }
      case Compact =>
        compactWithCrashes()
        matchesModel("compaction")
    }
    // after the final compaction every deleted id may return
    val back = (deleted -- live).toSeq.sorted
    s.ingest(back, next())
    live ++= back
    matchesModel(s"re-ingest after compaction $back")
    compactWithCrashes()
    matchesModel("compaction")
  }

  private def holdsContract(mk: () => Store): Unit = {
    scenarios(2).foreach { ops =>
      withClue(s"ops = $ops: ") { play(mk(), ops) }
    }
    graft.util.Caches.releaseAll(spark)
  }

  "The dedup index" should "keep the tombstone-ledger store contract" in {
    holdsContract(() => new DedupStore)
  }

  "The IVF index" should "keep the tombstone-ledger store contract" in {
    holdsContract(() => new IvfStore)
  }

  "writeIvfIndex" should "refuse a deleted vector until compaction, then take it back" in {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_back")
      .toString + "/idx"
    def write(ids: Seq[Long], mode: String = "append"): Unit =
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(vectors(ids),
        "vec_id", "embedding", centroids, 4), idx, mode)
    def ids(): Seq[Long] = Similarity.readIvfIndex(spark, idx)
      .select("vec_id").as[Long].collect().sorted.toSeq
    write(0L until 20L, "overwrite")
    Similarity.deleteFromIvfIndex(spark, idx, Seq(3L).toDF("vec_id"),
      "vec_id", 0L)
    val refused = intercept[IllegalArgumentException](write(Seq(3L)))
    refused.getMessage should include("writeIvfIndex")
    refused.getMessage should include("compactIvfIndex")
    ids() shouldBe (0L until 20L).filterNot(_ == 3L)
    Similarity.compactIvfIndex(spark, idx)
    write(Seq(3L))
    ids() shouldBe (0L until 20L)
    // overwrite starts a new store: no old batch, no ledger
    Similarity.deleteFromIvfIndex(spark, idx, Seq(5L).toDF("vec_id"),
      "vec_id", 1L)
    write(Seq(5L, 6L), "overwrite")
    ids() shouldBe Seq(5L, 6L)
    batchDirs(idx) should have size 1
    fs.exists(new Path(s"${idx}__tombstones")) shouldBe false
  }

  it should "seed a store that a sink then streams into, losing no batch" in {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_seed")
      .toString + "/idx"
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(vectors(0L until 4L),
      "vec_id", "embedding", centroids, 4), idx)
    // the stream's batch ids count up from 0
    StreamingEvents.ivfIndexBatch(vectors(4L until 8L), 0L, "vec_id",
      "embedding", centroids, 4, idx)
    StreamingEvents.ivfIndexBatch(vectors(8L until 12L), 1L, "vec_id",
      "embedding", centroids, 4, idx)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(vectors(12L until 14L),
      "vec_id", "embedding", centroids, 4), idx)
    Similarity.readIvfIndex(spark, idx).select("vec_id").as[Long].collect()
      .sorted.toSeq shouldBe (0L until 14L)
    batchDirs(idx) should have size 4
  }

  it should "overwrite a store from its own read" in {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_self")
      .toString + "/idx"
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(vectors(0L until 10L),
      "vec_id", "embedding", centroids, 4), idx)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(vectors(10L until 12L),
      "vec_id", "embedding", centroids, 4), idx)
    Similarity.deleteFromIvfIndex(spark, idx, Seq(3L).toDF("vec_id"),
      "vec_id", 0L)
    val kept = Similarity.readIvfIndex(spark, idx)
      .filter(col("vec_id") % 2 === 1).drop("batch_id")
    Similarity.writeIvfIndex(kept, idx, mode = "overwrite")
    Similarity.readIvfIndex(spark, idx)
      .select("vec_id", "centroid_id", "embedding").collect()
      .map(_.toString).sorted.toSeq shouldBe
      Similarity.buildIvfIndex(vectors(Seq(1L, 5L, 7L, 9L, 11L)), "vec_id",
        "embedding", centroids, 4).collect().map(_.toString).sorted.toSeq
    batchDirs(idx) should have size 1
    fs.exists(new Path(s"${idx}__tombstones")) shouldBe false
  }

  "readIvfIndex" should "fail loud on a flat centroid_id table, naming the batch layout" in {
    val flat = java.nio.file.Files.createTempDirectory("graft_ivf_flat")
      .toString + "/idx"
    Similarity.buildIvfIndex(vectors(0L until 6L), "vec_id", "embedding",
      centroids, 4).write.partitionBy("centroid_id").parquet(flat)
    val e = intercept[IllegalArgumentException](
      Similarity.readIvfIndex(spark, flat))
    e.getMessage should include("readIvfIndex")
    e.getMessage should include("batch_id=*")
  }

  "The k-NN store" should "keep the tombstone-ledger store contract" in {
    holdsContract(() => new KnnStore)
  }

  "BatchStore.stats" should "count batches over all sides, data files and a pending ledger" in {
    import graft.store.{BatchStore, Ledger}
    val root =
      java.nio.file.Files.createTempDirectory("graft_stats").toString
    val rows = (1L to 6L).toDF("vec_id").repartition(2)
    BatchStore.append(rows, s"$root/index", 0L)
    BatchStore.append(rows, s"$root/index", 1L)
    BatchStore.append(rows.coalesce(1), s"$root/edges", 1L)
    val ledger = Ledger.within(spark, root, "vec_id")
    ledger.write(ledger.keys(rows, "vec_id"), 2L)
    // the ledger's own batch and files are not the store's
    BatchStore.stats(spark, root) shouldBe BatchStore.Stats(2, 5L, true)
    ledger.clear()
    BatchStore.stats(spark, root) shouldBe BatchStore.Stats(2, 5L, false)
    BatchStore.stats(spark, s"$root/edges") shouldBe
      BatchStore.Stats(1, 1L, false)
  }
}
