package featbench

import graft.ann.Similarity
import graft.streaming.StreamingEvents
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** knn_upkeep: the maintained k-NN store. A base store over clustered
  * vectors, then per epoch: a centroid refresh, one increment, one
  * tombstone delete and a compaction, each followed by a read of the
  * published view. Inserts equal deletes, so the corpus size stays fixed. */
final class KnnUpkeep(val spark: SparkSession, val dir: String, seed: Long)
    extends Workload {
  import KnnUpkeep._

  val storeDir = s"$dir/knn"
  private val rnd = new java.util.SplittableRandom(seed)
  private val centers = Array.fill(Clusters, Dim)(rnd.nextDouble() * 2 - 1)
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var nextId = 0L
  private var nextBatch = 0L
  private var epochNo = 0
  private var centroidIds: Seq[Long] = Nil
  private var genBytes = 0L

  private def vector(): Array[Float] = {
    val c = centers(rnd.nextInt(Clusters))
    Array.tabulate(Dim)(d => (c(d) + rnd.nextGaussian() * 0.35).toFloat)
  }

  private def fresh(n: Int): DataFrame = {
    val rows = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val v = vector(); live(id) = v
      id -> v
    }
    genBytes += n * (8L + 4L * Dim)
    frame(rows)
  }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.toSeq) }, 3), VectorSchema)

  /** A seeded ~1/CentroidEvery sample of the live corpus, new each epoch. */
  private def pickCentroids(): DataFrame = {
    val salt = Workload.mix(seed ^ (epochNo.toLong << 32))
    val picked = live.keysIterator.filter(id =>
      java.lang.Long.remainderUnsigned(Workload.mix(id ^ salt), CentroidEvery) == 0).toSeq
    centroidIds = if (picked.nonEmpty) picked else Seq(live.keysIterator.next())
    centroids
  }

  private def centroids: DataFrame = frame(centroidIds.map(id => id -> live(id)))

  def prepare(r: Runner): Unit = {
    val base = fresh(Base)
    val cents = pickCentroids()
    val b = nextBatch; nextBatch += 1
    r.write("ann.knnGraphIncrement", Base.toLong) {
      Similarity.knnGraphIncrement(base, "vec_id", "embedding", cents, Dim, K,
        storeDir, b, Probes)
    }
  }

  // The base build is itself a knnGraphIncrement, and a warm-up epoch
  // measured no faster than the first timed one, so it is skipped.
  override def warmup(r: Runner): Unit = ()

  def epoch(r: Runner): Long = {
    epochNo += 1
    val cents = pickCentroids()
    // centroids are drawn from the corpus and must survive this epoch
    val keep = centroidIds.toSet
    r.write("ann.knnGraphRefresh") {
      Similarity.knnGraphRefresh(spark, storeDir, cents, "vec_id", "embedding",
        Dim, K, Probes)
    }
    readView(r)
    val batch = fresh(Batch)
    val b1 = nextBatch; nextBatch += 1
    r.write("ann.knnGraphIncrement", Batch.toLong) {
      Similarity.knnGraphIncrement(batch, "vec_id", "embedding", centroids, Dim, K,
        storeDir, b1, Probes)
    }
    readView(r)
    val ids = live.keysIterator.filterNot(keep).toArray
    var i = 0
    while (i < Batch) {
      val j = i + rnd.nextInt(ids.length - i)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i += 1
    }
    val dead = ids.take(Batch).toSeq
    dead.foreach(live.remove)
    genBytes += 8L * Batch
    val b2 = nextBatch; nextBatch += 1
    r.write("ann.knnGraphDelete", Batch.toLong) {
      Similarity.knnGraphDelete(spark.createDataFrame(dead.map(Tuple1(_))).toDF("vec_id"),
        "vec_id", storeDir, b2, K)
    }
    readView(r)
    r.write("ann.compactKnnStore")(Similarity.compactKnnStore(spark, storeDir))
    readView(r)
    2L * Batch
  }

  /** Consumers read the published view between maintenance steps. */
  private def readView(r: Runner): Unit =
    r.read("streaming.knnGraphView")(StreamingEvents.knnGraphView(spark, storeDir))

  def inputBytes: Long = genBytes

  /** A fresh one-shot build over the generator's surviving vectors
    * under the current centroids. */
  private def rebuild(): DataFrame =
    Similarity.knnGraph(frame(live.toSeq), "vec_id", "embedding", centroids,
      Dim, K, Probes)

  def gate(): Seq[String] = check(StreamingEvents.knnGraphView(spark, storeDir))

  def corruptedGates(): Seq[(String, Seq[String])] = {
    val view = StreamingEvents.knnGraphView(spark, storeDir)
    val victim = view.agg(min("vec_id")).head().getLong(0)
    Seq("k-NN view: one neighbor replaced" -> check(view.withColumn("neighbor_id",
      when(col("vec_id") === victim && col("rk") === 1, lit(-1L))
        .otherwise(col("neighbor_id")))))
  }

  /** The maintained view equals a fresh build over the survivors, edge
    * for edge, and names no deleted vector. */
  private def check(view: DataFrame): Seq[String] = {
    val want = rebuild().collect().map(_.toSeq).toSet
    val got = view.collect().map(_.toSeq)
    val missing = (want -- got).size
    val extra = got.toSet.size - (got.toSet & want).size
    val dead = got.count(r => !live.contains(r(0).asInstanceOf[Long]) ||
      !live.contains(r(2).asInstanceOf[Long]))
    if (missing == 0 && extra == 0 && got.length == want.size && dead == 0) Nil
    else Seq(s"k-NN view: $missing edge(s) missing, $extra unexpected, " +
      s"$dead naming a deleted vector (${got.length} rows, ${want.size} expected)")
  }
}

object KnnUpkeep {
  val Dim = 16
  val Clusters = 24
  val Base = 1000
  /** Vectors inserted, and vectors deleted, per epoch. */
  val Batch = 50
  val CentroidEvery = 25L
  val K = 4
  val Probes = 2

  val VectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
}
