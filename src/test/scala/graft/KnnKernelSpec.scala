package graft

import graft.ann.Similarity
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The cell-local top-k kernel behind every k-NN edge build, against the
  * window form it replaced, kept here as the reference: a cell
  * self-join, the (p < o) half relation through a `distinct`, the swap
  * re-emitted, and a `row_number` window by source. Both must agree bit
  * for bit on every cosine, before and after the published round(·, 6).
  *
  * Points come from fixed seeds on a small integer grid, so parallel
  * and repeated vectors make exact cosine ties; assignments come from
  * [[Similarity.ivfAssignProbes]] at 1, 2 and nlist probes; each case
  * runs at its own shuffle partition count. */
class KnnKernelSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 4

  /** `n` points on the grid {-2..3}^Dim, ids shuffled; with `zeros`,
    * a few all-zero vectors among them. */
  private def points(seed: Long, n: Int, zeros: Boolean): DataFrame = {
    val rnd = new java.util.SplittableRandom(seed)
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((1L to n.toLong).toVector)
    ids.zipWithIndex.map { case (id, i) =>
      val v =
        if (zeros && i % 9 == 4) Array.fill(Dim)(0.0)
        else Array.fill(Dim)((rnd.nextInt(6) - 2).toDouble)
      // a zero vector off the zero path would make every cosine NaN
      if (!zeros && v.forall(_ == 0.0)) v(0) = 1.0
      (id, v)
    }.toDF("vec_id", "v")
  }

  private def slice(pts: DataFrame, nlist: Int, probes: Int): DataFrame = {
    val cents = pts.filter(col("vec_id") <= nlist)
      .filter(exists(col("v"), _ =!= 0.0))
    Similarity.ivfAssignProbes(pts, "vec_id", "v", cents, Dim, probes)
  }

  /** The window form the kernel replaced. */
  private def reference(slice: DataFrame, k: Int,
      srcCells: Option[Set[Long]], sentinel: Boolean): DataFrame = {
    graft.functions.DotProductExpr.register(spark)
    val a = slice.select(col("centroid_id").as("__bk"),
      col("vec_id").as("__p"), col("v").as("__va"), col("nrm").as("__na"))
    val b = slice.select(col("centroid_id").as("__bk"),
      col("vec_id").as("__o"), col("v").as("__vb"), col("nrm").as("__nb"))
    val half = a.join(b, Seq("__bk")).filter(col("__p") < col("__o"))
      .withColumn("__c", Similarity.nativeDot(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")))
      .filter(!isnan(col("__c")))
      .select(col("__p"), col("__o"), col("__c"))
      .distinct()
    val pairs = half.unionByName(half.select(col("__o").as("__p"),
      col("__p").as("__o"), col("__c")))
    val src = srcCells.fold(slice)(cs =>
        slice.filter(col("centroid_id").isin(cs.toSeq: _*)))
      .select(col("vec_id").as("__p")).distinct()
    val ranked = pairs.join(src, Seq("__p"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("__p"))
        .orderBy(col("__c").desc, col("__o"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("__p").as("vec_id"), col("rk"),
        col("__o").as("neighbor_id"), col("__c").as("cosine"))
    if (!sentinel) ranked
    else ranked.unionByName(src.select(col("__p").as("vec_id"))
      .join(ranked.select(col("vec_id")).distinct(), Seq("vec_id"),
        "left_anti")
      .select(col("vec_id"), lit(0L).as("rk"),
        lit(null).cast("long").as("neighbor_id"),
        lit(null).cast("double").as("cosine")))
  }

  /** Rows with the cosine as its raw bits: equal means bit-equal. */
  private def bits(df: DataFrame): Seq[(Long, Long, Option[Long], Option[Long])] =
    df.select(col("vec_id"), col("rk"), col("neighbor_id"), col("cosine"))
      .as[(Long, Long, Option[Long], Option[Double])].collect()
      .map { case (p, rk, o, c) =>
        (p, rk, o, c.map(java.lang.Double.doubleToRawLongBits)) }
      .sorted.toSeq

  private def rounded(df: DataFrame): DataFrame =
    df.withColumn("cosine", round(col("cosine"), 6))

  private def atConf[T](key: String, value: String)(f: => T): T = {
    val was = spark.conf.get(key)
    spark.conf.set(key, value)
    try f finally spark.conf.set(key, was)
  }

  private def sameAsReference(s: DataFrame, k: Int,
      srcCells: Option[Set[Long]] = None, sentinel: Boolean = false): Unit = {
    val kernel = Similarity.knnTopK(s, k, srcCells, sentinel)
    val ref = reference(s, k, srcCells, sentinel)
    val want = bits(ref)
    want should not be empty
    bits(kernel) shouldBe want
    bits(rounded(kernel)) shouldBe bits(rounded(ref))
  }

  it should "equal the window form bit for bit on ties, k beyond a cell and probes = nlist, at 1, 3 and 8 shuffle partitions" in {
    for ((parts, i) <- Seq(1, 3, 8).zipWithIndex;
        (probes, k) <- Seq((1, 3), (2, 2), (5, 60))) {
      val s = slice(points(100L + i, 48, zeros = false), nlist = 5,
        probes = probes)
      // the grid makes exact ties: both forms must break them by id
      val c = s.select(col("v")).distinct().count()
      c should be < s.select(col("vec_id")).distinct().count()
      withClue(s"partitions=$parts probes=$probes k=$k: ") {
        atConf("spark.sql.shuffle.partitions", parts.toString)(
          sameAsReference(s, k))
      }
    }
    graft.util.Caches.releaseAll(spark)
  }

  it should "count duplicate index rows once, as the window form's distinct does" in {
    val s = slice(points(7L, 40, zeros = false), nlist = 4, probes = 2)
    // a compaction crash leaves a batch's rows twice
    val dup = s.unionByName(s.filter(col("vec_id") % 3 === 0))
    for (parts <- Seq(1, 3, 8))
      atConf("spark.sql.shuffle.partitions", parts.toString) {
        sameAsReference(dup, 3)
        sameAsReference(dup, 3, Some(Set(1L, 3L)), sentinel = true)
      }
  }

  it should "rank only the members of source cells, over all their cells, with empty sources as sentinels" in {
    val s = slice(points(11L, 60, zeros = false), nlist = 6, probes = 2)
    val cells = s.select(col("centroid_id")).distinct().as[Long]
      .collect().sorted
    for (src <- Seq(cells.take(1).toSet, cells.drop(2).toSet);
        parts <- Seq(1, 3, 8))
      atConf("spark.sql.shuffle.partitions", parts.toString)(
        sameAsReference(s, 4, Some(src), sentinel = parts != 3))
    // a member alone in its cells ranks nothing: its sentinel row only
    val lonely = Seq((1L, Array(1.0, 0.0, 0.0, 0.0), 1.0, 0, 9L),
      (2L, Array(0.0, 1.0, 0.0, 0.0), 1.0, 0, 8L))
      .toDF("vec_id", "v", "nrm", "probe", "centroid_id")
    bits(Similarity.knnTopK(lonely, 3, Some(Set(9L)), sentinel = true)) shouldBe
      Seq((1L, 0L, None, None))
    bits(Similarity.knnTopK(lonely, 3)) shouldBe empty
  }

  it should "treat zero-norm vectors as the SQL division does under the session's ANSI setting" in {
    val s = slice(points(23L, 45, zeros = true), nlist = 4, probes = 2)
    s.filter(col("nrm") === 0.0).count() should be > 1L
    // ANSI off: a zero divisor is a NULL cosine, ranked after every number
    atConf("spark.sql.ansi.enabled", "false") {
      for (parts <- Seq(1, 3, 8))
        atConf("spark.sql.shuffle.partitions", parts.toString)(
          sameAsReference(s, 5))
      bits(Similarity.knnTopK(s, 5)).exists(_._4.isEmpty) shouldBe true
    }
    // ANSI on: both forms fail with DIVIDE_BY_ZERO
    def divideByZero(f: => Any): Boolean = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists {
          case t: SparkThrowable => t.getCondition == "DIVIDE_BY_ZERO"
          case _ => false
        }
    }
    atConf("spark.sql.ansi.enabled", "true") {
      divideByZero(bits(reference(s, 5, None, sentinel = false))) shouldBe true
      divideByZero(bits(Similarity.knnTopK(s, 5))) shouldBe true
    }
  }

  it should "read a store written with 64 shards and keep increments equal to a fresh knnGraph" in {
    val pts = points(31L, 60, zeros = false)
      .withColumnRenamed("v", "embedding")
    val cents = pts.filter(col("vec_id") <= 40L).select(col("vec_id"),
      col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_knn64").toString
    val store = s"$tmp/knn"
    // batch 0 by hand, in the older 64-shard layout: with 40 centroids,
    // cells 32..39 sit under shard = cell, which 32 shards would not use
    val first = pts.filter(col("vec_id") % 2 === 0)
    val asg = Similarity.ivfAssignProbes(first, "vec_id", "embedding",
      cents, Dim, 2)
    asg.select(col("centroid_id")).filter(col("centroid_id") >= 32L)
      .count() should be > 0L
    asg.withColumn("__shard", pmod(col("centroid_id"), lit(64)))
      .write.partitionBy("__shard").parquet(s"$store/index/batch_id=0")
    Similarity.knnGraph(first, "vec_id", "embedding", cents, Dim, 3)
      .write.parquet(s"$store/edges/batch_id=0")
    Similarity.knnGraphIncrement(pts.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", cents, Dim, 3, store, batchId = 1L)
    def edges(df: DataFrame) = df.as[(Long, Long, Long, Double)]
      .collect().sorted.toSeq
    edges(graft.streaming.StreamingEvents.knnGraphView(spark, store)) shouldBe
      edges(Similarity.knnGraph(pts, "vec_id", "embedding", cents, Dim, 3))
    Similarity.knnGraphDelete(pts.filter(col("vec_id") % 5 === 0),
      "vec_id", store, batchId = 2L, k = 3)
    edges(graft.streaming.StreamingEvents.knnGraphView(spark, store)) shouldBe
      edges(Similarity.knnGraph(pts.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", cents, Dim, 3))
    graft.util.Caches.releaseAll(spark)
  }
}
