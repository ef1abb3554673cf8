package graft

import graft.ann.{ProductQuantization, Similarity}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The IVF cosine assignment against the argmax loop `ivfAssign` ran
  * before it became a one-probe `ivfAssignProbes` scan, kept here as the
  * reference: the chosen centroid and the norm must be bit-identical on
  * generated input. Inputs come from fixed seeds with bounded sizes:
  * tied (duplicated) centroids, zero vectors, NaN components and ragged
  * lengths, on both sides, with the corpus split into 1, 3 and 8
  * partitions.
  *
  * Then every entry point that collects a vector table to the driver
  * must still fail loud, naming itself, on a NULL vector in that table
  * and on a non-numeric id. */
class IvfAssignSpec extends SparkSpec {
  import spark.implicits._

  /** The former `ivfAssign` loop: centroids in ascending id, replaced
    * only on a strictly better cosine, NaN ranked above any number and
    * the first NaN kept. `cents` is sorted by id and carries norms. */
  private def reference(v: Array[Double],
      cents: Array[(Long, Array[Double], Double)]): (Double, Long) = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val nrm = math.sqrt(s)
    var best = Double.NegativeInfinity
    var bestNaN = false
    var bestId = cents(0)._1
    var ci = 0
    while (ci < cents.length) {
      val (cid, cv, cn) = cents(ci)
      var d = 0.0; var j = 0
      val dn = math.min(v.length, cv.length)
      while (j < dn) { d += v(j) * cv(j); j += 1 }
      val cos = d / (nrm * cn)
      val isNaN = java.lang.Double.isNaN(cos)
      if (!bestNaN && (isNaN || cos > best)) {
        best = cos; bestNaN = isNaN; bestId = cid
      }
      ci += 1
    }
    (nrm, bestId)
  }

  private val component: Gen[Double] = Gen.frequency(
    8 -> Gen.oneOf(-2.0, -1.0, -0.5, 0.25, 0.5, 1.0, 3.0),
    4 -> Gen.choose(-1.0, 1.0))
  /** Mostly 4-d, sometimes ragged. */
  private val clean: Gen[Seq[Double]] = Gen.frequency(
    5 -> Gen.listOfN(4, component),
    1 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, component)))
  /** All-zero (empty included) or holding a NaN. */
  private val degenerate: Gen[Seq[Double]] = Gen.oneOf(
    Gen.choose(0, 4).map(Seq.fill(_)(0.0)),
    Gen.listOfN(4, component).flatMap(v =>
      Gen.choose(0, 3).map(v.updated(_, Double.NaN))))
  private val vector: Gen[Seq[Double]] =
    Gen.frequency(10 -> clean, 1 -> degenerate)

  /** (corpus, centroids): centroid ids unique and unordered, with some
    * centroids duplicated under another id so that cosines tie. One
    * zero or NaN centroid draws every vector (NaN ranks first), so only
    * a `dirty` scenario has them. */
  private def scenario(dirty: Boolean): Gen[(Seq[(Long, Seq[Double])],
      Seq[(Long, Seq[Double])])] = for {
    n <- Gen.choose(30, 80)
    corpus <- Gen.listOfN(n, vector)
    c <- Gen.choose(2, 8)
    base <- Gen.listOfN(c,
      if (dirty) Gen.frequency(3 -> clean, 1 -> degenerate) else clean)
    copies <- Gen.someOf(base)
    ids <- Gen.pick(c + copies.size, 0L until 60L)
  } yield (corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) },
    new scala.util.Random(n).shuffle(ids.toSeq).zip(base ++ copies))

  /** Each centroid's cosine to `v`, in ascending centroid id. */
  private def cosines(v: Seq[Double],
      cents: Array[(Long, Array[Double], Double)]): Seq[Double] = {
    val nrm = math.sqrt(v.map(x => x * x).foldLeft(0.0)(_ + _))
    cents.toSeq.map { case (_, cv, cn) =>
      v.zip(cv).map { case (a, b) => a * b }.foldLeft(0.0)(_ + _) /
        (nrm * cn)
    }
  }

  "ivfAssign" should "pick the centroid the argmax loop picks, bit for bit" in {
    val cases = (1 to 6).map(i => scenario(dirty = i % 2 == 0)
      .pureApply(Gen.Parameters.default, Seed(20261020L + i)))
    var ties, lateNaN = 0
    for ((corpus, cents) <- cases; parts <- Seq(1, 3, 8)) {
      val sorted = cents.sortBy(_._1).map { case (id, v) =>
        (id, v.toArray, math.sqrt(v.map(x => x * x)
          .foldLeft(0.0)(_ + _)))
      }.toArray
      val want = corpus.map { case (id, v) =>
        val (nrm, c) = reference(v.toArray, sorted)
        (id, java.lang.Double.doubleToRawLongBits(nrm), c)
      }
      val got = Similarity.ivfAssign(
          corpus.toDF("vec_id", "embedding").repartition(parts),
          "vec_id", "embedding", cents.toDF("vec_id", "embedding"), 4)
        .select("vec_id", "nrm", "centroid_id").as[(Long, Double, Long)]
        .collect().map { case (id, nrm, c) =>
          (id, java.lang.Double.doubleToRawLongBits(nrm), c) }
        .sortBy(_._1).toSeq
      withClue(s"centroids=$cents, partitions=$parts: ") {
        got shouldBe want
      }
      for ((_, v) <- corpus) {
        val cs = cosines(v, sorted)
        val nums = cs.filterNot(_.isNaN)
        if (nums.size == cs.size && cs.count(_ == cs.max) > 1) ties += 1
        if (cs.indexWhere(_.isNaN) > cs.indexWhere(!_.isNaN) &&
          nums.nonEmpty) lateNaN += 1
      }
    }
    // the input reaches both tie-breaks: an exact tie for the best
    // cosine, and a NaN cosine after a numeric one
    ties should be > 0
    lateNaN should be > 0
  }

  /** Every message in `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  private def vecs(rows: (Long, Option[Seq[Double]])*): DataFrame =
    rows.toDF("vec_id", "embedding")
  private lazy val good = vecs(1L -> Some(Seq(1.0, 0.0, 1.0, 0.0)),
    2L -> Some(Seq(0.0, 1.0, 0.0, 1.0)))
  private lazy val withNull = vecs(1L -> Some(Seq(1.0, 0.0, 1.0, 0.0)),
    2L -> None)
  private lazy val stringIds = Seq(("a", Seq(1.0, 0.0, 1.0, 0.0)))
    .toDF("vec_id", "embedding")
  private lazy val codebooks = Seq(
    (0, 0L, Seq(1.0, 0.0)), (0, 1L, Seq(0.0, 1.0)),
    (1, 0L, Seq(1.0, 0.0)), (1, 1L, Seq(0.0, 1.0)))
    .toDF("subspace", "centroid_id", "centroid")
  private lazy val encoded = Seq.empty[(Long, Long, Seq[Long])]
    .toDF("centroid_id", "vec_id", "codes")

  /** Entry point → a call taking (points, table), where `table` is the
    * frame the entry point collects to the driver. */
  private val entryPoints: Seq[(String, (DataFrame, DataFrame) => Any)] =
    Seq(
      "bruteForceTopK" -> ((p, t) =>
        Similarity.bruteForceTopK(p, t, "vec_id", "embedding", 2, 4)),
      "bruteForceTopKL2" -> ((p, t) =>
        Similarity.bruteForceTopKL2(p, t, "vec_id", "embedding", 2, 4)),
      "bruteForceTopKStreamed" -> ((p, t) =>
        Similarity.bruteForceTopKStreamed(t, p, "vec_id", "embedding", 2,
          4)),
      "ivfAssign" -> ((p, t) =>
        Similarity.ivfAssign(p, "vec_id", "embedding", t, 4)),
      "ivfAssignProbes" -> ((p, t) =>
        Similarity.ivfAssignProbes(p, "vec_id", "embedding", t, 4, 2)),
      "ivfAssignL2" -> ((p, t) =>
        Similarity.ivfAssignL2(p, "vec_id", "embedding", t, 4)),
      "adcTopK" -> ((_, t) =>
        ProductQuantization.adcTopK(t, encoded, "vec_id", "embedding",
          codebooks, 2, 2)),
      "ivfAdcTopK" -> ((p, t) =>
        ProductQuantization.ivfAdcTopK(p, encoded, "vec_id", "embedding",
          t, codebooks, 2, 2, 1)),
      "ivfEncode" -> ((p, t) =>
        ProductQuantization.ivfEncode(p, "vec_id", "embedding", t,
          codebooks, 2, 4, residual = true)),
      "trainResidualCodebooks" -> ((p, t) =>
        ProductQuantization.trainResidualCodebooks(p, "vec_id",
          "embedding", t, 2, 2, 1, 4)),
      "ivfAdcTopKDistributed" -> ((p, t) =>
        ProductQuantization.ivfAdcTopKDistributed(p, encoded, "vec_id",
          "embedding", t, codebooks, 2, 2, 4, 1, residual = true)))

  for ((op, call) <- entryPoints) {
    op should "fail loud, naming itself, on a NULL vector in its driver table" in {
      val e = intercept[IllegalArgumentException](call(good, withNull))
      e.getMessage should include(s"$op: vector id=2 has a NULL embedding")
    }
    it should "fail loud, naming itself, on a non-numeric id" in {
      val e = intercept[IllegalArgumentException](call(stringIds, stringIds))
      e.getMessage should include(s"$op requires a numeric vec_id")
    }
  }

  "ivfAssign" should "fail loud, naming itself, on a NULL corpus vector" in {
    val e = intercept[Exception](Similarity.ivfAssign(withNull, "vec_id",
      "embedding", good, 4).collect())
    messages(e) should include("ivfAssign: vector id=2 has a NULL embedding")
  }
}
