package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compression path a 100 TB embedding
  * store runs when even int8 is too large: the vector is split into `m`
  * contiguous subspaces, each subspace is vector-quantized against its own
  * small codebook (k centroids), and a vector is stored as `m` small codes
  * (m bytes at k ≤ 256 — a 256× reduction for 64-dim float64). Search
  * decompresses nothing: asymmetric distance computation (ADC) scores a
  * query against codes through an m × k lookup table of exact
  * query-to-centroid subdistances. Public knowledge (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * Scale shape: codebooks are tiny (m × k × dim/m doubles) and broadcast;
  * encoding and ADC scoring are row-local `mapPartitions` loops — zero
  * shuffle. Training reuses [[Similarity.trainCentroids]] per subspace.
  * Encoding with a GIVEN codebook is deterministic integer output, so the
  * DuckDB oracle reproduces every code; training, like all float k-means,
  * is spec-checked (accumulation-order sensitivity).
  */
object ProductQuantization {

  /** Codebook row layout: (subspace, centroid_id, centroid). Ids need NOT
    * be dense — [[adcTopK]] remaps codes to positions in this id-sorted
    * array. */
  private def collectCodebooks(codebooks: DataFrame, m: Int)
      : Array[Array[(Long, Array[Double])]] = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    val rows = codebooks
      .select(col("subspace").cast("int"), col("centroid_id").cast("long"),
        col("centroid").cast("array<double>"))
      .as[(Int, Long, Array[Double])]
      .collect()
    require(rows.nonEmpty, "codebooks must be non-empty")
    val bySub = rows.groupBy(_._1)
    require(bySub.keySet == (0 until m).toSet,
      s"codebooks must cover subspaces 0..${m - 1}, got ${bySub.keySet}")
    (0 until m).map(s => bySub(s).sortBy(_._2)
      .map(r => (r._2, r._3)).toArray).toArray
  }

  /** Exact squared L2 between a subvector of `v` starting at `off` and a
    * centroid — bounded by the vector's real length, so ragged or short
    * embeddings degrade (missing dims contribute nothing) instead of
    * throwing mid-stage, the same contract as
    * [[Similarity.bruteForceTopK]]'s min-length dot. */
  private def subDist(v: Array[Double], off: Int,
      cv: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    val n = math.min(cv.length, math.max(0, v.length - off))
    while (i < n) {
      val diff = v(off + i) - cv(i)
      d += diff * diff
      i += 1
    }
    d
  }

  /** Shared encode kernel: nearest centroid id per subspace (ties to the
    * lower id) + total squared reconstruction error. */
  private def encodeVector(books: Array[Array[(Long, Array[Double])]],
      v: Array[Double]): (Array[Long], Double) = {
    val m0 = books.length
    val codes = new Array[Long](m0)
    var err = 0.0
    var s = 0
    while (s < m0) {
      val book = books(s)
      val sub = book(0)._2.length
      val off = s * sub
      var best = Double.PositiveInfinity
      var bestId = book(0)._1
      var c = 0
      while (c < book.length) {
        val (cid, cv) = book(c)
        val d = subDist(v, off, cv)
        if (d < best) { best = d; bestId = cid }
        c += 1
      }
      codes(s) = bestId
      err += best
      s += 1
    }
    (codes, err)
  }

  /** Fail-loud LUT slot lookup: a code that is not in the codebook means
    * the codes were encoded against a DIFFERENT codebook table — surface
    * that as a diagnosable error, not a bare NoSuchElementException deep
    * in an executor task. */
  private def slotOf(slots: Array[Map[Long, Int]], s: Int,
      code: Long): Int =
    slots(s).getOrElse(code, throw new IllegalArgumentException(
      s"ADC: code $code is not a centroid id of subspace $s " +
        s"(${slots(s).size} known) — were these codes encoded with a " +
        "different codebook table?"))

  private def requireCodeArity(id: Long, codes: Seq[Long], m: Int): Unit =
    if (codes == null || codes.length != m)
      throw new IllegalArgumentException(
        s"ADC: vec_id=$id carries ${if (codes == null) "null"
          else codes.length.toString} codes, expected $m — " +
          "codes and codebooks disagree on the subspace count")

  /** Train per-subspace codebooks with the deterministic seeded k-means of
    * [[Similarity.trainCentroids]] over each subvector slice. Returns
    * (subspace, centroid_id, centroid) — persist this table; it IS the
    * index artifact (float means are accumulation-order sensitive, so
    * train once and store, never retrain-and-compare). */
  def trainCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    (0 until m).map { s =>
      val sliced = df.select(col(idCol),
        slice(col(vecCol).cast("array<double>"), s * sub + 1, sub)
          .as(vecCol))
      Similarity.trainCentroids(sliced, idCol, vecCol, k, iters, sub)
        .select(lit(s).as("subspace"), col(idCol).as("centroid_id"),
          col(vecCol).as("centroid"))
    }.reduce(_ unionByName _)
  }

  /** Encode every vector as `m` codes: per subspace, the centroid id
    * minimizing the exact squared L2 subdistance (ties to the lower id).
    * Row-local against the broadcast codebooks — zero shuffle; output
    * codes ride as an `array<bigint>` plus a reconstruction-error column
    * (the total squared distance to the selected centroids — the
    * quantization loss PQ evaluations report). */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int): DataFrame = {
    Similarity.requireNumericId(df, idCol, "encode")
    val spark = df.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(codebooks, m)
    val bc = spark.sparkContext.broadcast(cb)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val books = bc.value
        rows.map { case (id, v) =>
          if (v == null) throw new IllegalArgumentException(
            s"encode: vector id=$id has a NULL embedding — filter or " +
              "impute null vectors before quantization")
          val (codes, err) = encodeVector(books, v)
          (id, codes.toSeq, err)
        }
      }
      .toDF("vec_id", "codes", "sq_err")
  }

  /** ADC top-k: score a query set against PQ codes without decoding. Per
    * query, an m × k table of exact query-to-centroid subdistances is
    * precomputed once; a candidate's approximate squared distance is the
    * sum of m table lookups — O(m) per pair instead of O(dim). The
    * encoded corpus streams through `mapPartitions` against the broadcast
    * (queries × LUT) set: zero shuffle, top-k kept per query by insertion
    * (dist asc, id asc). Query count must fit one broadcast — the same
    * batch-of-queries contract as [[Similarity.bruteForceTopK]]. */
  def adcTopK(queries: DataFrame, encoded: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, m: Int, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(codebooks, m)
    // codes are raw CENTROID IDS (not positions): build per-subspace
    // id → LUT-slot maps so non-dense id spaces (e.g. codebooks keyed by
    // source vector ids) look up the right centroid instead of indexing
    // out of bounds or, worse, silently reading a wrong slot
    val codeSlot: Array[Map[Long, Int]] =
      cb.map(_.iterator.map(_._1).zipWithIndex.toMap)
    val qluts: Array[(Long, Array[Array[Double]])] =
      Similarity.driverVectors(queries, idCol, vecCol, "adcTopK")
      .map { case (qid, qv, _) =>
        val lut = cb.zipWithIndex.map { case (book, s) =>
          val sub = book(0)._2.length
          book.map { case (_, cv) => subDist(qv, s * sub, cv) }
        }
        (qid, lut)
      }
    val bc = spark.sparkContext.broadcast((qluts, codeSlot))
    // Per-PARTITION insertion top-k per query (never materializing the
    // corpus × queries pair space), then one small window over the q × k
    // partials per partition.
    val partials = encoded.select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Long])]
      .mapPartitions { rows =>
        val (qs, slots) = bc.value
        val nq = qs.length
        val topId = Array.fill(nq)(new Array[Long](k))
        val topD = Array.fill(nq)(new Array[Double](k))
        val topN = new Array[Int](nq)
        rows.foreach { case (cid, codes) =>
          // resolve codes → LUT slots ONCE per candidate row (guarded),
          // not once per (candidate, query, subspace)
          requireCodeArity(cid, codes, slots.length)
          val slotArr = new Array[Int](slots.length)
          var si = 0
          while (si < slots.length) {
            slotArr(si) = slotOf(slots, si, codes(si)); si += 1
          }
          var q = 0
          while (q < nq) {
            val (qid, lut) = qs(q)
            if (qid != cid) {
              var d = 0.0
              var s = 0
              while (s < lut.length) {
                d += lut(s)(slotArr(s))
                s += 1
              }
              val ids = topId(q); val ds = topD(q); val n = topN(q)
              var pos = n
              while (pos > 0 && (ds(pos - 1) > d ||
                  (ds(pos - 1) == d && ids(pos - 1) > cid))) pos -= 1
              if (pos < k) {
                var mIdx = math.min(n, k - 1)
                while (mIdx > pos) {
                  ds(mIdx) = ds(mIdx - 1); ids(mIdx) = ids(mIdx - 1)
                  mIdx -= 1
                }
                ds(pos) = d; ids(pos) = cid
                if (n < k) topN(q) = n + 1
              }
            }
            q += 1
          }
        }
        (0 until nq).iterator.flatMap { q =>
          val (qid, _) = qs(q)
          (0 until topN(q)).map(r => (qid, topId(q)(r), topD(q)(r)))
        }
      }
      .toDF("vec_id", "neighbor_id", "sq_dist")
    partials
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("sq_dist"), col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("sq_dist"), 6).as("sq_dist"))
  }

  /** v − c, elementwise over v's length (centroid dims past v contribute
    * nothing — the same ragged-degrade contract as [[subDist]]). */
  private def residualOf(v: Array[Double], c: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) {
      r(i) = v(i) - (if (i < c.length) c(i) else 0.0); i += 1
    }
    r
  }

  private def collectCentroidMap(centroids: DataFrame, idCol: String,
      vecCol: String, op: String): Map[Long, Array[Double]] =
    Similarity.driverVectors(centroids, idCol, vecCol, op)
      .map(c => c._1 -> c._2).toMap

  /** Build the IVFADC index (Jégou et al. 2011 §IV): every vector is
    * assigned to its probe-0 IVF bucket by [[Similarity.ivfAssign]]'s
    * row-local argmax over the broadcast centroid set, PQ-encoded
    * row-locally against the broadcast codebooks, and laid out partitioned
    * by `centroid_id` — the ONE shuffle of the index build, modelling the
    * bucket-partitioned layout a production index persists so
    * bucket-restricted search touches only probed partitions.
    *
    * `residual = true` is the paper's actual §IV structure: codes quantize
    * `v − centroid(bucket)` instead of `v`, so the codebooks only have to
    * cover the (much tighter) within-bucket displacement distribution —
    * train them with [[trainResidualCodebooks]] and search with
    * `ivfAdcTopK(..., residual = true)`. Encoding stays row-local either
    * way. Output: (centroid_id, vec_id, codes, sq_err). */
  def ivfEncode(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, codebooks: DataFrame, m: Int,
      dim: Int, residual: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(codebooks, m)
    val bc = spark.sparkContext.broadcast(
      (cb, if (residual)
        collectCentroidMap(centroids, idCol, vecCol, "ivfEncode")
        else Map.empty[Long, Array[Double]]))
    val res = residual
    Similarity.ivfAssign(df, idCol, vecCol, centroids, dim)
      .select(col("centroid_id"), col("vec_id"), col("v"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { rows =>
        val (books, cents) = bc.value
        rows.map { case (bucket, id, v) =>
          val base = if (res) residualOf(v, cents(bucket)) else v
          val (codes, err) = encodeVector(books, base)
          (bucket, id, codes.toSeq, err)
        }
      }
      .toDF("centroid_id", "vec_id", "codes", "sq_err")
      .repartition(col("centroid_id"))
  }

  /** Train per-subspace codebooks over the RESIDUALS `v − centroid(bucket)`
    * — the distribution residual-IVFADC codes actually quantize. One
    * assignment pass (row-local argmax), then the deterministic seeded
    * k-means of [[trainCodebooks]] per subspace slice. Persist the output;
    * it is the index artifact. */
  def trainResidualCodebooks(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, m: Int, k: Int, iters: Int,
      dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      collectCentroidMap(centroids, idCol, vecCol, "trainResidualCodebooks"))
    val residuals = Similarity.ivfAssign(df, idCol, vecCol, centroids, dim)
      .select(col("vec_id"), col("v"), col("centroid_id"))
      .as[(Long, Array[Double], Long)]
      .mapPartitions { rows =>
        val cents = bc.value
        rows.map { case (id, v, b) => (id, residualOf(v, cents(b)).toSeq) }
      }
      .toDF("vec_id", "residual")
    trainCodebooks(residuals, "vec_id", "residual", m, k, iters, dim)
  }

  /** IVFADC search: ADC-score a query batch ONLY within each query's top
    * `probes` IVF buckets — the composed index of Jégou et al. 2011 §IV.
    * Per query the m × k LUT of exact query-to-centroid subdistances is
    * built once on the driver, together with its probed bucket ids (same
    * cosine ranking and tie-breaks as [[Similarity.ivfAssignProbes]]);
    * the encoded index then streams through `mapPartitions` against the
    * broadcast (bucket → queries, LUTs) set, so per-candidate cost is
    * O(m) table lookups for ONLY the queries probing that candidate's
    * bucket — search work drops from O(corpus × queries) to
    * O(corpus × queries-per-bucket), and the index side is never
    * re-shuffled. Query count must fit one broadcast (the batch contract
    * of [[adcTopK]] / [[Similarity.bruteForceTopK]]).
    *
    * With `residual = true` (index built by `ivfEncode(..., residual =
    * true)` over [[trainResidualCodebooks]] output), each probed bucket
    * gets its OWN LUT built from the query's residual against that
    * bucket's centroid — the exact §IV search; cost is unchanged
    * (probes × m × k subdistances per query, built once on the driver).
    * Output: (vec_id, rk, neighbor_id, sq_dist), rk by (dist asc, id asc). */
  def ivfAdcTopK(queries: DataFrame, encoded: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, codebooks: DataFrame,
      m: Int, k: Int, probes: Int, residual: Boolean = false): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val spark = queries.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(codebooks, m)
    val codeSlot: Array[Map[Long, Int]] =
      cb.map(_.iterator.map(_._1).zipWithIndex.toMap)
    val cents = Similarity.driverVectors(centroids, idCol, vecCol,
      "ivfAdcTopK")
    require(cents.nonEmpty, "centroid set must be non-empty")
    val centMap: Map[Long, Array[Double]] =
      if (residual) cents.map(c => c._1 -> c._2).toMap
      else Map.empty
    val p = math.min(probes, cents.length)
    // per query: probed bucket ids (cos desc — NaN ranked above any
    // number — then centroid id asc, exactly ivfAssignProbes) + one ADC
    // LUT per probed bucket (the SAME shared array in non-residual mode;
    // the query's bucket-residual LUT in residual mode)
    val qs: Array[(Long, Array[(Long, Array[Array[Double]])])] =
      Similarity.driverVectors(queries, idCol, vecCol, "ivfAdcTopK")
      .map { case (qid, qv, qn) =>
        // probe ranking via the SHARED Similarity.topProbes — the same
        // code ivfAssignProbes runs, so the broadcast and distributed
        // forms can never drift apart
        val probed = Similarity.topProbes(qv, qn, cents, p)
        def lutFor(base: Array[Double]): Array[Array[Double]] =
          cb.zipWithIndex.map { case (book, s) =>
            val sub = book(0)._2.length
            book.map { case (_, ctr) => subDist(base, s * sub, ctr) }
          }
        val shared = if (residual) null else lutFor(qv)
        val perBucket = probed.map { b =>
          b -> (if (residual) lutFor(residualOf(qv, centMap(b))) else shared)
        }
        (qid, perBucket)
      }
    // bucket → (query index, that query's LUT for this bucket)
    val bucketQueries: Map[Long, Array[(Int, Array[Array[Double]])]] =
      qs.zipWithIndex
        .flatMap { case ((_, buckets), qi) =>
          buckets.map { case (b, lut) => (b, (qi, lut)) }
        }
        .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2) }
    val bc = spark.sparkContext.broadcast(
      (qs.map(_._1), bucketQueries, codeSlot))
    val kk = k
    val partials = encoded
      .select(col("centroid_id"), col("vec_id"), col("codes"))
      .as[(Long, Long, Seq[Long])]
      .mapPartitions { rows =>
        val (qids, b2q, slots) = bc.value
        val nq = qids.length
        val topId = Array.fill(nq)(new Array[Long](kk))
        val topD = Array.fill(nq)(new Array[Double](kk))
        val topN = new Array[Int](nq)
        val noQ = Array.empty[(Int, Array[Array[Double]])]
        rows.foreach { case (bucket, cid, codes) =>
          val probing = b2q.getOrElse(bucket, noQ)
          if (probing.nonEmpty) {
            requireCodeArity(cid, codes, slots.length)
            val slotArr = new Array[Int](slots.length)
            var si = 0
            while (si < slots.length) {
              slotArr(si) = slotOf(slots, si, codes(si)); si += 1
            }
            var qi = 0
            while (qi < probing.length) {
              val (q, lut) = probing(qi)
              val qid = qids(q)
              if (qid != cid) {
                var d = 0.0
                var s = 0
                while (s < lut.length) {
                  d += lut(s)(slotArr(s))
                  s += 1
                }
                val ids = topId(q); val ds = topD(q); val n = topN(q)
                var pos = n
                while (pos > 0 && (ds(pos - 1) > d ||
                    (ds(pos - 1) == d && ids(pos - 1) > cid))) pos -= 1
                if (pos < kk) {
                  var mIdx = math.min(n, kk - 1)
                  while (mIdx > pos) {
                    ds(mIdx) = ds(mIdx - 1); ids(mIdx) = ids(mIdx - 1)
                    mIdx -= 1
                  }
                  ds(pos) = d; ids(pos) = cid
                  if (n < kk) topN(q) = n + 1
                }
              }
              qi += 1
            }
          }
        }
        (0 until nq).iterator.flatMap { q =>
          (0 until topN(q)).map(r => (qids(q), topId(q)(r), topD(q)(r)))
        }
      }
      .toDF("vec_id", "neighbor_id", "sq_dist")
    partials
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("sq_dist"), col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("sq_dist"), 6).as("sq_dist"))
  }

  /** IVFADC search, DISTRIBUTED-QUERY form: lifts [[ivfAdcTopK]]'s
    * one-broadcast query-batch ceiling. Queries are probe-assigned
    * row-locally ([[Similarity.ivfAssignProbes]], zero shuffle), then
    * both sides shuffle ONCE on the bucket id and are cogrouped: per
    * bucket, each probing query's m × k LUT is built once on the
    * EXECUTOR (its cost amortizes over the bucket's candidates) and the
    * bucket's codes stream through per-query insertion top-k — the
    * per-candidate cost stays O(m) lookups and nothing is ever collected
    * to the driver, so the query side scales like any other shuffled
    * relation. Results are identical to [[ivfAdcTopK]] (spec-proven) and
    * to the q_x26 oracle. Prefer the broadcast form for small query
    * batches (it leaves the stored index layout untouched); this form
    * when queries outgrow one broadcast. */
  def ivfAdcTopKDistributed(queries: DataFrame, encoded: DataFrame,
      idCol: String, vecCol: String, centroids: DataFrame,
      codebooks: DataFrame, m: Int, k: Int, dim: Int, probes: Int,
      residual: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(codebooks, m)
    val codeSlot: Array[Map[Long, Int]] =
      cb.map(_.iterator.map(_._1).zipWithIndex.toMap)
    val bcAll = spark.sparkContext.broadcast(
      (cb, codeSlot, if (residual)
        collectCentroidMap(centroids, idCol, vecCol, "ivfAdcTopKDistributed")
      else Map.empty[Long, Array[Double]]))
    val kk = k
    val probed = Similarity
      .ivfAssignProbes(queries, idCol, vecCol, centroids, dim, probes)
      .select(col("centroid_id"), col("vec_id"), col("v"))
      .as[(Long, Long, Array[Double])]
    val cands = encoded
      .select(col("centroid_id"), col("vec_id"), col("codes"))
      .as[(Long, Long, Seq[Long])]
    val partials = probed.groupByKey(_._1).cogroup(cands.groupByKey(_._1)) {
      (bucket, qit, cit) =>
        val (books, slots, cents) = bcAll.value
        val qs = qit.toArray
        // no queries OR no candidates → nothing to score; the candidate
        // check matters because LUT construction below is the expensive
        // part and must not run for buckets that cannot emit a partial
        if (qs.isEmpty || !cit.hasNext) Iterator.empty
        else {
          val luts: Array[Array[Array[Double]]] = qs.map { case (_, _, qv) =>
            val base = if (cents.nonEmpty) residualOf(qv, cents(bucket))
              else qv
            books.zipWithIndex.map { case (book, s) =>
              val sub = book(0)._2.length
              book.map { case (_, ctr) => subDist(base, s * sub, ctr) }
            }
          }
          val nq = qs.length
          val topId = Array.fill(nq)(new Array[Long](kk))
          val topD = Array.fill(nq)(new Array[Double](kk))
          val topN = new Array[Int](nq)
          cit.foreach { case (_, cid, codes) =>
            requireCodeArity(cid, codes, slots.length)
            val slotArr = new Array[Int](slots.length)
            var si = 0
            while (si < slots.length) {
              slotArr(si) = slotOf(slots, si, codes(si)); si += 1
            }
            var q = 0
            while (q < nq) {
              val qid = qs(q)._2
              if (qid != cid) {
                val lut = luts(q)
                var d = 0.0
                var s = 0
                while (s < lut.length) {
                  d += lut(s)(slotArr(s))
                  s += 1
                }
                val ids = topId(q); val ds = topD(q); val n = topN(q)
                var pos = n
                while (pos > 0 && (ds(pos - 1) > d ||
                    (ds(pos - 1) == d && ids(pos - 1) > cid))) pos -= 1
                if (pos < kk) {
                  var mIdx = math.min(n, kk - 1)
                  while (mIdx > pos) {
                    ds(mIdx) = ds(mIdx - 1); ids(mIdx) = ids(mIdx - 1)
                    mIdx -= 1
                  }
                  ds(pos) = d; ids(pos) = cid
                  if (n < kk) topN(q) = n + 1
                }
              }
              q += 1
            }
          }
          (0 until nq).iterator.flatMap { q =>
            (0 until topN(q)).map(r => (qs(q)._2, topId(q)(r), topD(q)(r)))
          }
        }
    }.toDF("vec_id", "neighbor_id", "sq_dist")
    partials
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("sq_dist"), col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("sq_dist"), 6).as("sq_dist"))
  }
}
