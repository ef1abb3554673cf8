package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline: a broadcast
  * nested-loop join of a query set against the candidate index — one pass,
  * no shuffle of the query side. The scale path is IVF: assign every vector
  * to its nearest centroid (tiny centroid set, broadcast), then search only
  * within the centroid bucket — the pair space shrinks from O(n²) to
  * O(n · bucket size) and the only shuffle is on the centroid id.
  *
  * The dot product is a primitive while-loop UDF: per-pair cost is what a
  * millions-of-pairs join lives or dies on, and both pure-expression forms
  * measured an order of magnitude slower at sf0.1 (the `aggregate`/
  * `zip_with` fold interprets a lambda per element; a 64-term unrolled
  * `element_at` chain loses whole-stage codegen to expression-tree depth).
  * The loop accumulates left-to-right, so the value is bit-identical to
  * both expression forms and to DuckDB's `list_dot_product`. */
object Similarity {

  private val dotUdf = udf((a: Seq[Double], b: Seq[Double]) => {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  })

  /** Left-to-right dot product (`dim` is advisory; kept for API clarity).
    * UDF form — works on any session with no registration; the operator
    * entry points below use the NATIVE [[graft.functions.DotProductExpr]]
    * instead (same values bit-for-bit, but codegen'd over `ArrayData` in
    * place — no per-call Seq conversion of both arrays). */
  def dot(a: Column, b: Column, dim: Int): Column = dotUdf(a, b)

  /** The codegen'd dot — requires `graft_dot` registered on the session
    * ([[graft.GraftExtensions]] or `DotProductExpr.register`). */
  def nativeDot(a: Column, b: Column): Column =
    call_function(graft.functions.DotProductExpr.Name, a, b)

  /** Fallback fold for unknown dimension (interpreted, slower). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column, dim: Int): Column = sqrt(dot(a, a, dim))

  def cosine(a: Column, b: Column, normA: Column, normB: Column,
      dim: Int): Column =
    dot(a, b, dim) / (normA * normB)

  // Native-expression forms used by the operator entry points (which
  // guarantee registration via ensureNative).
  private def nNorm(a: Column): Column = sqrt(nativeDot(a, a))
  private def nCosine(a: Column, b: Column, normA: Column,
      normB: Column): Column = nativeDot(a, b) / (normA * normB)

  private def ensureNative(df: DataFrame): Unit = {
    graft.functions.DotProductExpr.register(df.sparkSession)
    graft.functions.L2DistanceExpr.register(df.sparkSession)
  }

  /** The codegen'd Euclidean distance — requires `graft_l2` registered
    * ([[graft.GraftExtensions]] or `L2DistanceExpr.register`). */
  def nativeL2(a: Column, b: Column): Column =
    call_function(graft.functions.L2DistanceExpr.Name, a, b)

  private def withNorm(df: DataFrame, idCol: String, vecCol: String, dim: Int) = {
    ensureNative(df)
    df.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", nNorm(col("v")))
  }

  /** Brute-force exact cosine top-k of `candidates` per row of `queries`
    * (self excluded by id).
    *
    * This is the one operator where `mapPartitions` genuinely beats the
    * relational form: a BroadcastNestedLoopJoin materializes a joined row
    * (two 64-double arrays) per PAIR — ~15µs each, 20s at sf0.1 — while a
    * broadcast index scanned with primitive-array loops runs the same
    * million pairs in well under a second. The index side is collect()ed
    * to the DRIVER and must fit in driver memory and one broadcast — the
    * same constraint the join formulation already had, stated plainly:
    * this is the exactness baseline; [[bruteForceTopKStreamed]] keeps the
    * exactness with the ROLES FLIPPED (query batch broadcast, corpus
    * streamed) when candidates exceed broadcast scale, and [[ivfTopK]] is
    * the approximate production path past that.
    * Accumulation is left-to-right, and rounding is HALF_UP BigDecimal —
    * both bit-identical to the Column/`round` forms and to the DuckDB
    * oracle. NaN cosines (zero-norm vectors on either side) are
    * unrankable and DROPPED — the shared contract of this form, the
    * streamed form and the oracle. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // same long-id contract as ivfAssign — reject other id types up front
    for (d <- Seq(queries, candidates)) {
      val t = d.schema(idCol).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"bruteForceTopK requires a numeric $idCol (castable to long), got $t")
    }
    val index: Array[(Long, Array[Double], Double)] = candidates
      .select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
      .sortBy(_._1)
      .map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(s))
      }
    val bc = spark.sparkContext.broadcast(index)
    queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cands = bc.value
        rows.flatMap { case (qid, qv) =>
          var s = 0.0; var i = 0
          while (i < qv.length) { s += qv(i) * qv(i); i += 1 }
          val qn = math.sqrt(s)
          // insertion top-k: order by (cos desc, neighbor_id asc)
          val topId = new Array[Long](k)
          val topCos = new Array[Double](k)
          var n = 0
          var ci = 0
          while (ci < cands.length) {
            val (cid, cv, cn) = cands(ci)
            if (cid != qid) {
              // min-length bound: ragged embeddings degrade like dotUdf
              // instead of throwing on the shorter side
              var d = 0.0; var j = 0
              val dn = math.min(qv.length, cv.length)
              while (j < dn) { d += qv(j) * cv(j); j += 1 }
              val cos = d / (qn * cn)
              // a NaN cosine (zero-norm vector) is unrankable: drop it
              // EXPLICITLY. Without this, a NaN arriving while the top-k
              // is not yet full is appended (every comparison with NaN
              // is false) and then never displaced — a slot silently
              // wasted on a meaningless similarity, and a divergence
              // from the streamed form and the oracle (which filter NaN)
              if (!java.lang.Double.isNaN(cos)) {
                var pos = n
                while (pos > 0 && (topCos(pos - 1) < cos ||
                  (topCos(pos - 1) == cos && topId(pos - 1) > cid))) pos -= 1
                if (pos < k) {
                  val last = math.min(n, k - 1)
                  var m = last
                  while (m > pos) {
                    topCos(m) = topCos(m - 1); topId(m) = topId(m - 1); m -= 1
                  }
                  topCos(pos) = cos; topId(pos) = cid
                  if (n < k) n += 1
                }
              }
            }
            ci += 1
          }
          (0 until n).map { r =>
            (qid, (r + 1).toLong, topId(r),
              BigDecimal(topCos(r))
                .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
          }
        }
      }
      .toDF("vec_id", "rk", "neighbor_id", "cosine")
  }

  /** Brute-force exact EUCLIDEAN top-k — the metric the IVF/PQ
    * literature is native to (Jégou 2011 scores L2; cosine is the text
    * convention). Same broadcast-index mapPartitions kernel and output
    * contract as [[bruteForceTopK]], ranked by (distance ASC, neighbor
    * id asc); the distance is `sqrt(Σ (aᵢ−bᵢ)²)` accumulated
    * left-to-right — the [[graft.functions.L2DistanceExpr]] /
    * DuckDB `list_distance` semantics, NOT the algebraic
    * `√(a·a − 2a·b + b·b)`, which rounds differently and collapses for
    * near-equal vectors. L2 needs no normalization, so zero vectors
    * rank normally; NaN distances (NaN components) are dropped like
    * NaN cosines. Output: (vec_id, rk, neighbor_id, distance). */
  def bruteForceTopKL2(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    for (d <- Seq(queries, candidates)) {
      val t = d.schema(idCol).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"bruteForceTopKL2 requires a numeric $idCol (castable to long), got $t")
    }
    val index: Array[(Long, Array[Double])] = candidates
      .select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(index)
    queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cands = bc.value
        rows.flatMap { case (qid, qv) =>
          val topId = new Array[Long](k)
          val topDist = new Array[Double](k)
          var n = 0
          var ci = 0
          while (ci < cands.length) {
            val (cid, cv) = cands(ci)
            if (cid != qid) {
              var s = 0.0; var j = 0
              val dn = math.min(qv.length, cv.length)
              while (j < dn) {
                val d = qv(j) - cv(j)
                s += d * d
                j += 1
              }
              val dist = math.sqrt(s)
              if (!java.lang.Double.isNaN(dist)) {
                // insertion top-k by (dist asc, neighbor id asc)
                var pos = n
                while (pos > 0 && (topDist(pos - 1) > dist ||
                  (topDist(pos - 1) == dist && topId(pos - 1) > cid))) pos -= 1
                if (pos < k) {
                  val last = math.min(n, k - 1)
                  var m = last
                  while (m > pos) {
                    topDist(m) = topDist(m - 1); topId(m) = topId(m - 1); m -= 1
                  }
                  topDist(pos) = dist; topId(pos) = cid
                  if (n < k) n += 1
                }
              }
            }
            ci += 1
          }
          (0 until n).map { r =>
            // unlike cosine (whose overflow path lands on NaN via
            // inf/inf), an L2 square-sum can overflow to +Infinity on
            // finite-but-huge inputs — it ranks last like the oracle's,
            // but BigDecimal cannot round it, so pass it through raw
            val d = topDist(r)
            val rounded =
              if (java.lang.Double.isInfinite(d)) d
              else BigDecimal(d)
                .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble
            (qid, (r + 1).toLong, topId(r), rounded)
          }
        }
      }
      .toDF("vec_id", "rk", "neighbor_id", "distance")
  }

  /** Two-stage ANN: candidate search in a random-PROJECTED space, exact
    * re-rank in the original — the standard retrieval shape once vectors
    * are wide (FAISS's refine step; public knowledge). Stage 1 runs
    * [[bruteForceTopKL2]] over the [[graft.ann.Embeddings.randomProject]]
    * dOut-dim projections (dIn/dOut× fewer FLOPs and index bytes — the
    * broadcast index that stopped fitting at dIn may fit at dOut), keeping
    * `overfetch` candidates per query; stage 2 joins the raw vectors back
    * for only queries × overfetch rows and re-ranks by exact L2
    * ([[nativeL2]], codegen). Both stages deterministic: the projection
    * is seeded, stage-1 distances are computed from its ROUNDED values
    * (bit-identical across engines), ties break on neighbor id.
    *
    * Output: (vec_id, rk, neighbor_id, distance(6dp)), rk 1..k by
    * (exact distance asc, neighbor id asc). */
  def projectedRerankTopKL2(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, dIn: Int, dOut: Int, k: Int,
      overfetch: Int): DataFrame = {
    require(overfetch >= k, s"overfetch ($overfetch) must be >= k ($k)")
    ensureNative(corpus)
    def projected(df: DataFrame): DataFrame =
      graft.ann.Embeddings.randomProject(df, idCol, vecCol, dIn, dOut)
        .groupBy(col(idCol))
        .agg(transform(array_sort(collect_list(struct(col("dim"),
          col("value")))), x => x.getField("value")).as(vecCol))
    val cand = bruteForceTopKL2(projected(queries), projected(corpus),
      idCol, vecCol, overfetch, dOut)
      .select(col("vec_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val nv = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("__d"), col("neighbor_id"))
    cand.join(qv, "vec_id").join(nv, "neighbor_id")
      .withColumn("__d", nativeL2(col("__qv"), col("__nv")))
      .filter(!isnan(col("__d")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("__d"), 6).as("distance"))
  }

  /** Exact cosine top-k, STREAMED-INDEX form. [[bruteForceTopK]]
    * broadcasts the candidate INDEX — at 100 TB that is the wrong side:
    * its ceiling binds the corpus. This form flips the roles: the
    * (small, bounded) QUERY batch is collected and broadcast, the index
    * STREAMS through one `mapPartitions` pass with per-partition
    * insertion top-k per query, and a window over the tiny
    * queries × k × partitions partials merges — exactness unchanged
    * (spec-proven identical to [[bruteForceTopK]]), corpus unbounded.
    * Same output contract: (vec_id, rk, neighbor_id, cosine), rk by
    * (cos desc, neighbor id asc), self excluded. */
  def bruteForceTopKStreamed(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    for (d <- Seq(queries, candidates)) {
      val t = d.schema(idCol).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"bruteForceTopKStreamed requires a numeric $idCol, got $t")
    }
    val qbatch: Array[(Long, Array[Double], Double)] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
      .sortBy(_._1)
      .map { case (id, v) =>
        require(v != null,
          s"bruteForceTopKStreamed: query id=$id has a NULL embedding")
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(s))
      }
    val bc = spark.sparkContext.broadcast(qbatch)
    val kk = k
    val partials = candidates
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val qs = bc.value
        val nq = qs.length
        val topId = Array.fill(nq)(new Array[Long](kk))
        val topCos = Array.fill(nq)(new Array[Double](kk))
        val topN = new Array[Int](nq)
        rows.foreach { case (cid, cv) =>
          var s = 0.0; var i = 0
          while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
          val cn = math.sqrt(s)
          var q = 0
          while (q < nq) {
            val (qid, qv, qn) = qs(q)
            if (qid != cid) {
              var d = 0.0; var j = 0
              val dn = math.min(qv.length, cv.length)
              while (j < dn) { d += qv(j) * cv(j); j += 1 }
              val cos = d / (qn * cn)
              // drop NaN cosines (zero-norm vectors) HERE, exactly as the
              // broadcast form's insertion does implicitly — otherwise a
              // NaN partial would reach the merge window, where Spark
              // ranks NaN ABOVE every number, and the result would depend
              // on partition layout
              if (!java.lang.Double.isNaN(cos)) {
                val ids = topId(q); val cs = topCos(q); val n = topN(q)
                var pos = n
                while (pos > 0 && (cs(pos - 1) < cos ||
                    (cs(pos - 1) == cos && ids(pos - 1) > cid))) pos -= 1
                if (pos < kk) {
                  var m = math.min(n, kk - 1)
                  while (m > pos) {
                    cs(m) = cs(m - 1); ids(m) = ids(m - 1); m -= 1
                  }
                  cs(pos) = cos; ids(pos) = cid
                  if (n < kk) topN(q) = n + 1
                }
              }
            }
            q += 1
          }
        }
        (0 until nq).iterator.flatMap { q =>
          (0 until topN(q)).map(r => (qs(q)._1, topId(q)(r), topCos(q)(r)))
        }
      }
      .toDF("vec_id", "neighbor_id", "cos")
    partials
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** IVF bucket assignment: nearest centroid by cosine (ties to the lower
    * centroid id). `centroids` must be small enough to broadcast — in a
    * production index it is k-means output; here any deterministic subset
    * works.
    *
    * The nearest centroid is a ROW-LOCAL argmax over the broadcast centroid
    * set: a primitive-array scan inside `mapPartitions`, zero shuffle. The
    * former crossJoin + `row_number` window formulation shuffled and sorted
    * n×c rows — with a production centroid count (√n, thousands) that is
    * thousands× corpus traffic for a decision each row can make alone.
    * The scan iterates centroids in ascending id and replaces only on a
    * strictly better cosine (NaN ranked above any number, as Spark orders
    * it), reproducing the window's (cos desc, centroid_id asc) tie-break
    * bit-for-bit: dots accumulate left-to-right like the codegen'd
    * `graft_dot`. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the typed argmax path keys on LONG ids (same contract as
    // bruteForceTopK); reject other id types up front instead of letting
    // cast("long") produce NULLs that fail deep inside Dataset decoding
    for (d <- Seq(df, centroids)) {
      val t = d.schema(idCol).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"ivfAssign requires a numeric $idCol (castable to long), got $t")
    }
    val cents: Array[(Long, Array[Double], Double)] = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
      .sortBy(_._1)
      .map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(s))
      }
    require(cents.nonEmpty, "centroid set must be non-empty")
    val bc = spark.sparkContext.broadcast(cents)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) =>
          if (v == null) throw new IllegalArgumentException(
            s"ivfAssign: vector id=$id has a NULL embedding — filter or " +
              "impute null vectors before assignment")
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          val nrm = math.sqrt(s)
          var best = Double.NegativeInfinity
          var bestNaN = false
          var bestId = cs(0)._1
          var ci = 0
          while (ci < cs.length) {
            val (cid, cv, cn) = cs(ci)
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
          (id, v, nrm, bestId)
        }
      }
      .toDF("vec_id", "v", "nrm", "centroid_id")
  }

  /** Top-`p` centroids of one vector by cosine — cos desc, NaN ranked
    * above any number (as Spark orders it), strict-superiority insertion
    * so ties keep the lower centroid id. THE probe ranking, shared by
    * [[ivfAssignProbes]]'s executor scan and
    * [[ProductQuantization.ivfAdcTopK]]'s driver batch so the two paths
    * can never drift apart (the distributed/broadcast IVFADC equivalence
    * depends on them staying bit-identical). Returns probed ids in rank
    * order; shorter than `p` when fewer centroids exist. */
  private[graft] def topProbes(v: Array[Double], nrm: Double,
      cents: Array[(Long, Array[Double], Double)], p: Int): Array[Long] = {
    val pp = math.min(p, cents.length)
    val topId = new Array[Long](pp)
    val topCos = new Array[Double](pp)
    val topNaN = new Array[Boolean](pp)
    var n = 0
    var ci = 0
    while (ci < cents.length) {
      val (cid, cv, cn) = cents(ci)
      var d = 0.0; var j = 0
      val dn = math.min(v.length, cv.length)
      while (j < dn) { d += v(j) * cv(j); j += 1 }
      val cos = d / (nrm * cn)
      val isNaN = java.lang.Double.isNaN(cos)
      var pos = n
      while (pos > 0 && ((isNaN && !topNaN(pos - 1)) ||
          (isNaN == topNaN(pos - 1) && cos > topCos(pos - 1)))) pos -= 1
      if (pos < pp) {
        var m = math.min(n, pp - 1)
        while (m > pos) {
          topCos(m) = topCos(m - 1); topId(m) = topId(m - 1)
          topNaN(m) = topNaN(m - 1); m -= 1
        }
        topCos(pos) = cos; topId(pos) = cid; topNaN(pos) = isNaN
        if (n < pp) n += 1
      }
      ci += 1
    }
    topId.take(n)
  }

  /** IVF bucket assignment, MULTI-PROBE form: the top `probes` centroids
    * per row by cosine (probe 0 = the [[ivfAssign]] bucket), ordered
    * (cos desc — NaN ranked above any number, as Spark and the oracle both
    * order it — then centroid id asc). The argmax scan already computes
    * every centroid cosine row-locally, so emitting the top p instead of
    * the top 1 costs only the p-slot insertion — still zero shuffle.
    * Output: (vec_id, v, nrm, probe, centroid_id), one row per probe. */
  def ivfAssignProbes(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int, probes: Int): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val spark = df.sparkSession
    import spark.implicits._
    for (d <- Seq(df, centroids)) {
      val t = d.schema(idCol).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"ivfAssignProbes requires a numeric $idCol (castable to long), got $t")
    }
    val cents: Array[(Long, Array[Double], Double)] = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
      .sortBy(_._1)
      .map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(s))
      }
    require(cents.nonEmpty, "centroid set must be non-empty")
    val bc = spark.sparkContext.broadcast(cents)
    val p0 = probes
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { case (id, v) =>
          if (v == null) throw new IllegalArgumentException(
            s"ivfAssignProbes: vector id=$id has a NULL embedding — filter " +
              "or impute null vectors before assignment")
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          val nrm = math.sqrt(s)
          // the SHARED probe ranking (strict superiority: centroids
          // iterate in ascending id, so equal ranks keep the smaller id
          // — the (cos desc, centroid_id asc) order of the window form);
          // the norm computed above is passed down, not recomputed
          val probed = topProbes(v, nrm, cs, p0)
          probed.indices.map(r => (id, v, nrm, r, probed(r)))
        }
      }
      .toDF("vec_id", "v", "nrm", "probe", "centroid_id")
  }

  /** IVF approximate top-k with MULTI-PROBE search: each query searches
    * its top `probes` centroid buckets instead of only its own, recovering
    * most of the recall an IVF index loses at bucket boundaries for a
    * bounded extra cost (the candidate side stays single-bucket — each
    * vector is indexed once, under probe 0). One pass computes both
    * roles, one shuffle keys the bucket join on `centroid_id`; pair count
    * is bounded by `probes` × bucket size. Output matches [[ivfTopK]]
    * minus the centroid column (a multi-probe query has no single
    * bucket): (vec_id, rk, neighbor_id, cosine). */
  def ivfTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, k: Int, dim: Int,
      probes: Int = 2): DataFrame = {
    ensureNative(df)
    val probed = graft.util.Caches.persistTracked(
      ivfAssignProbes(df, idCol, vecCol, centroids, dim, probes))
    val cands = probed.filter(col("probe") === 0)
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"),
        col("v").as("w"), col("nrm").as("nrm_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(cands, "centroid_id")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos",
        nCosine(col("v"), col("w"), col("nrm"), col("nrm_b")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Deterministic k-means centroid training for the IVF index: seeded
    * init (the k rows with the smallest md5 of their id — a uniform,
    * engine-reproducible draw that costs one top-k, not a global sort)
    * followed by a FIXED number of Lloyd iterations. Assignment reuses
    * [[ivfAssign]]'s row-local argmax (zero shuffle); the mean update is
    * posexplode → partial-aggregated (centroid, position) sums, so
    * shuffle traffic per iteration is O(partitions × k × dim), never
    * O(rows). Empty buckets keep their previous centroid. Returns
    * (idCol = 0..k-1, vecCol) ready to feed [[ivfTopK]] /
    * [[ivfTopKMultiProbe]]; centroid means depend on float accumulation
    * order, so train once and PERSIST the centroid table — the index
    * contract anyway. */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k/$iters")
    val spark = df.sparkSession
    val base = df.select(col(idCol).cast("long").as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    var cents = base
      .orderBy(md5(col("__vid").cast("string")), col("__vid"))
      .limit(k)
      .select(row_number().over(Window.orderBy(
          md5(col("__vid").cast("string")), col("__vid")))
          .cast("long").minus(1).as(idCol),
        col("__v").as(vecCol))
    import spark.implicits._
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(base, "__vid", "__v", cents
        .withColumnRenamed(idCol, "__vid").withColumnRenamed(vecCol, "__v"),
        dim)
      val means = assigned.select(col("centroid_id"), posexplode(col("v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(col("col")).as("__s"), count(lit(1)).as("__c"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(
            struct(col("pos"), (col("__s") / col("__c")).as("m")))),
          x => x.getField("m")).as("__mean"))
        .select(col("centroid_id").as(idCol), col("__mean"))
      // pin the k updated centroids on the driver and rebuild the frame:
      // chaining the join plans instead would make iteration i's collect
      // (inside ivfAssign) re-execute every earlier iteration's
      // corpus-wide aggregate — O(iters²) corpus scans
      val pinned = cents.as("o").join(means.as("n"), Seq(idCol), "left")
        .select(col(idCol).cast("long"),
          coalesce(col("__mean"), col(s"o.$vecCol"))
            .cast("array<double>"))
        .as[(Long, Seq[Double])].collect().toSeq
      cents = pinned.toDF(idCol, vecCol)
    }
    cents
  }

  /** X76: the PERSISTED IVF index projection — (vec_id, centroid_id,
    * embedding), each row's bucket from the zero-shuffle broadcast-
    * centroid argmax ([[ivfAssign]]). The production contract mirrors
    * the X22 dedup index: write this once (partitioned by
    * `centroid_id`, see [[writeIvfIndex]]), then index NEW embedding
    * batches by calling this same function on the batch and APPENDING —
    * assignment is per-row against the FROZEN centroid table
    * ([[trainCentroids]]' persist-once contract), so increments never
    * retrain, never re-read history, and a two-batch build is
    * row-identical to one-shot (spec-proven). */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int): DataFrame =
    ivfAssign(df, idCol, vecCol, centroids, dim)
      .select(col("vec_id"), col("centroid_id"),
        col("v").as("embedding"))

  /** Write (or append) an X76 index, `partitionBy(centroid_id)` — the
    * layout that lets a query batch's bucket join dynamically prune
    * index files: with the probe side broadcast, Spark's dynamic
    * partition pruning reads ONLY the probed buckets' files, so query
    * cost scales with buckets touched, not index size. The write
    * repartitions on `centroid_id` first: without it every task writes
    * a file into every bucket directory (tasks × buckets files — 64k
    * tiny files at sf1 with 2k buckets, and the measured dominant cost),
    * with it each bucket gets ONE file per append. */
  def writeIvfIndex(index: DataFrame, path: String,
      mode: String = "append"): Unit =
    index.repartition(col("centroid_id"))
      .write.mode(mode).partitionBy("centroid_id").parquet(path)

  /** X80: MAXIMAL-MARGINAL-RELEVANCE diversified top-k (Carbonell &
    * Goldstein 1998 — public knowledge): re-rank each query's `topN`
    * exact candidates so every next pick balances relevance against
    * redundancy with what is already picked —
    * `score(i) = λ·rel(i) − (1−λ)·max_{j∈S} cos(i, j)` — the standard
    * fix for near-duplicate result lists in RAG retrieval (without it,
    * an X10-grade near-dup cluster fills all k slots with one
    * document).
    *
    * Scale shape: relevance + candidate set come from
    * [[bruteForceTopK]] (swap in [[ivfTopK]] candidates upstream at
    * index scale); the greedy loop runs per query over its BOUNDED
    * topN list (one collect_list exchange, then a pure projection —
    * the k·topN² pairwise work is a few hundred flops per query, the
    * textbook case for a tight per-row UDF, not a k-deep self-join
    * cascade). Deterministic: candidates scan in neighbor-id order
    * with strict-superiority argmax (ties → smaller id — the
    * `row_number (score DESC, id)` order the oracle uses), relevance
    * is the round-6 cosine both engines share, pairwise cosines are
    * left-to-right dot products. Output: (vec_id, rank, neighbor_id,
    * mmr_score round-6); rank 1's score is λ·rel (empty-set penalty
    * is zero). */
  def mmrTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, topN: Int, lambdaRel: Double,
      dim: Int): DataFrame = {
    require(k >= 1 && topN >= k,
      s"need 1 <= k <= topN, got k=$k topN=$topN")
    require(lambdaRel >= 0.0 && lambdaRel <= 1.0,
      s"lambdaRel must be in [0,1], got $lambdaRel")
    val top = bruteForceTopK(queries, candidates, idCol, vecCol, topN, dim)
    val cvecs = candidates.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val qvecs = queries.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val lam = lambdaRel
    // relevance is recomputed RAW inside the greedy (not the round-6
    // topK cosine): λ·rel on a 6-decimal rel lands exactly on decimal
    // half-way points, where the engines' rounding implementations
    // legitimately disagree — raw doubles keep the final round-6 off
    // the boundary almost surely, like every other cosine query
    val mmrUdf = udf { (qv: Seq[Double],
        cands: Seq[org.apache.spark.sql.Row]) =>
      val q = qv.toArray
      val arr = cands.map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray)).sortBy(_._1).toArray
      val n = arr.length
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        val m = math.min(a.length, b.length)
        while (i < m) { s += a(i) * b(i); i += 1 }
        s
      }
      val nrm = arr.map(c => math.sqrt(dot(c._2, c._2)))
      val qn = math.sqrt(dot(q, q))
      val rel = arr.indices.map(i => dot(q, arr(i)._2) / (qn * nrm(i)))
      val maxSim = new Array[Double](n)
      val taken = new Array[Boolean](n)
      val out = Seq.newBuilder[(Long, Long, Double)]
      var t = 1
      while (t <= math.min(k, n)) {
        var best = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) { // id-ascending scan: strict > keeps smaller id
          if (!taken(i)) {
            val s = lam * rel(i) - (1 - lam) * maxSim(i)
            if (s > bestScore) { bestScore = s; best = i }
          }
          i += 1
        }
        out += ((t.toLong, arr(best)._1, bestScore))
        taken(best) = true
        var j = 0
        while (j < n) {
          if (!taken(j)) {
            val c = dot(arr(j)._2, arr(best)._2) / (nrm(j) * nrm(best))
            if (c > maxSim(j)) maxSim(j) = c
          }
          j += 1
        }
        t += 1
      }
      out.result()
    }
    top.join(cvecs, "neighbor_id")
      .groupBy(col("vec_id"))
      .agg(collect_list(struct(col("neighbor_id"),
        col("__cv"))).as("__c"))
      .join(broadcast(qvecs), "vec_id")
      .select(col("vec_id"),
        explode(mmrUdf(col("__qv"), col("__c"))).as("s"))
      .select(col("vec_id"), col("s._1").as("rank"),
        col("s._2").as("neighbor_id"),
        round(col("s._3"), 6).as("mmr_score"))
  }

  /** X82: SEMI-HARD TRIPLET MINING for contrastive embedding training
    * (the FaceNet §3.2 negative-selection rule, Schroff et al. 2015 —
    * public knowledge): per anchor (query), the positive is its
    * most-similar SAME-label candidate, and negatives are the top
    * `mNeg` DIFFERENT-label candidates STRICTLY less similar than the
    * positive — "hard enough to matter, not so hard they're label
    * noise". Candidates come from the exact topN list (swap in IVF
    * candidates upstream at index scale); anchors with no same-label
    * candidate in topN yield no rows (no positive ⇒ no triplet).
    * All ranking and the semi-hard cut use the SHARED round-6 cosine,
    * with neighbor-id tie-breaks — deterministic on both engines.
    * Output: (vec_id, role 'pos'|'neg', rank — 1 for the positive,
    * 1..mNeg across negatives — neighbor_id, cosine). */
  def tripletMine(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, labelCol: String, topN: Int,
      mNeg: Int, dim: Int): DataFrame = {
    require(topN >= 2 && mNeg >= 1,
      s"need topN >= 2 and mNeg >= 1, got $topN/$mNeg")
    val top = bruteForceTopK(queries, candidates, idCol, vecCol, topN, dim)
    val qLab = queries.select(col(idCol).cast("long").as("vec_id"),
      col(labelCol).as("__ql"))
    val cLab = candidates.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).as("__cl"))
    // the top list is query-batch-bounded: broadcast it so the
    // corpus-sized candidate-label table streams through a hash join
    // instead of shuffling for a sort-merge
    val joined = broadcast(top.join(broadcast(qLab), "vec_id"))
      .join(cLab, "neighbor_id")
    val byQuery = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val pos = joined.filter(col("__ql") === col("__cl"))
      .withColumn("__rn", row_number().over(byQuery))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("neighbor_id").as("__pid"),
        col("cosine").as("__pcos"))
    val negs = joined.filter(col("__ql") =!= col("__cl"))
      .join(broadcast(pos.select(col("vec_id"), col("__pcos"))), "vec_id")
      .filter(col("cosine") < col("__pcos"))
      .withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= mNeg)
      .select(col("vec_id"), lit("neg").as("role"), col("rank"),
        col("neighbor_id"), col("cosine"))
    pos.select(col("vec_id"), lit("pos").as("role"),
        lit(1L).as("rank"), col("__pid").as("neighbor_id"),
        col("__pcos").as("cosine"))
      .unionByName(negs)
  }

  /** Compact a `batch_id=`-partitioned streamed IVF index
    * ([[graft.streaming.StreamingEvents.ivfIndexSink]]'s layout) back to
    * ONE batch directory with one file per bucket: a long-running sink
    * grows one file per bucket per batch, and listing cost eventually
    * dominates queries. Crash window, target id and ledger handling
    * follow [[graft.store.BatchStore]]; crash-window duplicates do not
    * change query results (duplicate candidates rank identically;
    * row_number keeps one) and this compaction's `distinct` absorbs
    * them. Returns the consolidated batch id. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Long = {
    val side = graft.store.BatchStore.batches(spark, indexDir,
      "compactIvfIndex",
      "a streamed IVF index (write batches via ivfIndexSink)")
    val ledger = ivfLedger(spark, indexDir)
    graft.store.BatchStore.compact(ledger, Seq(side)) { case Seq(to) =>
      writeIvfIndex(ledger.minus(spark.read.schema(ivfBatchedSchema)
          .parquet(indexDir).drop("batch_id")).distinct(),
        side.batchDir(to), mode = "overwrite")
    }.head
  }

  /** The tombstone ledger of a delete-maintained IVF index, beside the
    * index directory. */
  private[graft] def ivfLedger(spark: org.apache.spark.sql.SparkSession,
      indexDir: String) =
    graft.store.Ledger.beside(spark, indexDir, "vec_id")

  // Explicit IVF store schemas — the same footer-inference-skipping
  // discipline as the k-NN store's readKnnIndex/readKnnEdges (guide §6:
  // the layout is module-owned, so a bare spark.read.parquet pays a
  // schema-inference job per re-open for information the module already
  // knows). TWO layouts exist and both are module-written: the
  // [[writeIvfIndex]] batch table (`centroid_id=C/` at the top level)
  // and the [[graft.streaming.StreamingEvents.ivfIndexSink]] streamed
  // form (`batch_id=B/centroid_id=C/`). The first-level directory name
  // IS the layout tag — one listing at open (no manifest file, no
  // migration of existing stores) picks the pinned schema. Partition
  // columns are declared LONG, so the int-narrowing of inferred
  // partition values never reaches consumers.
  private val ivfDataFields = {
    import org.apache.spark.sql.types._
    Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = false)))
  }
  private val ivfFlatSchema = org.apache.spark.sql.types.StructType(
    ivfDataFields :+ org.apache.spark.sql.types.StructField(
      "centroid_id", org.apache.spark.sql.types.LongType))
  private val ivfBatchedSchema = org.apache.spark.sql.types.StructType(
    ivfDataFields ++ Seq(
      org.apache.spark.sql.types.StructField(
        "batch_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(
        "centroid_id", org.apache.spark.sql.types.LongType)))

  /** Schema-pinned open of an IVF index directory: reads the layout tag
    * (the first-level partition directory name) and applies the matching
    * module-owned schema; an unrecognized layout falls back to plain
    * inference rather than failing a foreign table. */
  private[graft] def openIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    graft.store.BatchStore.firstPartition(spark, indexDir) match {
      case Some(n) if n.startsWith("centroid_id=") =>
        spark.read.schema(ivfFlatSchema).parquet(indexDir)
      case Some(n) if graft.store.BatchStore.isBatch(n) =>
        spark.read.schema(ivfBatchedSchema).parquet(indexDir)
      case _ => spark.read.parquet(indexDir)
    }

  /** X191: TOMBSTONE DELETES in the persisted IVF embedding index —
    * the X188/X190 lifecycle leg for the retrieval store: a taken-down
    * embedding must stop surfacing as a neighbor, and the append-only
    * X76 index would return it forever. No recompute is needed (bucket
    * rows are independent), so a delete is ONE ledger write under the
    * [[graft.store.BatchStore]] contract: [[readIvfIndex]] anti-joins
    * it, the streaming sink fails loud on re-ingesting a tombstoned id,
    * and [[compactIvfIndex]] applies + clears it. Works for both index
    * layouts (the [[writeIvfIndex]] bucket-partitioned table and the
    * streamed `batch_id=N` form). */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, deleted: DataFrame, idCol: String,
      batchId: Long): Unit = {
    require(graft.store.BatchStore.exists(spark, indexDir),
      s"deleteFromIvfIndex: no index at $indexDir")
    val ledger = ivfLedger(spark, indexDir)
    ledger.write(ledger.keys(deleted, idCol), batchId)
  }

  /** The canonical read of a delete-maintained IVF index: the stored
    * rows minus tombstoned points. Feed the result to
    * [[ivfTopKFromIndex]] — partition pruning on `centroid_id`
    * survives the anti-join (the tombstone side is a broadcast of
    * ids, joined after the pruned scan). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    ivfLedger(spark, indexDir).minus(openIvfIndex(spark, indexDir))

  /** Top-k over a PERSISTED index for a (bounded) query batch: queries
    * are probe-assigned row-locally (same broadcast-centroid scan —
    * zero shuffle), then BROADCAST into the bucket join so the index is
    * scanned once and NEVER shuffled, with partition-pruned file reads
    * under the [[writeIvfIndex]] layout. Candidate norms are computed
    * in the scan projection (norms are derivable, so the index stays
    * minimal and append cheap). Output matches [[ivfTopK]]:
    * (vec_id, centroid_id, rk, neighbor_id, cosine); self-matches (a
    * query id also present in the index) are excluded by id. */
  def ivfTopKFromIndex(index: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, centroids: DataFrame, k: Int,
      dim: Int): DataFrame = {
    ensureNative(queries)
    val q = ivfAssign(queries, idCol, vecCol, centroids, dim)
    val cands = index.select(col("centroid_id").cast("long"),
        col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("w"))
      .withColumn("nrm_b", nNorm(col("w")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(cands, "centroid_id")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos",
        nCosine(col("v"), col("w"), col("nrm"), col("nrm_b")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      // partition-column read-back may narrow centroid_id to int; pin long
      .select(col("vec_id"), col("centroid_id").cast("long"), col("rk"),
        col("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** IVF approximate top-k: search only the query's own centroid bucket.
    * The bucket join shuffles both sides by `centroid_id` once; within a
    * bucket the pair count is bounded by bucket size. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, k: Int, dim: Int): DataFrame = {
    ensureNative(df)
    val assigned = graft.util.Caches.persistTracked(
      ivfAssign(df, idCol, vecCol, centroids, dim))
    val cands = assigned.select(col("centroid_id"),
      col("vec_id").as("neighbor_id"), col("v").as("w"), col("nrm").as("nrm_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    assigned.join(cands, "centroid_id")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos",
        nCosine(col("v"), col("w"), col("nrm"), col("nrm_b")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("centroid_id"), col("rk"),
        col("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** [[ivfAssign]]'s L2 twin: nearest centroid by EUCLIDEAN distance
    * (argmin, ties keep the lower centroid id; NaN distances — NaN
    * components — rank LAST, the ascending-order position both Spark
    * and the oracle give NaN, so a degenerate vector only lands on a
    * NaN centroid when every distance is NaN, and then on the lowest
    * id). Same zero-shuffle broadcast-centroid scan; no norm column —
    * L2 needs none. Output: (vec_id, v, centroid_id). */
  def ivfAssignL2(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    for (d <- Seq(df, centroids)) {
      val t = d.schema(idCol).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"ivfAssignL2 requires a numeric $idCol (castable to long), got $t")
    }
    val cents: Array[(Long, Array[Double])] = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
      .sortBy(_._1)
    require(cents.nonEmpty, "centroid set must be non-empty")
    val bc = spark.sparkContext.broadcast(cents)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) =>
          if (v == null) throw new IllegalArgumentException(
            s"ivfAssignL2: vector id=$id has a NULL embedding — filter or " +
              "impute null vectors before assignment")
          var best = Double.PositiveInfinity
          var bestId = cs(0)._1
          var ci = 0
          while (ci < cs.length) {
            val (cid, cv) = cs(ci)
            var s = 0.0; var j = 0
            val dn = math.min(v.length, cv.length)
            while (j < dn) {
              val d = v(j) - cv(j)
              s += d * d
              j += 1
            }
            val dist = math.sqrt(s)
            // strict < : ties and NaN both keep the earlier (lower-id)
            // centroid — (dist asc, centroid_id asc) with NaN last
            if (dist < best) { best = dist; bestId = cid }
            ci += 1
          }
          (id, v, bestId)
        }
      }
      .toDF("vec_id", "v", "centroid_id")
  }

  /** IVF approximate top-k under EUCLIDEAN distance — the scale path
    * for the X47 exact-L2 baseline, and the metric the IVF literature
    * is native to. Same one-shuffle bucket-join layout as [[ivfTopK]]:
    * every vector indexed under its [[ivfAssignL2]] bucket, searched
    * within the bucket, ranked (distance ASC, neighbor id asc); NaN
    * distances are unrankable and dropped (under asc ordering a NaN
    * would only surface when a bucket has fewer than k clean
    * candidates — filtered for parity with the oracle). Output:
    * (vec_id, centroid_id, rk, neighbor_id, distance). */
  def ivfTopKL2(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, k: Int, dim: Int): DataFrame = {
    ensureNative(df)
    val assigned = graft.util.Caches.persistTracked(
      ivfAssignL2(df, idCol, vecCol, centroids, dim))
    val cands = assigned.select(col("centroid_id"),
      col("vec_id").as("neighbor_id"), col("v").as("w"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    assigned.join(cands, "centroid_id")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("dist", nativeL2(col("v"), col("w")))
      .filter(!isnan(col("dist")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("centroid_id"), col("rk"),
        col("neighbor_id"), round(col("dist"), 6).as("distance"))
  }

  /** Embedding-cosine near-duplicate pairs WITHOUT metadata blocking:
    * IVF-bucketed approximate pair generation for corpora where no
    * blocking column exists (the case [[cosineNearDuplicates]] otherwise
    * answers with an O(n²) broadcast nested-loop scan). Each vector is
    * indexed once under its probe-0 bucket; the probe side searches its
    * top `probes` buckets, so a near-dup pair is found whenever either
    * member probes the other's bucket — multi-probe recovers most
    * boundary pairs for a bounded cost, exactly the IVF recall trade.
    * Pairs are normalized (vec_a < vec_b) and deduplicated (a pair can
    * surface via both members' probes). One shuffle on the bucket id;
    * pair fan-out bounded by probes × bucket size, never O(n²). */
  def ivfCosineNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double, dim: Int,
      probes: Int = 2): DataFrame = {
    ensureNative(df)
    val probed = graft.util.Caches.persistTracked(
      ivfAssignProbes(df, idCol, vecCol, centroids, dim, probes))
    val cands = probed.filter(col("probe") === 0)
      .select(col("centroid_id"), col("vec_id").as("vec_b"),
        col("v").as("w"), col("nrm").as("nrm_b"))
    probed.join(cands, "centroid_id")
      // keep BOTH orientations, then normalize with least/greatest: a
      // pair found only via its larger-id member's probe would be lost
      // by filtering on vec_id < vec_b before normalization. The float
      // cosine is orientation-independent (same products, same
      // accumulation order), so distinct() collapses the two rows.
      .filter(col("vec_id") =!= col("vec_b"))
      .withColumn("cos",
        nCosine(col("v"), col("w"), col("nrm"), col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(least(col("vec_id"), col("vec_b")).as("vec_a"),
        greatest(col("vec_id"), col("vec_b")).as("vec_b"),
        round(col("cos"), 6).as("cosine"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs above a threshold. With
    * `blockCols` (metadata columns near-duplicates must share — label,
    * language, source shard) the pair space is generated by an equi-join
    * on the block key: a shuffled hash join whose fan-out is bounded by
    * block size, the classic blocking strategy for pairwise comparison at
    * scale — neither side is collected or broadcast, so the corpus can be
    * arbitrarily large. Without block columns this degrades to an
    * exhaustive broadcast nested-loop pair scan — correct, but O(n²) and
    * bounded by what fits in one broadcast (driver + executor memory). */
  /** @param saltBuckets with blockCols, replicate the build side over this
    *   many deterministic salt buckets ([[graft.relational.Joins.saltedJoin]]):
    *   block keys are LOW-cardinality by design (label, language), so an
    *   unsalted block join caps its parallelism at the number of distinct
    *   blocks and a popular block becomes a straggler — salting spreads
    *   each block's pair generation over `saltBuckets` tasks with
    *   identical results. */
  def cosineNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int,
      blockCols: Seq[String] = Nil, saltBuckets: Int = 1): DataFrame = {
    ensureNative(df)
    val n = df.select((Seq(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v")) ++
        blockCols.map(col)): _*)
      .withColumn("nrm", nNorm(col("v")))
    val right = n.select((Seq(col("vec_id").as("vec_b"),
      col("v").as("w"), col("nrm").as("nrm_b")) ++
      blockCols.map(c => col(c).as(s"${c}_b"))): _*)
    val paired =
      if (blockCols.isEmpty)
        // no equi-key: exhaustive broadcast nested-loop pair scan
        n.join(broadcast(right), col("vec_id") < col("vec_b"))
      else {
        // equi-join on the block key; salted so parallelism is not capped
        // by the (low) block cardinality
        val renamed = blockCols.foldLeft(right) { (d, c) =>
          d.withColumnRenamed(s"${c}_b", c)
        }
        graft.relational.Joins
          .saltedJoin(n, renamed, blockCols, math.max(1, saltBuckets))
          .filter(col("vec_id") < col("vec_b"))
      }
    paired
      .withColumn("cos",
        nCosine(col("v"), col("w"), col("nrm"), col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("vec_a"), col("vec_b"),
        round(col("cos"), 6).as("cosine"))
  }

  /** X44: SemDeDup (Abbas et al. 2023, public knowledge) — semantic
    * CORPUS PRUNING, the keep/drop complement of the pair-listing forms
    * (X10/X30 list near-dup pairs; this decides which rows survive).
    * Every vector is assigned to its nearest centroid ([[ivfAssign]]'s
    * row-local argmax — zero shuffle); within each cluster a row is
    * dropped when some LOWER-id row of the same cluster has cosine ≥
    * `threshold` with it. Greedy-by-id is the paper's "keep one point
    * per ε-ball" made deterministic and engine-reproducible: the kept
    * set is exactly the ids with no earlier similar neighbor, and no
    * chain effects (a dropped row still disqualifies later rows — the
    * evidence join runs over ALL cluster members, matching the paper's
    * pairwise formulation, not iterative removal).
    *
    * 100 TB shape: ONE shuffle keys the within-cluster pair join on
    * `centroid_id`; pair fan-out is O(Σ bucket²), controlled by k — the
    * paper runs k ≈ n/10⁴ so buckets stay ~10⁴ rows and the quadratic
    * term is bounded per task. The dup-evidence aggregate is map-side
    * combined on the same key; the verdict join back to the assignment
    * is id-keyed. Centroids broadcast (they must fit one executor — the
    * IVF contract shared with every other index here). Degenerate rows
    * are explicitly NOT duplicate evidence: a zero-norm vector's cosine
    * is NULL (guarded before the ANSI-checked division, which would
    * otherwise throw on the zero denominator) and NaN cosines (NaN
    * vector components) are filtered — Spark and DuckDB both order NaN
    * above every number, so an unguarded `>=` would let one degenerate
    * row silently erase its whole cluster.
    *
    * Output: (vec_id, centroid_id, dup_of = lowest-id similar earlier
    * neighbor or NULL, cosine = its cosine or NULL, keep). */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double, dim: Int): DataFrame = {
    ensureNative(df)
    val assigned = graft.util.Caches.persistTracked(
      ivfAssign(df, idCol, vecCol, centroids, dim))
    val earlier = assigned.select(col("centroid_id"),
      col("vec_id").as("vec_a"), col("v").as("w"), col("nrm").as("nrm_b"))
    val evidence = assigned.join(earlier, "centroid_id")
      .filter(col("vec_a") < col("vec_id"))
      .withColumn("cos",
        when(col("nrm") =!= 0.0 && col("nrm_b") =!= 0.0,
          nCosine(col("v"), col("w"), col("nrm"), col("nrm_b"))))
      .filter(!isnan(col("cos")) && col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("vec_a"), col("cos"))).as("__d"))
      .select(col("vec_id"), col("__d.vec_a").as("dup_of"),
        round(col("__d.cos"), 6).as("cosine"))
    assigned.select(col("vec_id"), col("centroid_id"))
      .join(evidence, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** X139: EMBEDDING-CENTROID DRIFT — the embedding-space
    * distribution-shift monitor (the D5/D7 siblings watch scalars;
    * re-embedding a corpus with a new model or a shifted upstream
    * encoder moves the CENTROID first): per period-pair, the cosine
    * and L2 distance between mean vectors, with period row counts.
    * Centroid cosine ≈ 1 and L2 ≈ 0 under stability; a drop says the
    * embedding space moved and every ANN index/threshold downstream is
    * suspect.
    *
    * Determinism: elements are floor-scaled to 1e9 LONGs (exact,
    * order-free sums — a double Σx over 10⁹ rows drifts with partition
    * order); centroid components divide once; the cross-period dot/
    * norm/L2 sums are quantized-12 scaled LONGs over the DIM-bounded
    * component table.
    *
    * 100 TB: ONE pass explodes vectors to (period, pos) partial sums
    * (map-side combined, `periods × dim` result rows); every later
    * join/aggregate is bounded by periods²·dim. Output: one row per
    * unordered period pair. */
  def embeddingDrift(df: DataFrame, periodCol: Column, vecCol: Column)
      : DataFrame = {
    val el = df.select(periodCol.as("period"),
        posexplode(vecCol.cast("array<double>")).as(Seq("pos", "__x")))
      .withColumn("__sx",
        floor(col("__x") * lit(1e9) + lit(0.5)).cast("long"))
    val n = df.groupBy(periodCol.as("period"))
      .agg(count(lit(1)).as("n"))
    val comp = el.groupBy(col("period"), col("pos"))
      .agg(sum(col("__sx")).as("__ssum"))
      .join(broadcast(n), "period")
      .withColumn("__c",
        col("__ssum").cast("double") / lit(1e9) / col("n").cast("double"))
    val a = comp.select(col("period").as("period_a"), col("pos"),
      col("__c").as("__ca"), col("n").as("n_a"))
    val b = comp.select(col("period").as("period_b"), col("pos"),
      col("__c").as("__cb"), col("n").as("n_b"))
    val dotS = sum(floor(col("__ca") * col("__cb") * lit(1e12) +
      lit(0.5)).cast("long"))
    val naS = sum(floor(col("__ca") * col("__ca") * lit(1e12) +
      lit(0.5)).cast("long"))
    val nbS = sum(floor(col("__cb") * col("__cb") * lit(1e12) +
      lit(0.5)).cast("long"))
    val l2S = sum(floor((col("__ca") - col("__cb")) *
      (col("__ca") - col("__cb")) * lit(1e12) + lit(0.5)).cast("long"))
    val agg = a.join(b, Seq("pos")).filter(col("period_a") < col("period_b"))
      .groupBy(col("period_a"), col("period_b"), col("n_a"), col("n_b"))
      .agg(dotS.as("__dot"), naS.as("__na"), nbS.as("__nb"),
        l2S.as("__l2"))
    agg.select(col("period_a"), col("period_b"), col("n_a"), col("n_b"),
      graft.functions.q6((col("__dot").cast("double") / lit(1e12)) /
        (sqrt(col("__na").cast("double") / lit(1e12)) *
          sqrt(col("__nb").cast("double") / lit(1e12)))).as("cosine"),
      graft.functions.q6(sqrt(col("__l2").cast("double") / lit(1e12)))
        .as("l2"))
  }

  /** X136: SIGNED-RANDOM-PROJECTION (random-hyperplane) cosine LSH
    * near-duplicate pairs (Charikar 2002, STOC — `P[sign agree] = 1 −
    * θ/π`): each vector gets `bands` signatures of `bitsPerBand` sign
    * bits from FIXED ±1 hyperplanes; pairs sharing any band signature
    * are candidates; candidates are verified by exact cosine. The
    * cosine-metric sibling of the MinHash/Jaccard banding (X2) and the
    * metadata-free alternative to label-blocked X10 — no centroids to
    * train (unlike X30's IVF), no O(n²) scan.
    *
    * Determinism: the hyperplanes are CALLER-SUPPLIED literal ±1
    * matrices (derive them from a seeded PRNG and inline the SAME
    * literals in any oracle); each projection is the codegen'd
    * left-to-right [[nativeDot]] against a constant array — bit-equal
    * to DuckDB `list_dot_product` against the same literal list — so
    * both engines compute identical sign bits and identical buckets.
    *
    * 100 TB: signatures are one narrow map-side pass (bands·bits
    * constant-array dots inside whole-stage codegen); per band, pair
    * generation self-joins ONLY (vec_id, sig) — vectors are not
    * shuffled per band; verification joins vectors back by id. Bucket
    * skew fails loud at `maxBucketSize` (a glued bucket means the
    * planes don't separate the corpus — quadratic verify would follow;
    * raise bitsPerBand). Output: (vec_a, vec_b, cosine round-6), one
    * row per verified pair (band-deduplicated). */
  def srpNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, signs: Array[Array[Double]], bitsPerBand: Int,
      maxBucketSize: Int = 100000): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= 30,
      s"bitsPerBand must be in [1, 30], got $bitsPerBand")
    require(signs.nonEmpty && signs.length % bitsPerBand == 0,
      s"need a multiple of bitsPerBand=$bitsPerBand hyperplanes, " +
        s"got ${signs.length}")
    val bands = signs.length / bitsPerBand
    val n = withNorm(df, idCol, vecCol, signs.head.length)
    val sigCols = (0 until bands).map { b =>
      (0 until bitsPerBand).map { i =>
        val plane = signs(b * bitsPerBand + i)
        when(nativeDot(col("v"), typedlit(plane)) >= 0, 1 << i)
          .otherwise(0)
      }.reduce(_ + _).as(s"__s$b")
    }
    val sig = n.select(col("vec_id") +: col("v") +: col("nrm") +:
      sigCols: _*)
    val ids = sig.select(col("vec_id") +: (0 until bands)
      .map(b => col(s"__s$b")): _*)
    val pairs = (0 until bands).map { b =>
      val left = ids.select(col("vec_id").as("vec_a"),
        col(s"__s$b").as("__k"))
      val right = ids.select(col("vec_id").as("vec_b"),
        col(s"__s$b").as("__k"))
      // guarded by an aggregate, not a per-row window: count per sig
      left.join(right, Seq("__k")).filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
    }.reduce(_ unionByName _).distinct()
    // fail loud on glued buckets: the census is bands 1-row aggregates,
    // broadcast onto the verified pairs inside a kept column so the
    // guard cannot be pruned away
    val bucketCensus = (0 until bands).map { b =>
      ids.groupBy(col(s"__s$b")).agg(count(lit(1)).as("__n"))
        .agg(max(col("__n")).as("__mx"))
    }.reduce(_ unionByName _).agg(max(col("__mx")).as("__worst"))
    val a = sig.select(col("vec_id").as("vec_a"), col("v").as("__va"),
      col("nrm").as("__na"))
    val bSide = sig.select(col("vec_id").as("vec_b"),
      col("v").as("__vb"), col("nrm").as("__nb"))
    pairs.join(a, Seq("vec_a")).join(bSide, Seq("vec_b"))
      .crossJoin(broadcast(bucketCensus))
      .withColumn("cos", nCosine(col("__va"), col("__vb"), col("__na"),
        col("__nb")))
      .filter(col("cos") >= threshold)
      .select(
        when(col("__worst") > maxBucketSize,
          raise_error(concat(lit("srpNearDuplicates: bucket of "),
            col("__worst"),
            lit(s" vectors exceeds maxBucketSize=$maxBucketSize — " +
              "raise bitsPerBand")))).otherwise(col("vec_a")).as("vec_a"),
        col("vec_b"), round(col("cos"), 6).as("cosine"))
  }

  /** X165: LOCAL OUTLIER FACTOR (Breunig, Kriegel, Ng & Sander 2000,
    * public knowledge) — DENSITY-RELATIVE embedding-space outliers:
    * the global-distance screens (D12 MAD, X104 isotropy) miss a point
    * that is far from ITS cluster but near the corpus centroid; LOF
    * scores each point by how much sparser its neighborhood is than
    * its neighbors' (≈1 inlier, ≫1 outlier) — the "weird embeddings"
    * audit before ANN indexes and SemDeDup trust the space.
    *
    * Tie-inclusive kNN (the paper's N_k): k-distance = the k-th
    * smallest neighbor distance (row_number over (dist, id) — total
    * order), neighborhood = ALL points within it (|N| ≥ k on ties —
    * no arbitrary tie pick, so the result is deterministic);
    * reach-dist(p→o) = max(k-dist(o), d(p,o)).
    *
    * Determinism: distances come from the codegen'd `graft_l2` (bit-
    * identical to DuckDB `list_distance` — the X47 contract);
    * reach-dists floor-scale to 1e9 LONGs before the per-point sum
    * (order-free — the X152/F65 discipline); lrd = |N|·1e9/Σreach is
    * ONE division, itself floor-scaled so the LOF numerator
    * Σ lrd(o) is again an exact integer sum; LOF = Σlrd_o/(|N|·lrd_p)
    * — a fixed tree, quantized-6. A point whose neighborhood is all
    * exact duplicates (Σreach = 0) has infinite density: lrd/lof emit
    * NULL (flagged by `n_neighbors`, never a division error).
    *
    * Scale: this exact form is all-pairs O(n²) BY DESIGN — the audit
    * runs on a sample or one IVF bucket (the [[ivfAssign]] coarse
    * partition is the scale path: LOF within buckets, like SemDeDup);
    * `maxPoints` fails loud before a quadratic explosion. Everything
    * after the pair join is k-bounded windows and point-keyed
    * aggregates. Output: (id, k_dist, n_neighbors, lrd, lof). */
  def lofScores(points: DataFrame, idCol: String, vecCol: String,
      k: Int, maxPoints: Long = 100000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxPoints >= 2, s"maxPoints must be >= 2, got $maxPoints")
    ensureNative(points)
    val pts = graft.util.Caches.persistTracked(
      points.select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v")))
    val n = pts.count()
    require(n <= maxPoints,
      s"lofScores: $n points exceed maxPoints=$maxPoints — this exact " +
        "form is O(n²); sample, or run per IVF bucket")
    val a = pts.select(col("__id").as("__p"), col("__v").as("__va"))
    val b = pts.select(col("__id").as("__o"), col("__v").as("__vb"))
    val pairs = a.crossJoin(b).filter(col("__p") =!= col("__o"))
      .withColumn("__d", nativeL2(col("__va"), col("__vb")))
      .filter(!isnan(col("__d")))
      .select(col("__p"), col("__o"), col("__d"))
    lofCore(pairs, k)
  }

  /** X179: LOF PER IVF BUCKET — the documented 100 TB form of
    * [[lofScores]] actually composed: nearest-centroid assignment
    * ([[ivfAssign]]) coarse-partitions the corpus, pair generation
    * becomes a BUCKET-KEYED equi self-join (one centroid_id shuffle,
    * never an all-pairs cross join), and the exact LOF pipeline runs
    * bucket-locally — point ids are globally unique, so every
    * downstream key stays the point id and the kernel is shared
    * verbatim with the exact form.
    *
    * BUCKET-BOUNDARY CAVEAT (stated, not hidden): a point near a
    * bucket edge scores against its bucket-LOCAL neighborhood — a true
    * neighbor assigned to the adjacent bucket is invisible, so edge
    * k-distances are >= the global ones and LOF can differ from the
    * exact all-pairs score (multi-probe assignment or a halo exchange
    * would narrow the gap; SemDeDup ships the same trade). The audit
    * semantics are therefore "outlier WITHIN its coarse cell".
    *
    * Guard: fails loud when any bucket exceeds `maxBucketPoints` (the
    * per-bucket O(m²) bound — re-train more centroids or sample).
    * Output: (id, bucket_id, k_dist, n_neighbors, lrd, lof). */
  def lofScoresBucketed(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int, k: Int,
      maxBucketPoints: Long = 100000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxBucketPoints >= 2,
      s"maxBucketPoints must be >= 2, got $maxBucketPoints")
    ensureNative(points)
    val asg = graft.util.Caches.persistTracked(
      ivfAssign(points, idCol, vecCol, centroids, dim)
        .select(col("vec_id").as("__id"), col("v").as("__v"),
          col("centroid_id").as("__bk")))
    val oversize = asg.groupBy(col("__bk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketPoints)
      .limit(1).collect()
    require(oversize.isEmpty,
      s"lofScoresBucketed: bucket ${oversize.head.get(0)} holds " +
        s"${oversize.head.getLong(1)} points > maxBucketPoints=" +
        s"$maxBucketPoints — the per-bucket pair join is O(m²); train " +
        "more centroids or sample the corpus")
    val a = asg.select(col("__bk"), col("__id").as("__p"),
      col("__v").as("__va"))
    val b = asg.select(col("__bk"), col("__id").as("__o"),
      col("__v").as("__vb"))
    val pairs = a.join(b, Seq("__bk")).filter(col("__p") =!= col("__o"))
      .withColumn("__d", nativeL2(col("__va"), col("__vb")))
      .filter(!isnan(col("__d")))
      .select(col("__p"), col("__o"), col("__d"))
    lofCore(pairs, k)
      .join(asg.select(col("__id").as("id"), col("__bk").as("bucket_id")),
        "id")
      .select(col("id"), col("bucket_id"), col("k_dist"),
        col("n_neighbors"), col("lrd"), col("lof"))
      .orderBy(col("id"))
  }

  /** X181: LOF WITH A MULTI-PROBE HALO — closes [[lofScoresBucketed]]'s
    * stated bucket-boundary caveat: a point near a cell edge whose true
    * neighbor landed in the adjacent cell. Every point is assigned to
    * its top-`probes` centroids ([[ivfAssignProbes]] — probe 0 is the
    * [[ivfAssign]] primary cell), and the candidate-pair relation joins
    * probe-assignments on the cell key: two points see each other iff
    * they SHARE at least one probed cell. The relation is SYMMETRIC by
    * construction (both join sides are the same probe table), so every
    * neighbor's k-distance and lrd exist — no dropped-neighbor edge
    * case — and it is a SUPERSET of the bucketed relation (same-primary
    * pairs share their probe-0 cell), so halo k-distance ≤ bucketed
    * k-distance point-wise. A pair sharing two probed cells is
    * deduplicated (the distance is the same codegen'd `graft_l2` both
    * times — bit-equal, so `distinct` collapses it). The exact kernel
    * [[lofCore]] is shared verbatim; each point reports under its
    * PRIMARY cell.
    *
    * Semantics: "outlier within its probed neighborhood" — with
    * `probes` = nlist it degenerates to exact [[lofScores]]; the
    * remaining approximation is a true neighbor outside ALL probed
    * cells (raise `probes` to tighten, the standard multi-probe trade).
    *
    * Scale: one centroid_id shuffle of `probes×N` assignment rows; the
    * per-cell join is O(m_eff²) with m_eff ≤ probes× the primary cell
    * size, guarded EAGERLY (before the join) by `maxBucketPoints` over
    * probe-inclusive cell census — the X179 guard discipline. The
    * `distinct` shuffles the candidate-pair relation once, the same
    * order of traffic [[lofCore]]'s first window shuffles anyway.
    * Output: (id, bucket_id, k_dist, n_neighbors, lrd, lof). */
  def lofScoresHalo(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int, k: Int, probes: Int = 2,
      maxBucketPoints: Long = 100000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val asg = probeAssignGuarded(points, idCol, vecCol, centroids,
      dim, probes, maxBucketPoints, "lofScoresHalo")
    val a = asg.select(col("__bk"), col("__id").as("__p"),
      col("__v").as("__va"))
    val b = asg.select(col("__bk"), col("__id").as("__o"),
      col("__v").as("__vb"))
    // HALF-relation dedup: only (p < o) pairs are evaluated and
    // distinct-ed — the codegen L2 is bit-symmetric ((a−b)² = (b−a)²,
    // same iteration order), so re-emitting the swap afterwards is
    // exact and the dedup shuffle carries half the candidate volume
    val half = a.join(b, Seq("__bk")).filter(col("__p") < col("__o"))
      .withColumn("__d", nativeL2(col("__va"), col("__vb")))
      .filter(!isnan(col("__d")))
      .select(col("__p"), col("__o"), col("__d"))
      .distinct()
    val pairs = half.unionByName(half.select(col("__o").as("__p"),
      col("__p").as("__o"), col("__d")))
    lofCore(pairs, k)
      .join(asg.filter(col("__pr") === 0)
        .select(col("__id").as("id"), col("__bk").as("bucket_id")), "id")
      .select(col("id"), col("bucket_id"), col("k_dist"),
        col("n_neighbors"), col("lrd"), col("lof"))
      .orderBy(col("id"))
  }

  /** The shared front of the halo ANN family ([[lofScoresHalo]],
    * [[knnGraph]]): top-`probes` cell assignment, persisted, with the
    * EAGER probe-inclusive cell census failing loud BEFORE any O(m²)
    * join exists (the X179 guard discipline — the halo inflates the
    * effective cell size by up to probes×). Returns
    * (__id, __v, __nm, __pr, __bk). */
  private def probeAssignGuarded(points: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, dim: Int, probes: Int,
      maxBucketPoints: Long, op: String): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    require(maxBucketPoints >= 2,
      s"maxBucketPoints must be >= 2, got $maxBucketPoints")
    ensureNative(points)
    val asg = graft.util.Caches.persistTracked(
      ivfAssignProbes(points, idCol, vecCol, centroids, dim, probes)
        .select(col("vec_id").as("__id"), col("v").as("__v"),
          col("nrm").as("__nm"), col("probe").as("__pr"),
          col("centroid_id").as("__bk")))
    val oversize = asg.groupBy(col("__bk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketPoints)
      .limit(1).collect()
    require(oversize.isEmpty,
      s"$op: cell ${oversize.head.get(0)} holds " +
        s"${oversize.head.getLong(1)} probe-assigned points > " +
        s"maxBucketPoints=$maxBucketPoints — the per-cell pair join is " +
        "O(m²); train more centroids, lower probes, or sample")
    asg
  }

  /** X182: k-NN GRAPH PER IVF CELL — the production graph-ANN building
    * block (the HNSW-adjacent shape a Spark pipeline actually runs):
    * exact cosine k-NN EDGES computed within multi-probe IVF cells, so
    * the corpus-wide k-NN graph costs Σ m_eff² per cell instead of N².
    * The edge list (vec_id, rk, neighbor_id, cosine) is the
    * [[bruteForceTopK]] schema — the recall gate compares them directly
    * — and composes with the community operators (X85 label
    * propagation, X93 k-core) as a similarity graph over embeddings.
    *
    * Candidates are the [[lofScoresHalo]] relation: points sharing ≥ 1
    * of their top-`probes` cells see each other (symmetric; probe 0
    * alone is plain bucketing, probes = nlist is exact). The edges come
    * from the cell-local kernel [[knnTopK]]: the cosine is the SQL
    * `graft_dot(a, b) / (na * nb)` arithmetic, a neighbor met in two
    * shared cells keeps one entry, ranking is (cos desc, neighbor id)
    * per source — the brute-force tie order — and NaN cosines
    * (unrankable) are dropped, the brute-force contract.
    *
    * Scale: one centroid_id exchange of probes×N assignment rows, one
    * cell buffered per task at a time (at most `maxBucketPoints` × dim
    * doubles), one source exchange of ≤ probes×k rows per point — no
    * pair relation is ever materialized; the eager probe-inclusive
    * census fails loud before the kernel (the X179 guard discipline).
    * Output: (vec_id, rk, neighbor_id, cosine), rk ≤ k per source. */
  def knnGraph(points: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, dim: Int, k: Int, probes: Int = 2,
      maxBucketPoints: Long = 100000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val asg = probeAssignGuarded(points, idCol, vecCol, centroids,
      dim, probes, maxBucketPoints, "knnGraph")
    knnEdges(asg.select(col("__id").as("vec_id"), col("__v").as("v"),
      col("__nm").as("nrm"), col("__bk").as("centroid_id")), k)
      .orderBy(col("vec_id"), col("rk"))
  }

  /** X183: MUTUAL-kNN CLUSTERS over the [[knnGraph]] edge list — the
    * density-aware near-dup communities the flat cosine threshold
    * (X10/X35) can't give: an edge survives only if EACH endpoint
    * ranks the other in its own top-k (the shared-nearest-neighbor
    * principle, Jarvis–Patrick 1973 — public knowledge), which cuts
    * hub points that sit in everyone's top-k without reciprocity, then
    * connected components label the communities. The embedding-space
    * sibling of X17's MinHash clusters: same output contract
    * (id, cluster_id = component min-id, is_canonical), so
    * [[graft.text.Dedup.selectRepresentatives]] composes downstream
    * unchanged.
    *
    * Determinism: edges come from the deterministic [[knnGraph]]
    * (exact cosine ranking in probed cells); mutuality is a set
    * intersect of the edge list with its reverse (exact); components
    * via the deterministic min-label [[graft.graph.EntityResolution
    * .connectedComponents]]. `minCosine` thresholds the PUBLISHED
    * round-6 cosine (documented — the oracle thresholds the same
    * rounded value). Only points with ≥ 1 mutual edge appear (the X17
    * contract: non-duplicates are absent, output is duplicate-sized).
    *
    * Scale: the knnGraph cost + an edge-list intersect (≤ N·k rows) +
    * CC rounds on the mutual edges — no all-pairs anywhere. Output:
    * (vec_id, cluster_id, is_canonical). */
  def mutualKnnClusters(points: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, dim: Int, k: Int,
      probes: Int = 2, minCosine: Double = 0.0,
      maxBucketPoints: Long = 100000L): DataFrame =
    mutualClustersFromEdges(
      knnGraph(points, idCol, vecCol, centroids, dim, k, probes,
        maxBucketPoints), minCosine)

  /** The [[mutualKnnClusters]] cut + closure over an ALREADY-BUILT
    * (vec_id, rk, neighbor_id, cosine) edge list — shared verbatim by
    * the one-shot operator and the X185 maintained-store view (X187),
    * so "communities of everything ingested" equals the full-rebuild
    * communities by construction. */
  private[graft] def mutualClustersFromEdges(edgeList: DataFrame,
      minCosine: Double): DataFrame = {
    // the edge list materializes ONCE (≤ N·k rows): it feeds BOTH sides
    // of the reciprocity intersect, and when the caller hands in a whole
    // pipeline (X183: the knnGraph build; X187: the store view), an
    // unpersisted plan would execute end-to-end twice in that one job
    val edges = graft.util.Caches.persistTracked(edgeList
      .filter(col("cosine") >= minCosine)
      .select(col("vec_id").as("__a"), col("neighbor_id").as("__b")))
    val mutual = edges
      .intersect(edges.select(col("__b").as("__a"),
        col("__a").as("__b")))
      .filter(col("__a") < col("__b"))
    graft.graph.EntityResolution
      .connectedComponents(mutual, "__a", "__b")
      .select(col("v").as("vec_id"), col("component").as("cluster_id"),
        (col("v") === col("component")).as("is_canonical"))
      .orderBy(col("vec_id"))
  }

  /** The maintained k-NN store's FIXED shard count for the physical
    * layout — partitioning by the raw centroid_id looks right but is a
    * scale killer the gate caught at its first sf1 probe (exponent
    * 0.84): data-proportional centroids mean 10× data = 10× partition
    * DIRECTORIES of ever-smaller files, and the per-file metadata cost
    * turns the store linear-in-nlist. A capped shard keeps directory
    * count CONSTANT as the corpus grows; cell pruning survives as a
    * partition filter on the shards of the recomputed cells plus a
    * broadcast left-semi join on their (shard, cell) pairs.
    *
    * 32, not more: Spark lists a directory with more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * subdirectories through a listing JOB (0.3–0.6 s) each time the
    * index is opened. Stores written with another count (64 before)
    * still read correctly: every read keeps the `__shard` a row was
    * written under, and only new rows are sharded here. The edge
    * kernel's memory bound does not depend on it: one cell, at most
    * `maxBucketPoints` × dim doubles. */
  private val KnnShards = 32

  private def withShard(asg: DataFrame): DataFrame =
    asg.withColumn("__shard", pmod(col("centroid_id"), lit(KnnShards)))

  /** Writes an assignment as the store's `index/batch_id=N/__shard=S`. */
  private def writeKnnIndex(asg: DataFrame, storeDir: String,
      batchId: Long): Unit =
    graft.store.BatchStore.append(withShard(asg)
      .repartition(col("__shard")), s"$storeDir/index", batchId, "__shard")

  private def writeKnnEdges(edges: DataFrame, storeDir: String,
      batchId: Long): Unit =
    graft.store.BatchStore.append(edges, s"$storeDir/edges", batchId)

  /** The store's tombstone ledger. Deletes and increments share one
    * batch sequence, so batch N reads only the ledger before N. */
  private def knnLedger(spark: org.apache.spark.sql.SparkSession,
      storeDir: String) =
    graft.store.Ledger.within(spark, storeDir, "vec_id")

  private def knnSide(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, side: String, who: String) =
    graft.store.BatchStore.batches(spark, s"$storeDir/$side", who,
      "a knnGraphIncrement store")

  /** The one k-NN edge kernel, behind [[knnGraph]],
    * [[knnGraphIncrement]], [[knnGraphDelete]] and [[knnGraphRefresh]]:
    * the exact top-k neighbors of each point over the members of every
    * cell it is assigned to. `slice` is an assignment (vec_id, v, nrm,
    * centroid_id), one row per probed cell.
    *
    * One exchange on centroid_id, sorted by (centroid_id, vec_id), then
    * one pass that buffers ONE cell at a time. Every pair of distinct
    * ids in the cell gets the arithmetic of the SQL form
    * `graft_dot(a, b) / (na * nb)`: a left-to-right dot over the shorter
    * length, then the division, where a zero divisor is NULL, or
    * DIVIDE_BY_ZERO when the session is ANSI, as the SQL `/` is. Each
    * member keeps its top k in (cos desc NULLS LAST, neighbor id) order,
    * NaN dropped. The value is symmetric bit for bit (products commute
    * and the sum runs in index order), so each pair is scored once for
    * both ends. Duplicate rows of one id (the compaction crash window)
    * count once. One exchange on the source then merges the per-cell
    * lists: a neighbor met in two shared cells carries the same bits
    * both times and keeps one entry; the first k stay.
    *
    * `srcCells` names the cells whose members are re-ranked (None: all
    * cells). A point is emitted iff one of its cells is a source cell,
    * so the slice must hold every cell such a point probes. With
    * `sentinel`, an emitted point left with no neighbor gets one
    * `rk = 0` row ([[knnGraphDelete]]'s empty-recompute marker).
    *
    * Memory: one cell per task, at most `maxBucketPoints` × dim doubles
    * plus k slots per member. Output: (vec_id, rk, neighbor_id, cosine)
    * with the cosine unrounded; [[knnEdges]] publishes it. */
  private[graft] def knnTopK(slice: DataFrame, k: Int,
      srcCells: Option[Set[Long]] = None,
      sentinel: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = slice.sparkSession
    import spark.implicits._
    val ansi = spark.sessionState.conf.ansiEnabled
    slice.select(col("centroid_id"), col("vec_id"), col("v"), col("nrm"))
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id"), col("vec_id"))
      .as[(Long, Long, Array[Double], Double)]
      .mapPartitions(KnnCell.rank(_, k, srcCells, ansi))
      .toDF("__p", "__t", "__o", "__c")
      .repartition(col("__p"))
      .sortWithinPartitions(col("__p"), col("__c").desc,
        col("__o").asc_nulls_last)
      .as[(Long, Boolean, Option[Long], Option[Double])]
      .mapPartitions(KnnCell.merge(_, k, sentinel))
      .toDF("vec_id", "rk", "neighbor_id", "cosine")
  }

  /** [[knnTopK]] with the published cosine, round(·, 6). */
  private def knnEdges(slice: DataFrame, k: Int,
      srcCells: Option[Set[Long]] = None,
      sentinel: Boolean = false): DataFrame =
    knnTopK(slice, k, srcCells, sentinel)
      .withColumn("cosine", round(col("cosine"), 6))

  /** The two passes of [[knnTopK]]. */
  private object KnnCell {
    type Ranked = (Long, Boolean, Option[Long], Option[Double])

    /** Per cell of `rows` (sorted by cell, then id): each member's
      * top-k as (member, source cell?, neighbor, cosine) rows, and a
      * (member, true, None, None) marker for a source-cell member with
      * no neighbor in the cell. */
    def rank(rows: Iterator[(Long, Long, Array[Double], Double)], k: Int,
        srcCells: Option[Set[Long]], ansi: Boolean): Iterator[Ranked] = {
      val in = rows.buffered
      val ids = scala.collection.mutable.ArrayBuilder.make[Long]
      val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val ns = scala.collection.mutable.ArrayBuilder.make[Double]
      Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
        val cell = in.head._1
        ids.clear(); vs.clear(); ns.clear()
        var last = 0L
        while (in.hasNext && in.head._1 == cell) {
          val (_, id, v, n) = in.next()
          if (vs.isEmpty || id != last) { ids += id; vs += v; ns += n }
          last = id
        }
        cellTopK(ids.result(), vs, ns.result(), k,
          srcCells.forall(_.contains(cell)), ansi)
      }
    }

    private def cellTopK(ids: Array[Long],
        vs: scala.collection.mutable.ArrayBuffer[Array[Double]],
        ns: Array[Double], k: Int, src: Boolean,
        ansi: Boolean): Iterator[Ranked] = {
      val m = ids.length
      val cnt = new Array[Int](m)
      val topO = new Array[Long](m * k)
      val topC = new Array[Double](m * k)
      val topNull = new Array[Boolean](m * k)
      // insertion into member i's slots, (cos desc NULLS LAST, id asc)
      def offer(i: Int, o: Long, c: Double, isNull: Boolean): Unit = {
        val b = i * k
        var pos = cnt(i)
        while (pos > 0 && {
            val q = b + pos - 1
            if (isNull != topNull(q)) !isNull
            else if (isNull) o < topO(q)
            else c > topC(q) || (c == topC(q) && o < topO(q))
          }) pos -= 1
        if (pos < k) {
          var q = b + math.min(cnt(i), k - 1)
          while (q > b + pos) {
            topO(q) = topO(q - 1); topC(q) = topC(q - 1)
            topNull(q) = topNull(q - 1); q -= 1
          }
          topO(q) = o; topC(q) = c; topNull(q) = isNull
          if (cnt(i) < k) cnt(i) += 1
        }
      }
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) {
          val den = ns(i) * ns(j)
          if (den == 0.0) {
            if (ansi) divideByZero()
            offer(i, ids(j), 0.0, isNull = true)
            offer(j, ids(i), 0.0, isNull = true)
          } else {
            val a = vs(i); val b = vs(j)
            val n = math.min(a.length, b.length)
            var d = 0.0; var x = 0
            while (x < n) { d += a(x) * b(x); x += 1 }
            val c = d / den
            if (!java.lang.Double.isNaN(c)) {
              offer(i, ids(j), c, isNull = false)
              offer(j, ids(i), c, isNull = false)
            }
          }
          j += 1
        }
        i += 1
      }
      Iterator.range(0, m).flatMap { i =>
        if (cnt(i) == 0)
          if (src) Iterator.single((ids(i), true, None, None)) else Iterator.empty
        else Iterator.range(i * k, i * k + cnt(i)).map(q =>
          (ids(i), src, Some(topO(q)),
            if (topNull(q)) None else Some(topC(q))))
      }
    }

    /** Throws the error the SQL `/` raises under ANSI: the same
      * expression, evaluated over a zero divisor. */
    private def divideByZero(): Nothing = {
      import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Literal}
      Divide(Literal(1.0), Literal(0.0), EvalMode.ANSI).eval()
      throw new IllegalStateException("ANSI division by zero did not throw")
    }

    /** Per source of `rows` (sorted by source, cos desc NULLS LAST,
      * neighbor NULLS LAST): its first k distinct neighbors, ranked 1..k,
      * when one of its lists came from a source cell. */
    def merge(rows: Iterator[Ranked], k: Int, sentinel: Boolean)
        : Iterator[(Long, Long, Option[Long], Option[Double])] = {
      val in = rows.buffered
      Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
        val p = in.head._1
        var emit = false
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Option[Long], Option[Double])]
        while (in.hasNext && in.head._1 == p) {
          val (_, t, o, c) = in.next()
          emit ||= t
          if (o.isDefined && out.length < k && !out.exists(_._3 == o))
            out += ((p, out.length + 1L, o, c))
        }
        if (!emit) Iterator.empty
        else if (out.isEmpty && sentinel) Iterator.single((p, 0L, None, None))
        else out.iterator
      }
    }
  }

  /** What one maintenance call re-ranks: the (shard, cell) pairs of
    * every cell a source probes, and the touched cells whose live
    * members are the sources. */
  private final case class KnnFrontier(slice: Seq[(Long, Long)],
      touched: Set[Long])

  /** A maintenance call's discovery in ONE bounded collect over `meta`
    * (vec_id, centroid_id, __shard, __t, __live) — metadata width, no
    * vectors. A `__t` row touches its cell (a new point, or a dying
    * one); `__live` rows are the corpus after the call. Every live
    * point in a touched cell is a source, re-ranked over every cell it
    * probes. The collect holds one row per (shard, cell) the store
    * holds (≤ nlist per shard layout), with the store's own `__shard`,
    * and the O(m²) census of the re-ranked cells fails loud from it, on
    * the driver, before any pair is scored. */
  private def knnFrontier(meta: DataFrame, maxBucketPoints: Long,
      op: String): KnnFrontier = {
    val live = col("__live")
    val rows = meta
      .withColumn("__tc",
        max(col("__t")).over(Window.partitionBy(col("centroid_id"))))
      .withColumn("__aff",
        max(live && col("__tc")).over(Window.partitionBy(col("vec_id"))))
      .groupBy(col("__shard"), col("centroid_id"))
      .agg(count(when(live, 1)).as("__n"), max(col("__aff")).as("__src"),
        max(col("__t")).as("__touched"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getBoolean(4)))
    val byCell = rows.groupBy(_._2)
    val cells = byCell.filter(_._2.exists(_._4)).map { case (c, rs) =>
      c -> rs.map(_._3).sum }
    cells.find(_._2 > maxBucketPoints).foreach { case (c, n) =>
      throw new IllegalArgumentException(s"$op: cell $c holds $n " +
        s"probe-assigned points > maxBucketPoints=$maxBucketPoints — the " +
        "per-cell kernel is O(m²); train more centroids, lower probes, " +
        "or sample")
    }
    KnnFrontier(rows.filter(r => cells.contains(r._2)).map(r => (r._1, r._2))
      .toSeq, byCell.filter(_._2.exists(_._5)).keySet)
  }

  /** The rows of `data` (with `__shard`) in the frontier's (shard, cell)
    * pairs: a partition filter on the shards the pairs name (at most
    * the shard count, whatever the corpus), then a broadcast left-semi
    * join on the pairs — the plan carries no list of cell ids. */
  private def knnSlice(data: DataFrame, f: KnnFrontier): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    data.filter(col("__shard").isin(f.slice.map(_._1).distinct: _*))
      .join(broadcast(f.slice.toDF("__shard", "centroid_id")),
        Seq("__shard", "centroid_id"), "left_semi")
  }

  /** X185: ONE increment of the MAINTAINED k-NN graph — the production
    * shape the one-shot [[knnGraph]] lacks: a growing embedding corpus
    * updates the edge list WITHOUT a full rebuild. The new batch is
    * assigned to the FROZEN centroid table (the X76 incremental-index
    * discipline: assignment-only growth, no re-training) and appended
    * to a persisted assignment index under
    * `<store>/index/batch_id=N/__shard=S` (S = centroid_id mod a FIXED
    * shard count — constant directory count at any corpus size); then
    * edges are recomputed ONLY for affected sources — every point (old
    * or new) probing a cell the batch touched — over exactly their
    * probed cells, and written under `<store>/edges/batch_id=N`.
    *
    * Exactness (the rebuild-parity contract, spec-proven): a source
    * outside every touched cell shares no cell with any new point, so
    * its candidate set — hence its exact top-k — is unchanged; an
    * affected source is re-ranked over its COMPLETE candidate set (the
    * slice covers every cell it probes) by the same kernel as
    * [[knnGraph]] ([[knnTopK]]) — so
    * [[graft.streaming.StreamingEvents.knnGraphView]] (latest batch per
    * source) is bit-equal to a full [[knnGraph]] rebuild over the union
    * corpus.
    *
    * Scale: discovery is one bounded collect over (vec_id, centroid_id,
    * __shard) — column-pruned metadata width, no vectors — that also
    * runs the probe-inclusive census guard, failing loud BEFORE any
    * pair is scored (the X179 discipline). Vector bytes are read solely
    * from the recomputed cells: a partition filter on their shards plus
    * a broadcast left-semi join on their (shard, cell) pairs. The
    * kernel holds one cell per task, at most `maxBucketPoints` × dim
    * doubles; cost per batch is Σ m² over recomputed cells, not N².
    * Replays re-read only EARLIER batches and overwrite their own
    * directories: idempotent. */
  def knnGraphIncrement(newPoints: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, dim: Int, k: Int,
      storeDir: String, batchId: Long, probes: Int = 2,
      maxBucketPoints: Long = 100000L): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val spark = newPoints.sparkSession
    ensureNative(newPoints)
    val ledger = knnLedger(spark, storeDir)
    // persisted LOCALLY and released in the finally below — the
    // streaming sink invokes this once per micro-batch with no harness
    // release point, so session-lifetime tracking
    // (Caches.persistTracked) would pin one cached plan per batch
    // forever on a long-running stream
    val newA =
      ivfAssignProbes(newPoints, idCol, vecCol, centroids, dim, probes)
        .persist()
    try {
      // the resurrection guard runs BEFORE the index write: a refused
      // batch must leave no rows for later batches to read as corpus
      ledger.guard(newA, "vec_id", "knnGraphIncrement",
        "compactKnnStore (or knnGraphRefresh)", Some(batchId))
      writeKnnIndex(newA, storeDir, batchId)
      // prior corpus = strictly earlier batches (replay-idempotent),
      // minus earlier tombstones ([[knnGraphDelete]]), each row under
      // the __shard it was written with; the index dir always exists —
      // this batch just wrote to it
      val prior = ledger.minus(readKnnIndex(spark, storeDir)
        .filter(col("batch_id") < batchId)
        .drop("batch_id"), Some(batchId))
      val all = prior.withColumn("__t", lit(false))
        .unionByName(withShard(newA).withColumn("__t", lit(true)))
      val f = knnFrontier(all.select(col("vec_id"), col("centroid_id"),
        col("__shard"), col("__t"), lit(true).as("__live")),
        maxBucketPoints, "knnGraphIncrement")
      writeKnnEdges(knnEdges(knnSlice(all, f), k, Some(f.touched)),
        storeDir, batchId)
    } finally newA.unpersist(true)
    ()
  }

  // Explicit store schemas: the maintained-store layout is module-owned
  // and fixed, so every read skips the parquet footer-inference job a
  // bare spark.read.parquet pays per call — the lifecycle composites
  // re-open these paths several times per maintenance step and the
  // saved jobs add up (guide §1.2: per-task/per-job overhead after the
  // algorithm is right). Partition columns (batch_id, __shard) are
  // declared so directory discovery casts instead of inferring.
  private val knnIndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = false)),
      StructField("nrm", DoubleType),
      StructField("probe", IntegerType),
      StructField("centroid_id", LongType),
      StructField("__shard", LongType),
      StructField("batch_id", LongType)))
  }
  private val knnEdgesSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("rk", LongType),
      StructField("neighbor_id", LongType),
      StructField("cosine", DoubleType),
      StructField("batch_id", LongType)))
  }

  /** Schema-pinned read of a maintained store's assignment index. */
  private[graft] def readKnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.schema(knnIndexSchema).parquet(s"$storeDir/index")

  /** Schema-pinned read of a maintained store's edge side. */
  private[graft] def readKnnEdges(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.schema(knnEdgesSchema).parquet(s"$storeDir/edges")

  /** X188: TOMBSTONE DELETES in the maintained k-NN store — production
    * corpora shrink (takedowns, dedup purges), and an append-only
    * store would serve a removed document's neighbors forever. One
    * delete batch: the dying ids' assignments name the touched cells;
    * edges are recomputed for every SURVIVING source probing a touched
    * cell (any source holding a stale edge to a deleted neighbor
    * shares a probed cell with it, so the touched-cell frontier covers
    * exactly the stale rows) over its complete candidate set from the
    * surviving index; the ids land in the store's
    * [[graft.store.Ledger]], which [[knnGraphIncrement]] and the
    * published view anti-join.
    *
    * A source recomputed to EMPTY (its last co-bucketed neighbor died)
    * writes a `rk = 0` SENTINEL row — "latest batch per source" alone
    * cannot express "now has no edges", and without the sentinel the
    * view would resurrect the stale pre-delete rows. The view filters
    * `rk >= 1` after latest-batch selection.
    *
    * Exactness (rebuild-parity, spec-proven + the q_x188 DuckDB
    * oracle): the view after a delete equals a full [[knnGraph]]
    * rebuild over corpus-minus-deleted. Replays re-read only earlier
    * batches and overwrite their own directories: idempotent. The
    * ledger is written AFTER the edges commit: the view must never
    * trust state before the guarded write succeeds. Deleting an
    * unknown id is a no-op tombstone.
    *
    * Scale: discovery (touched cells, recomputed cells and the O(m²)
    * census, which fails loud on the driver) is ONE bounded collect
    * over metadata width, ≤ nlist rows; the recompute reads the
    * affected sources' cells only (shard partition filter plus a
    * broadcast left-semi join on (shard, cell)), never N², through the
    * [[knnTopK]] kernel: one cell per task, at most `maxBucketPoints` ×
    * dim doubles. */
  def knnGraphDelete(deleted: DataFrame, idCol: String,
      storeDir: String, batchId: Long, k: Int,
      maxBucketPoints: Long = 100000L): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = deleted.sparkSession
    val ledger = knnLedger(spark, storeDir)
    val del = ledger.keys(deleted, idCol).persist()
    try {
      val index = ledger.minus(readKnnIndex(spark, storeDir)
        .filter(col("batch_id") < batchId)
        .drop("batch_id"), Some(batchId))
      // a dying point touches every cell it was assigned to; the
      // survivors there are the sources
      val f = knnFrontier(index
        .select(col("vec_id"), col("centroid_id"), col("__shard"))
        .join(del.withColumn("__t", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("centroid_id"), col("__shard"),
          coalesce(col("__t"), lit(false)).as("__t"),
          col("__t").isNull.as("__live")),
        maxBucketPoints, "knnGraphDelete")
      if (f.touched.nonEmpty)
        writeKnnEdges(knnEdges(knnSlice(index.join(del, Seq("vec_id"),
          "left_anti"), f), k, Some(f.touched), sentinel = true),
          storeDir, batchId)
      ledger.write(del, batchId)
    } finally del.unpersist(true)
    ()
  }

  /** Each surviving source's edges from the LATEST batch that
    * recomputed it, tombstoned sources removed — the store's published
    * edge set, shared by [[graft.streaming.StreamingEvents.knnGraphView]]
    * and [[compactKnnStore]]. Deleted NEIGHBORS need no handling here:
    * any source holding a stale edge to a deleted point shared a probed
    * cell with it, so the delete recomputed that source's rows. The
    * `rk = 0` rows are [[knnGraphDelete]]'s empty-recompute sentinels:
    * they win the latest-batch selection (masking the stale pre-delete
    * rows) and are then dropped. */
  private[graft] def knnLatestEdges(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    // latest batch per source via ONE window over ONE scan — a
    // groupBy(max) + join-back would scan the edge store twice and
    // shuffle twice for the same row set
    knnLedger(spark, storeDir).minus(readKnnEdges(spark, storeDir))
      .withColumn("__mx",
        max(col("batch_id")).over(Window.partitionBy(col("vec_id"))))
      .filter(col("batch_id") === col("__mx"))
      .filter(col("rk") >= 1)
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        col("cosine"))

  /** Compact a [[knnGraphIncrement]]/[[knnGraphDelete]]-maintained
    * store back to ONE batch directory per side and ZERO tombstones.
    * The store grows one `index/batch_id=N` and `edges/batch_id=N`
    * directory per micro-batch FOREVER, and the view lists every one of
    * them — linear-in-batch-count metadata cost that the sf-probe cannot
    * see (it scales rows, not batch count; the r15 verdict's exact
    * warning). Compaction collapses: index → surviving assignments
    * (tombstones applied, crash-window duplicates absorbed by
    * `distinct`); edges → [[knnLatestEdges]] (`rk = 0` sentinels
    * dropped — with pre-sentinel history gone they mask nothing).
    * Crash window, target ids and ledger handling follow
    * [[graft.store.BatchStore]]; after a crash the old edge directories
    * outrank the consolidated one per source with IDENTICAL rows, and
    * [[knnGraphIncrement]]'s `batch_id < N` prior-corpus read keeps
    * working unchanged. Returns the consolidated edges batch id. */
  def compactKnnStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Long = {
    val ledger = knnLedger(spark, storeDir)
    val sides = Seq("index", "edges")
      .map(knnSide(spark, storeDir, _, "compactKnnStore"))
    graft.store.BatchStore.compact(ledger, sides) { case Seq(idxTo, edgeTo) =>
      writeKnnIndex(ledger.minus(readKnnIndex(spark, storeDir)
        .drop("batch_id")).drop("__shard").distinct(), storeDir, idxTo)
      writeKnnEdges(knnLatestEdges(spark, storeDir), storeDir, edgeTo)
    }.last
  }

  /** CENTROID-REFRESH EPOCH for the maintained k-NN store (the third
    * lifecycle leg after [[knnGraphDelete]] and [[compactKnnStore]]):
    * the frozen-centroid contract is right for increments, but under
    * real drift the partition quality decays silently — new points
    * crowd a few cells, recall erodes. A refresh re-assigns the ENTIRE
    * surviving corpus (read back from the store's own index — vectors
    * live there) to `newCentroids`, rebuilds the full edge list with
    * the [[knnGraph]] kernel ([[knnTopK]]), and commits both sides through
    * the [[graft.store.BatchStore]] compaction protocol (rebased
    * `batch_id=<min-1>` directories, ledger cleared). When
    * `recallSample > 0` the epoch SELF-VERIFIES: view top-k
    * recall for a deterministic source sample is re-measured against
    * exact brute-force over the surviving corpus and must reach
    * `recallFloor`, else the refresh fails loud (directories are
    * already consistent — the rebuilt store IS the failed evidence).
    *
    * Crash-safety note: unlike compaction, a refresh changes the
    * centroid SPACE, so a crash between the index write and the old-
    * directory deletes must be repaired by re-running the refresh
    * (document contract) — the view stays consistent throughout (old
    * edge dirs outrank the rebased one until they are deleted, then
    * the new epoch is visible atomically per source). Run while the
    * sink is idle. Returns the rebased edges batch id.
    *
    * File-layout note: the rebuilt `<store>/edges` rows are written in
    * shuffle order — NOT the one-shot [[knnGraph]]'s (vec_id, rk) sort
    * (a pre-write global orderBy is one whole extra exchange + sort for
    * a property no consumer needs: row order inside the store carries
    * no meaning, and the published views re-sort). Any future direct
    * reader of the edge files must not rely on file order.
    *
    * Scale: the corpus is assigned once (a row-local scan against the
    * broadcast centroids) and that cached assignment feeds the index
    * write, the census guard (one bounded collect, failing loud on the
    * driver before any pair is scored) and the edge rebuild, which is
    * one centroid_id exchange and one source exchange through the
    * kernel: one cell per task, at most `maxBucketPoints` × dim
    * doubles. */
  def knnGraphRefresh(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, newCentroids: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, probes: Int = 2,
      maxBucketPoints: Long = 100000L, recallFloor: Double = 0.0,
      recallSample: Int = 0): Long = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sides = Seq("index", "edges")
      .map(knnSide(spark, storeDir, _, "knnGraphRefresh"))
    val cents = newCentroids.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val corpus = knnStoreCorpus(spark, storeDir).persist()
    var asg: DataFrame = null
    try {
      val edgeTo = graft.store.BatchStore.compact(knnLedger(spark, storeDir),
          sides, force = true) { case Seq(idxTo, edgeTo) =>
        // the corpus is assigned to the new centroids exactly ONCE: the
        // index write and the edge rebuild share the persisted
        // assignment (the old shape ran ivfAssignProbes twice — once
        // for the index, once inside knnGraph)
        asg = ivfAssignProbes(corpus, "vec_id", "v", cents, dim, probes)
          .persist()
        writeKnnIndex(asg, storeDir, idxTo)
        // the one-shot knnGraph's O(m²) census guard, over the shared
        // assignment (one job on the cache); same failure contract
        val over = asg.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucketPoints)
          .limit(1).collect()
        require(over.isEmpty,
          s"knnGraphRefresh: cell ${over.head.get(0)} holds " +
            s"${over.head.getLong(1)} probe-assigned points > " +
            s"maxBucketPoints=$maxBucketPoints — the per-cell kernel " +
            "is O(m²); train more centroids, lower probes, or sample")
        writeKnnEdges(knnEdges(asg, k), storeDir, edgeTo)
      }.last
      if (recallSample > 0) {
        // deterministic sample: the recallSample smallest source ids —
        // reproducible across reruns, no RNG in the gate
        val sample = corpus.orderBy(col("vec_id")).limit(recallSample)
        val truth = bruteForceTopK(sample, corpus, "vec_id", "v", k, dim)
          .select(col("vec_id"), col("neighbor_id"))
        val got = readKnnEdges(spark, storeDir)
          .filter(col("batch_id") === edgeTo)
          .join(sample.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("neighbor_id"))
        val hit = truth.join(got, Seq("vec_id", "neighbor_id")).count()
        val tot = truth.count()
        val recall = if (tot == 0) 1.0 else hit.toDouble / tot
        require(recall >= recallFloor,
          f"knnGraphRefresh: post-refresh recall $recall%.3f < floor " +
            f"$recallFloor%.3f over $recallSample sampled sources — " +
            "the new centroid set degrades the graph; retrain with " +
            "more centroids or higher probes")
      }
      edgeTo
    } finally {
      corpus.unpersist(true)
      if (asg != null) asg.unpersist(true)
      ()
    }
  }

  /** The surviving (vec_id, v) corpus of a maintained store, read back
    * from its own index (vectors live there), tombstones applied —
    * one row per point (multi-probe rows collapse). */
  private[graft] def knnStoreCorpus(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    knnLedger(spark, storeDir).minus(readKnnIndex(spark, storeDir)
      .select(col("vec_id"), col("v")).dropDuplicates("vec_id"))

  /** [[knnGraphRefresh]] gated on a MEASURED drift signal instead of a
    * schedule: the store's surviving corpus is compared to the frozen
    * `reference` snapshot dimension-by-dimension ([[embeddingDimDrift]]
    * — X139's standardized mean shift), and the epoch runs only when
    * any dimension's |std_shift| reaches `sigmaThreshold`. Returns
    * whether a refresh ran, so callers can log/alert on the decision.
    * The drift scan reads only the store's index (metadata + vectors,
    * no edge IO); the refresh itself is [[knnGraphRefresh]] verbatim,
    * including the optional recall re-measure. */
  def knnGraphRefreshIfDrifted(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, reference: DataFrame, refVecCol: String,
      newCentroids: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, sigmaThreshold: Double, probes: Int = 2,
      maxBucketPoints: Long = 100000L, recallFloor: Double = 0.0,
      recallSample: Int = 0): Boolean = {
    require(sigmaThreshold > 0,
      s"sigmaThreshold must be > 0, got $sigmaThreshold")
    val corpus = knnStoreCorpus(spark, storeDir)
    val drift = embeddingDimDrift(
      reference.select(col(refVecCol).as("v")), corpus.select(col("v")),
      "v", dim)
    val worst = drift
      .agg(max(abs(coalesce(col("std_shift"), lit(0.0)))).as("__w"))
      .head().getDouble(0)
    if (worst >= sigmaThreshold) {
      knnGraphRefresh(spark, storeDir, newCentroids, idCol, vecCol,
        dim, k, probes, maxBucketPoints, recallFloor, recallSample)
      true
    } else false
  }

  /** The shared exact-LOF kernel over a (point, other, distance) pair
    * relation — [[lofScores]] feeds it the guarded all-pairs join,
    * [[lofScoresBucketed]] the bucket-keyed one. */
  private def lofCore(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("__p"))
      .orderBy(col("__d"), col("__o"))
    val ranked = graft.util.Caches.persistTracked(
      pairs.withColumn("__rn", row_number().over(w)))
    val kdist = ranked.filter(col("__rn") <= k)
      .groupBy(col("__p")).agg(max(col("__d")).as("__kd"))
    // tie-inclusive neighborhood: everything within the k-distance
    val nbrs = ranked.join(kdist, "__p")
      .filter(col("__d") <= col("__kd"))
      .select(col("__p"), col("__o"), col("__d"))
    val reach = nbrs
      .join(kdist.select(col("__p").as("__o"), col("__kd").as("__kdo")),
        "__o")
      .withColumn("__reach", greatest(col("__d"), col("__kdo")))
      .withColumn("__rs",
        floor(col("__reach") * lit(1e9) + lit(0.5)).cast("long"))
    val lrd = reach.groupBy(col("__p"))
      .agg(count(lit(1)).as("__nn"), sum(col("__rs")).as("__sr"))
      .withColumn("__lrd", when(col("__sr") > 0,
        col("__nn").cast("double") * lit(1e9) /
          col("__sr").cast("double")))
      .withColumn("__lrds", floor(col("__lrd") * lit(1e9) + lit(0.5))
        .cast("long"))
    // scaled lrd can reach ~1e18: the neighbor sum goes DECIMAL(38,0);
    // a neighbor with NULL lrd (an infinite-density duplicate cluster)
    // makes the LOF ratio ill-defined — censused, published NULL
    val lofNum = nbrs
      .join(lrd.select(col("__p").as("__o"), col("__lrds").as("__lo")),
        "__o")
      .groupBy(col("__p")).agg(
        sum(col("__lo").cast("decimal(38,0)")).as("__slo"),
        sum(when(col("__lo").isNull, 1L).otherwise(0L)).as("__nullNbr"))
    import graft.functions.q6
    lrd.join(lofNum, "__p")
      .join(kdist, "__p")
      .select(col("__p").as("id"), q6(col("__kd")).as("k_dist"),
        col("__nn").as("n_neighbors"),
        q6(col("__lrd")).as("lrd"),
        q6(when(col("__lrds").isNotNull && col("__nullNbr") === 0L,
          col("__slo").cast("double") /
            (col("__nn").cast("double") * col("__lrds").cast("double"))))
          .as("lof"))
      .orderBy(col("id"))
  }

  /** X178: SIMPLIFIED SILHOUETTE per cluster (Hruschka et al. 2004's
    * centroid form of Rousseeuw 1987 — public knowledge):
    * `s = (b − a)/max(a, b)` with a = distance to the ASSIGNED
    * centroid, b = distance to the nearest OTHER centroid — the
    * clustering-quality dial for an IVF/k-means layout that the true
    * silhouette cannot give at scale (it prices all point PAIRS; this
    * prices points × k centroids, one broadcast join — the only
    * silhouette shape that survives 100 TB).
    *
    * Determinism: distances come from the codegen'd `graft_l2`
    * (bit-equal to DuckDB's list_distance — the X47 contract);
    * assignment and runner-up come from sorting the k-BOUNDED
    * per-point (distance, centroid) list (ties break by centroid id);
    * per-point s floor-scales to a 1e9 LONG so the per-cluster mean is
    * an order-free integer sum with two pinned final divisions (q6).
    * A point equidistant-zero to two centroids (duplicate centroids)
    * scores 0, never NaN. Output: one row per cluster —
    * (cluster_id, n_points, mean_silhouette). */
  def simplifiedSilhouette(points: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, centroidIdCol: String,
      centroidVecCol: String, maxCentroids: Int = 1024): DataFrame = {
    ensureNative(points)
    val cs = centroids.select(
      col(centroidIdCol).cast("long").as("__cid"),
      col(centroidVecCol).cast("array<double>").as("__cv"))
    val k = cs.count()
    require(k >= 2, s"simplifiedSilhouette: need >= 2 centroids, got $k")
    require(k <= maxCentroids,
      s"simplifiedSilhouette: $k centroids > maxCentroids=$maxCentroids")
    val pts = points.select(col(idCol).as("__pid"),
      col(vecCol).cast("array<double>").as("__pv"))
    val dists = pts.crossJoin(broadcast(cs))
      .select(col("__pid"), col("__cid"),
        nativeL2(col("__pv"), col("__cv")).as("__d"))
    val perPoint = dists.groupBy(col("__pid"))
      .agg(sort_array(collect_list(struct(col("__d"), col("__cid"))))
        .as("__s"))
      .select(
        element_at(col("__s"), 1).getField("__cid").as("cluster_id"),
        element_at(col("__s"), 1).getField("__d").as("__a"),
        element_at(col("__s"), 2).getField("__d").as("__b"))
    val sil = when(greatest(col("__a"), col("__b")) > 0,
      (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
      .otherwise(lit(0.0))
    import graft.functions.q6
    perPoint
      .withColumn("__sl", floor(sil * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("__sl").cast("decimal(38,0)")).as("__sum"))
      .select(col("cluster_id"), col("n_points"),
        q6(col("__sum").cast("double") / lit(1e9) /
          col("n_points").cast("double")).as("mean_silhouette"))
  }

  /** X180: PER-DIMENSION EMBEDDING DRIFT between two corpus snapshots
    * — the "did the embedding space move, and WHERE" diagnostic every
    * re-embedding / re-crawl cycle needs before ANN indexes and
    * SemDeDup thresholds are trusted across snapshots: a global
    * centroid-cosine hides a large shift confined to a few
    * dimensions, and a KS per dimension costs 2·dim rank passes.
    * Here: ONE posexplode aggregate per side (map-side combined,
    * dim-bounded output), per-dimension mean shift plus the
    * pooled-σ standardized shift.
    *
    * Exactness: components are DEFINED on the 1e-6 grid
    * (`⌊x·10⁶+½⌋` LONGs, the wassersteinDrift discipline); Σx and
    * Σx² are exact DECIMAL; means, pooled population σ and the
    * standardized shift are fixed IEEE trees over the exact moments,
    * published q6. Vectors of the wrong length fail loud (a silent
    * posexplode of a ragged vector would shift every later
    * dimension's moments). Zero pooled σ ⇒ NULL std_shift. Output:
    * one row per dimension — (dim_idx, n_ref, n_cur, mean_ref,
    * mean_cur, mean_diff, pooled_sd, std_shift). */
  def embeddingDimDrift(reference: DataFrame, current: DataFrame,
      vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // empty-population guard (the categoricalDrift/andersonDarlingDrift
    // convention): the dim_idx inner join would turn a MISSING snapshot
    // into a silently empty "no drift" readout. isEmpty is a limit(1)
    // probe — no shuffle, no full scan.
    require(!reference.isEmpty,
      "embeddingDimDrift: empty reference snapshot")
    require(!current.isEmpty,
      "embeddingDimDrift: empty current snapshot")
    val D = "decimal(38,0)"
    def moments(df: DataFrame, nName: String, sName: String,
        qName: String): DataFrame = {
      val guarded = when(col(vecCol).isNull || size(col(vecCol)) =!= dim,
        raise_error(lit(s"embeddingDimDrift: vector is NULL or not " +
          s"length $dim")))
        .otherwise(col(vecCol).cast("array<double>"))
      df.select(posexplode(guarded).as(Seq("dim_idx", "__x")))
        .select(col("dim_idx").cast("long").as("dim_idx"),
          floor(col("__x") * lit(1e6) + lit(0.5)).cast("long").as("__xm"))
        .groupBy(col("dim_idx"))
        .agg(count(lit(1)).as(nName),
          sum(col("__xm").cast(D)).as(sName),
          // square in DECIMAL: a micro component past ~3e3 would wrap
          // the LONG square silently (and diverge from the HUGEINT
          // oracle) — the oneWayAnova moment discipline
          sum(col("__xm").cast(D) * col("__xm").cast(D)).as(qName))
    }
    val joined = moments(reference, "n_ref", "__sr", "__qr")
      .join(moments(current, "n_cur", "__sc", "__qc"), Seq("dim_idx"))
    val nr = col("n_ref").cast("double")
    val nc = col("n_cur").cast("double")
    val meanR = col("__sr").cast("double") / lit(1e6) / nr
    val meanC = col("__sc").cast("double") / lit(1e6) / nc
    // WITHIN-group pooled population variance (Cohen's-d style): the
    // mixture variance of ref∪cur would include the mean shift itself
    // and cap the standardized shift at √(N²/(n_r·n_c)) no matter how
    // far the mean moved — the scale must be the within-snapshot
    // spread only. SSW_g = Q_g − S_g²/n_g from the exact moments;
    // micro grid, then /1e6 to units.
    val ssw = (col("__qr").cast("double") -
        col("__sr").cast("double") * col("__sr").cast("double") / nr) +
      (col("__qc").cast("double") -
        col("__sc").cast("double") * col("__sc").cast("double") / nc)
    val sd = sqrt(greatest(ssw / (nr + nc), lit(0.0))) / lit(1e6)
    import graft.functions.q6
    joined.select(col("dim_idx"), col("n_ref"), col("n_cur"),
      q6(meanR).as("mean_ref"), q6(meanC).as("mean_cur"),
      q6(meanC - meanR).as("mean_diff"),
      q6(sd).as("pooled_sd"),
      q6(when(sd > 0, (meanC - meanR) / sd)).as("std_shift"))
      .orderBy(col("dim_idx"))
  }
}
