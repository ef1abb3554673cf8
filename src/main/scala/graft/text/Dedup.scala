package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication: exact, MinHash+LSH, SimHash
  * (32/64-bit, optionally idf-weighted) and exact n-gram-Jaccard
  * similarity joins, plus the persisted dedup index backing incremental
  * cross-corpus dedup.
  *
  * These extend the reference's feature-engineering surface toward
  * training-data pipelines (north-star scope; the reference itself has no
  * text operators). Design points for 100 TB:
  *
  *  - Signatures are computed in ONE projection over the corpus — no
  *    explode, no shuffle. SimHash, minhash and shingle construction run
  *    as tight per-row UDF loops, the measured-fast form (Catalyst
  *    interprets higher-order-function lambdas per element — the
  *    expression forms measured ~10× slower).
  *  - Candidate generation is LSH banding: explode to (band, band_hash)
  *    and self-join on the band hash; signatures RIDE the banding rows so
  *    verification happens inside the join stage. Both self-join sides
  *    are the identical subtree, so ReuseExchange hashes the corpus once;
  *    join fan-out is bounded by bucket size, never O(n²).
  *  - The exact Jaccard join is prefix-filtered (AllPairs/PPJoin family):
  *    only each document's rarest shingles are indexed, so a stop-phrase
  *    shared by m documents can no longer create an m²/2 join blow-up;
  *    candidates are verified by overlap COUNT — no shingle array is ever
  *    shipped between stages.
  *  - All hashes are md5-derived so an independent engine (the DuckDB
  *    oracle) reproduces every signature bit-for-bit; the idf-weighted
  *    variant is the one spec-only exception (ln rounding).
  *  - Operator-internal persists register with [[graft.util.Caches]];
  *    callers release them after materializing results.
  */
object Dedup {

  /** Whitespace tokens of the lower-cased text. */
  def words(text: Column): Column = split(lower(text), "\\s+")

  /** Word n-gram shingles (space-joined); empty array when the document has
    * fewer than `n` words.
    *
    * A tight UDF over the (codegen'd) split words, not a `transform`
    * lambda: Catalyst interprets HOF lambdas per element, and the
    * slice+concat_ws closure measured ~10µs per shingle — it was the
    * dominant cost of every shingle consumer (minhash, Jaccard,
    * fingerprint) once the hashing itself got cheap. The strings produced
    * are identical, so the DuckDB oracle mirror is unchanged. */
  def shingles(text: Column, n: Int): Column = shinglesUdf(n)(words(text))

  private def shinglesUdf(n: Int) = udf { ws: Seq[String] =>
    if (ws == null || ws.length < n) Seq.empty[String]
    else {
      val out = new Array[String](ws.length - n + 1)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(ws(i + j))
          j += 1
        }
        out(i) = sb.toString
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }

  /** Largest prime below 2^32 — modulus of the minhash permutation family.
    * Fits comfortably in BIGINT arithmetic in any engine. */
  val MinhashPrime = 4294967291L

  /** MinHash signature: `k` permutations derived from ONE md5 per shingle.
    * The digest's first and second 4 bytes become 32-bit integers (x1, x2)
    * and permutation `ki` is `(x1 + ki·x2) mod 4294967291` — the classic
    * affine `(a + k·b) mod p` family over a shared base hash. One digest
    * plus k multiply-adds per shingle replaces the previous k full digests
    * (which burned ~8M md5 evaluations at sf0.1 — the dominant cost).
    *
    * Implemented as a tight UDF loop over the shingle array: the
    * pure-expression form interprets a lambda per (shingle, k) pair, ~10×
    * slower (see memory/bench notes). All arithmetic stays below 2^36, so
    * the DuckDB oracle reproduces it exactly in 64-bit integers (hex
    * digits → x1/x2 via digit-weight sums). Min over the shingle multiset
    * equals min over the set, so no distinct pass is needed. */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    minhashUdf(k)(shingleArr)

  private def updateMins(mins: Array[Long], d: Array[Byte], k: Int): Unit = {
    val x1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val x2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    var ki = 0
    while (ki < k) {
      val h = (x1 + ki * x2) % MinhashPrime
      if (h < mins(ki)) mins(ki) = h
      ki += 1
    }
  }

  private def minhashUdf(k: Int) = udf { shingles: Seq[String] =>
    val mins = Array.fill(k)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    shingles.foreach { s =>
      updateMins(mins, md.digest(s.getBytes("UTF-8")), k)
    }
    mins.toSeq
  }

  /** Weighted-minhash signature over the n-gram SHINGLE MULTISET via
    * the classic integer-weight reduction (Gollapudi & Panigrahi 2006,
    * public knowledge): the j-th copy of shingle t hashes as
    * md5(t \u2295 0x01 \u2295 j), so two documents' signature agreement
    * estimates the WEIGHTED Jaccard \u03a3 min(tf_a, tf_b) / \u03a3 max(tf_a,
    * tf_b) \u2014 the right near-dup measure when repetition matters
    * (boilerplate-heavy and template pages differ precisely in their
    * frequencies, which set-Jaccard flattens to 1).
    *
    * Shingles, NOT unigram tokens, and it is a scale requirement, not
    * taste: every document contains the common words, so over unigram
    * multisets the globally-minimal md5(word \u2295 0x01 \u2295 1) dominates
    * nearly every document's signature \u2014 measured on the sf0.1 corpus
    * the 4-band buckets collapsed into near-cliques (927k candidate
    * pairs vs 276 for the shingled set-minhash over the same 5k docs),
    * a quadratic mega-bucket join at corpus scale. n \u2265 2 shingles are
    * discriminative (like [[minhashWordsUdf]]) while repeated PASSAGES
    * still raise shingle tf, which is the repetition signal the
    * weighted measure is for; n = 1 deliberately recovers the pure
    * token-multiset semantics (spec'd, never the near-dup default).
    *
    * Per-shingle work is O(tf); `maxTf` caps it as an EXPLICIT opt-in
    * (default uncapped \u2014 a binding cap changes the estimated measure,
    * so it is never silent policy; the Associations basket-cap
    * lesson). Each copy digest is fed as update(prefix), update(digits)
    * \u2014 byte-identical to md5 of the concatenated string without the
    * per-copy string + byte-array churn. */
  private def weightedMinhashWordsUdf(n: Int, k: Int, maxTf: Int) = udf {
    ws: Seq[String] =>
      val mins = Array.fill(k)(Long.MaxValue)
      if (ws != null && ws.length >= n) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val tf = scala.collection.mutable.HashMap.empty[String, Int]
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i <= ws.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(ws(i + j))
            j += 1
          }
          val s = sb.toString
          tf.update(s, tf.getOrElse(s, 0) + 1)
          i += 1
        }
        tf.foreach { case (tok, c) =>
          val cap = math.min(c, maxTf)
          val prefix = (tok + "\u0001").getBytes("UTF-8")
          var j = 1
          while (j <= cap) {
            md.update(prefix)
            md.update(Integer.toString(j)
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
            updateMins(mins, md.digest(), k)
            j += 1
          }
        }
      }
      mins.toSeq
  }

  /** Fused words → signature: builds each n-gram shingle in a local
    * StringBuilder and digests it immediately, skipping the Catalyst
    * materialization (and JVM↔UTF8String conversion) of the 100s-of-
    * strings shingle array per document. Same shingle strings, same
    * signature values as `minhashSignature(shingles(...))`. */
  private def minhashWordsUdf(n: Int, k: Int) = udf { ws: Seq[String] =>
    val mins = Array.fill(k)(Long.MaxValue)
    if (ws != null && ws.length >= n) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= ws.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(ws(i + j))
          j += 1
        }
        updateMins(mins, md.digest(sb.toString.getBytes("UTF-8")), k)
        i += 1
      }
    }
    mins.toSeq
  }

  /** 32-bit SimHash over the token multiset: token hash = first 8 md5 hex
    * digits (the digest's first 4 bytes) as an integer; bit b of the result
    * is set when strictly more tokens have bit b set than clear.
    *
    * A tight UDF loop, not array expressions: the expression form
    * (`aggregate` over 32 bits × `transform`-hashed tokens) interprets a
    * lambda per (token, bit) pair — measured 17 s for 6,000 documents at
    * sf0.1 vs ~1 s here (see memory/bench notes on interpreted HOF
    * lambdas). One md5 per token, 32 counter bumps per token, same bits.
    * The DuckDB oracle mirrors it with exact double arithmetic
    * (`floor(h / 2^b) % 2`), so an engine without bit-shift built-ins can
    * reproduce every signature. */
  def simhash32(text: Column): Column = simhashUdf(words(text))

  private val simhashUdf = udf { ws: Seq[String] =>
    val counts = new Array[Int](32)
    if (ws != null) {
      val md = java.security.MessageDigest.getInstance("MD5")
      ws.foreach { t =>
        val d = md.digest(t.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var b = 0
        while (b < 32) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var acc = 0L
    var b = 0
    while (b < 32) { if (counts(b) > 0) acc |= 1L << b; b += 1 }
    acc
  }

  /** 64-bit SimHash over the token multiset, returned as TWO 32-bit
    * halves `struct(hi, lo)`: the token hash is the digest's first 8 bytes
    * — bytes 0–3 drive bits 0–31 of `hi`, bytes 4–7 drive bits 0–31 of
    * `lo` (the same two 32-bit words the minhash family reads as x1/x2).
    * Bit b of a half is set when strictly more tokens have that bit set
    * than clear. Splitting the signature keeps every value below 2^32, so
    * an engine limited to exact double arithmetic (the DuckDB oracle's
    * `floor(h / 2^b) % 2` bit probe, exact to 2^53) reproduces each half
    * bit-for-bit — a single 64-bit value could not cross that bridge.
    * Same tight UDF loop as [[simhash32]] (one md5 per token, 64 counter
    * bumps), doubling the bit budget that [[simhashNearDuplicates64]]
    * spends on 16-bit bands. */
  def simhash64(text: Column): Column = simhash64Udf(words(text))

  private val simhash64Udf = udf { ws: Seq[String] =>
    val counts = new Array[Int](64)
    if (ws != null) {
      val md = java.security.MessageDigest.getInstance("MD5")
      ws.foreach { t =>
        val d = md.digest(t.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) > 0) lo |= 1L << b
      if (counts(b + 32) > 0) hi |= 1L << b
      b += 1
    }
    (hi, lo)
  }

  /** Idf-weighted 64-bit SimHash signatures for a whole corpus: each
    * token's ±1 bit votes are scaled by `ln(1 + N/df)`, so the
    * high-frequency tokens that drive every unweighted signature toward
    * the same majority bits (the bucket-skew hazard the banded joins
    * document) carry the least weight and RARE, discriminative tokens
    * dominate — the classic idf decorrelation. Weighting requires corpus
    * document frequencies, so unlike [[simhash64]] this is a corpus-level
    * operator: one explode + one (token ⋈ df) shuffle + one per-doc
    * aggregate of 64 weighted bit sums (partial-aggregated — shuffle rows
    * are O(docs), not O(tokens)). Spec-checked only: `ln` is not
    * bit-reproducible across engines, so no DuckDB oracle — the banded
    * join remains lossless regardless (pigeonhole does not care how the
    * signature was made). Returns (doc_id, hi, lo) 32-bit halves. */
  def simhash64Idf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("tok"))
    val dfreq = toks.distinct().groupBy(col("tok"))
      .agg(count(lit(1)).as("__df"))
    val total = df.select(count(lit(1)).as("__N"))
    val weighted = toks.join(dfreq, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("__xh"),
        conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long").as("__xl"),
        log(lit(1.0) + col("__N") / col("__df")).as("__w"))
    def bitSum(src: Column, b: Int, name: String): Column =
      sum(when(shiftright(src, b).bitwiseAND(lit(1L)) === 1L, col("__w"))
        .otherwise(-col("__w"))).as(name)
    val sums = (0 until 32).map(b => bitSum(col("__xh"), b, s"__h$b")) ++
      (0 until 32).map(b => bitSum(col("__xl"), b, s"__l$b"))
    def assemble(prefix: String): Column = (0 until 32)
      .map(b => when(col(s"$prefix$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val sigs = weighted.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), assemble("__h").as("hi"), assemble("__l").as("lo"))
    // token-less docs (null text) produce no exploded rows and would
    // silently vanish; give them the zero signature [[simhash64]] emits
    // for the same input, so the two operators cover the same universe
    df.select(col(idCol).as("doc_id"))
      .join(sigs, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hi"), lit(0L)).as("hi"),
        coalesce(col("lo"), lit(0L)).as("lo"))
  }

  /** [[simhashNearDuplicates64]] over IDF-WEIGHTED signatures — the full
    * mitigation stack for correlated-corpus bucket skew: 16-bit bands for
    * spread, idf weighting for decorrelation. Same lossless pigeonhole
    * banding and in-join Hamming verify; spec-checked (see
    * [[simhash64Idf]] on why there is no oracle). */
  def simhashNearDuplicates64Idf(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int = 3): DataFrame = {
    require(maxDist < 4,
      s"4 bands are lossless only for maxDist < 4, got $maxDist")
    bandJoin64(simhash64Idf(df, idCol, textCol)
      .select(col("doc_id"), col("hi").as("__hi"), col("lo").as("__lo")),
      maxDist)
  }

  /** X21: 64-bit SimHash near-duplicate pairs within Hamming distance
    * `maxDist` — the scale path [[simhashNearDuplicates]]'s own scaladoc
    * names. Banding is 4 × 16-bit bands over the 64 signature bits: up to
    * 2^16 = 65,536 distinct values per band versus the 32-bit operator's
    * 2^8 = 256, so correlated majority bits of a shared-vocabulary corpus
    * spread over 256× more buckets and the within-bucket quadratic stops
    * being a straggler factory. Banding stays LOSSLESS for
    * `maxDist < 4` by pigeonhole, and the Hamming verify
    * (`bit_count(hi XOR hi') + bit_count(lo XOR lo')`) runs inside the
    * join stage exactly like the 32-bit operator. Output:
    * (doc_a, doc_b, hamming). */
  def simhashNearDuplicates64(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist < 4,
      s"4 bands are lossless only for maxDist < 4, got $maxDist")
    bandJoin64(df.select(col(idCol).as("doc_id"),
        simhash64(col(textCol)).as("__s"))
      .select(col("doc_id"), col("__s._1").as("__hi"),
        col("__s._2").as("__lo")), maxDist)
  }

  /** 4 × 16-bit band self-join + in-join Hamming verify over a
    * (doc_id, __hi, __lo) signature table — shared by the plain and
    * idf-weighted 64-bit operators. */
  private[graft] def bandJoin64(sim: DataFrame, maxDist: Int): DataFrame = {
    val banded = sim.select(col("doc_id"), col("__hi"), col("__lo"),
      posexplode(array(
        pmod(col("__lo"), lit(65536L)),
        shiftright(col("__lo"), 16),
        pmod(col("__hi"), lit(65536L)),
        shiftright(col("__hi"), 16))))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bv"))
    val ham = (bit_count(col("a.__hi").bitwiseXOR(col("b.__hi"))) +
      bit_count(col("a.__lo").bitwiseXOR(col("b.__lo")))).cast("long")
    banded.as("a").join(banded.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bv") === col("b.__bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(ham <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.as("hamming"))
      .distinct()
  }

  /** X19: SimHash near-duplicate pairs within Hamming distance `maxDist`.
    *
    * LSH over the simhash bits themselves: the 32-bit signature is split
    * into `bands` contiguous bit-bands (4 × 8 bits by default) and
    * documents are self-joined on (band index, band value). By pigeonhole,
    * two signatures within Hamming distance `maxDist < bands` agree on at
    * least one whole band, so the banding is LOSSLESS for the requested
    * radius; every candidate is then verified exactly with
    * `bit_count(a XOR b) <= maxDist`.
    *
    * Scale shape: one projection for signatures, one shuffle keyed on the
    * (band, value) pair. Unlike minhash band hashes (md5 — uniform by
    * construction), simhash bands of a shared-vocabulary corpus are heavily
    * CORRELATED: common tokens push every signature toward the same
    * majority bits, so band buckets skew. The signature therefore rides the
    * banding rows (8 extra bytes) and the Hamming verify runs INSIDE the
    * join stage — candidate pairs die in whole-stage codegen without ever
    * being shuffled; only the true near-dup pairs reach the closing
    * `distinct` (measured 21.6 s → ~1 s at sf0.1 vs. the
    * distinct-then-verify plan). Within-bucket compute is still quadratic —
    * the inherent simhash-LSH cost; [[simhashNearDuplicates64]] is the
    * web-scale path (64-bit signature, 2^16 buckets per band). The 32-bit
    * width is kept here for the single-value signature form (see
    * [[simhash32]]).
    */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, bands: Int = 4, bits: Int = 32): DataFrame = {
    require(bands > maxDist,
      s"bands ($bands) must exceed maxDist ($maxDist) for lossless banding")
    require(bits % bands == 0, "bands must divide bits")
    val width = bits / bands
    // both sides of the self-join are this identical subtree shuffled on
    // the same (band, value) key — ReuseExchange runs the signature
    // projection once, no operator-internal persist needed
    val sim = df.select(col(idCol).as("doc_id"),
      simhash32(col(textCol)).as("__sh"))
    val banded = sim.select(col("doc_id"), col("__sh"),
      posexplode(array((0 until bands).map(b =>
        pmod(shiftright(col("__sh"), b * width), lit(1L << width))): _*)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bv"))
    val ham = bit_count(col("a.__sh").bitwiseXOR(col("b.__sh"))).cast("long")
    banded.as("a").join(banded.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bv") === col("b.__bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(ham <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.as("hamming"))
      .distinct()
  }

  /** Exact dedup: one row per input row with the canonical (minimum) id of
    * its identical-text group and the group size. Single hash-groupBy on
    * `md5(text)` — the only shuffle, keyed uniformly. The group join-back
    * is NULL-SAFE: `md5(NULL)` is NULL, and a plain equi-join would
    * silently DROP every null-text document from the output — instead
    * they form one exact group of their own (matching the aggregate,
    * which always grouped them together). */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol), md5(col(textCol)).as("__th"))
    val groups = h.groupBy(col("__th"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("group_size"))
      .withColumnRenamed("__th", "__gth")
    h.join(groups, col("__th") <=> col("__gth"))
      .select(col(idCol), col("canonical_id"), col("group_size"),
        (col(idCol) =!= col("canonical_id")).as("is_duplicate"))
  }

  /** MinHash+LSH near-duplicate pairs: signature → `bands` bands of
    * `k/bands` rows → self-join on (band, band-hash) → exact signature
    * agreement count for the surviving candidates. Returns
    * (doc_a, doc_b, n_match, est_jaccard) for pairs agreeing on at least
    * `minMatch` of the `k` minhashes.
    *
    * The signatures RIDE the banding rows (k longs each), so the agreement
    * verify runs INSIDE the band self-join stage: non-matching candidates
    * die in codegen without a distinct-then-join-back round trip, and the
    * corpus-wide hashing pass feeds exactly one downstream plan — the same
    * shape [[incrementalDedup]] uses. The self-join's two sides are the
    * identical subtree shuffled on the same (band, band_hash) key, so
    * ReuseExchange computes the signature projection once; nothing needs
    * an operator-internal persist. */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, "bands must divide k")
    // docs with fewer than n words have no shingles — same set the
    // unfused filter(size(shingles) > 0) kept
    val sig = df
      .filter(size(words(col(textCol))) >= shingleN)
      .select(col(idCol).as("doc_id"),
        minhashWordsUdf(shingleN, k)(words(col(textCol))).as("sig"))
    val banded = bandedSig(sig, "sig", bands, rows)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          b => b)).cast("long").as("n_match"))
      .filter(col("n_match") >= minMatch)
      .distinct()
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        // n/k is a small-denominator rational — the exact class where
        // engine round() builtins diverge; quantize is IEEE-pure both sides
        graft.functions.quantize(col("n_match") / k.toDouble, 4)
          .as("est_jaccard"))
  }

  /** X146: WEIGHTED-MINHASH near-duplicate pairs — [[minhashNearDuplicates]]
    * with the signature taken over the n-gram SHINGLE MULTISET
    * (integer-weight copy expansion, [[weightedMinhashWordsUdf]] — see
    * its scaladoc for why unigram multisets mega-bucket at scale):
    * agreement estimates the weighted Jaccard Σ min(tf)/Σ max(tf), so
    * documents that share shingles but differ in repetition structure
    * (template pages, boilerplate stuffing, n-fold concatenations)
    * separate where set-Jaccard saturates at 1. Identical plan shape:
    * one hashing pass, banded self-join with the verify inside the
    * join stage, ReuseExchange sharing the signature projection.
    * `shingleN = 1` recovers pure token-multiset semantics (for
    * property tests; degenerate as a corpus-scale near-dup gate).
    * Pairs are (doc_a, doc_b, n_match, est_wjaccard), doc_a < doc_b. */
  def weightedMinhashNearDuplicates(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8, maxTf: Int = Int.MaxValue): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, "bands must divide k")
    require(maxTf >= 1, s"maxTf must be >= 1, got $maxTf")
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    val sig = df
      .filter(size(words(col(textCol))) >= shingleN)
      .select(col(idCol).as("doc_id"),
        weightedMinhashWordsUdf(shingleN, k, maxTf)(words(col(textCol)))
          .as("sig"))
    val banded = bandedSig(sig, "sig", bands, rows)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          b => b)).cast("long").as("n_match"))
      .filter(col("n_match") >= minMatch)
      .distinct()
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        graft.functions.quantize(col("n_match") / k.toDouble, 4)
          .as("est_wjaccard"))
  }

  /** X114: MINHASH ESTIMATOR CALIBRATION — for every LSH candidate
    * pair, the signature-agreement estimate (`n_match/k`, the unbiased
    * MinHash Jaccard estimator) side by side with the EXACT shingle-set
    * Jaccard and the absolute error. The "trust your sketch" audit run
    * before anyone tunes a dedup threshold on estimated similarities:
    * with k = 16 permutations the estimator's σ ≈ √(J(1−J)/16) ≈ 0.12
    * at J = 0.5, and this report is how that materializes on the
    * actual corpus instead of in a formula.
    *
    * Cost discipline: the exact verify runs ONLY on LSH candidates
    * (candidates × doc shingles, never corpus²) — the same bound the
    * dedup join itself obeys, so auditing costs what deduping costs.
    * `n/16` is exact in binary, set sizes and overlaps are integers:
    * every output is reproducible cross-engine. Output: (doc_a, doc_b,
    * n_match, est_jaccard, jaccard, abs_err). */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val cand = minhashNearDuplicates(df, idCol, textCol, shingleN, k,
      bands, minMatch = 1)
      .select(col("doc_a"), col("doc_b"), col("n_match"))
    val ds = graft.util.Caches.persistTracked(
      df.select(col(idCol).as("__id"),
        explode(shingles(col(textCol), shingleN)).as("__sh")).distinct())
    val sz = ds.groupBy(col("__id")).agg(count(lit(1)).as("__n"))
    val inter = cand
      .join(ds.select(col("__id").as("doc_a"), col("__sh")), "doc_a")
      .join(ds.select(col("__id").as("doc_b"), col("__sh")),
        Seq("doc_b", "__sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__inter"))
    val est = col("n_match").cast("double") / k
    cand
      .join(sz.select(col("__id").as("doc_a"), col("__n").as("__na")),
        "doc_a")
      .join(sz.select(col("__id").as("doc_b"), col("__n").as("__nb")),
        "doc_b")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("jaccard",
        coalesce(col("__inter"), lit(0L)).cast("double") /
          (col("__na") + col("__nb") - coalesce(col("__inter"), lit(0L))))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        est.as("est_jaccard"), col("jaccard"),
        abs(est - col("jaccard")).as("abs_err"))
  }

  /** Banded LSH projection of a signature column: one row per (input row,
    * band) with `band` (0-based) and `band_hash` = md5 of the band's
    * `rows` signature values joined with '|'. All input columns ride
    * along. This projection — plus the text md5 — is what a production
    * corpus persists as its dedup index. */
  private def bandedSig(sig: DataFrame, sigCol: String, bands: Int,
      rows: Int): DataFrame =
    sig.select(sig.columns.map(col) :+
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => md5(concat_ws("|",
            transform(slice(col(sigCol), b * rows + 1, lit(rows)),
              v => v.cast("string")))))): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))

  /** X22: the persisted dedup INDEX of a corpus — the projection a
    * production pipeline stores alongside its documents so incremental
    * dedup re-runs are index-only reads (no re-scan, no re-hash of
    * history). One row per (doc, band): (doc_id, text_md5, sig, band,
    * band_hash); documents too short to shingle carry a single row with
    * NULL band columns so the exact-dup stage still sees their text hash.
    * Append-only maintainable: indexing a new batch with this same
    * function and appending the rows IS the index update. */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, "bands must divide k")
    // branch on the CHEAP word-count guard, not on sig nullness: a
    // null-sig filter would re-evaluate the hashing UDF in both union
    // branches (the short branch's isNull test runs the UDF on every long
    // doc just to discard the row) — this way the corpus is hashed once.
    // coalesce: size(words(NULL)) is NULL, and a NULL predicate would
    // drop null-text docs from BOTH branches instead of neither
    val shingleable =
      coalesce(size(words(col(textCol))) >= shingleN, lit(false))
    val sigged = bandedSig(corpus.filter(shingleable)
        .select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_md5"),
          minhashWordsUdf(shingleN, k)(words(col(textCol))).as("sig")),
      "sig", bands, rows)
      .select(col("doc_id"), col("text_md5"), col("sig"),
        col("band"), col("band_hash"))
    val short = corpus.filter(!shingleable)
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_md5"),
        lit(null).cast("array<bigint>").as("sig"),
        lit(null).cast("int").as("band"),
        lit(null).cast("string").as("band_hash"))
    sigged.unionByName(short)
  }

  /** X22 maintenance: compact a persisted dedup index's accumulated
    * `batch_id=*` partitions into ONE consolidated partition with a
    * bounded file count. The streaming ingest loop
    * ([[graft.streaming.StreamingEvents.incrementalDedupSink]]) appends
    * one partition directory per micro-batch, so over a long-running
    * query the driver's file/partition listing cost per batch grows
    * without bound (the classic small-file problem — the reference ships
    * the same concern as partition retention,
    * diamond/load/ParquetDataLoader.scala:1091-1103, and its README asks
    * for a small-file "stitching function"). Crash window, target id and
    * ledger handling follow [[graft.store.BatchStore]]; crash-window
    * duplicates do not change verdicts ([[incrementalDedupIndexed]]
    * aggregates with `min` / `count_distinct`), and this compaction's
    * `distinct` absorbs them, together with docs re-indexed verbatim
    * across batches. A single partition is still rewritten while it
    * holds more than `targetFiles` files (e.g. a seed written by a
    * wide-parallelism job).
    *
    * Returns the consolidated partition's batch id (or the single
    * existing id when there is nothing to compact). */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetFiles: Int = 8): Long = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val side = graft.store.BatchStore.batches(spark, indexDir,
      "compactDedupIndex", "a partitioned dedup index (seed it via " +
        "buildDedupIndex into batch_id=-1)")
    val ledger = dedupLedger(spark, indexDir)
    graft.store.BatchStore.compact(ledger, Seq(side),
        force = side.files > targetFiles) { case Seq(to) =>
      graft.store.BatchStore.append(
        ledger.minus(spark.read.parquet(indexDir).drop("batch_id"))
          .distinct().repartition(targetFiles), indexDir, to)
    }.head
  }

  /** The tombstone ledger of a delete-maintained dedup index, beside
    * the index directory. Its `doc_id` is always a long; the index's
    * own `doc_id` type comes from the caller's id column, so the index
    * read stays inferred. */
  private[graft] def dedupLedger(spark: org.apache.spark.sql.SparkSession,
      indexDir: String) =
    graft.store.Ledger.beside(spark, indexDir, "doc_id")

  /** X190: TOMBSTONE DELETES in the persisted dedup index — the X188
    * lifecycle leg for the text store: a taken-down document must stop
    * verdicting future batches as duplicates of it, and an append-only
    * index would keep matching it forever. Unlike the k-NN store no
    * recompute is needed (a doc's signature rows are independent), so
    * a delete is ONE ledger write under the [[graft.store.BatchStore]]
    * contract: [[readDedupIndex]] anti-joins it, the sink
    * ([[graft.streaming.StreamingEvents.incrementalDedupSink]]) fails
    * loud on re-ingesting a tombstoned id, and [[compactDedupIndex]]
    * applies + clears it. Deleting an unknown id is a harmless
    * tombstone. */
  def deleteFromDedupIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, deleted: DataFrame, idCol: String,
      batchId: Long): Unit = {
    require(graft.store.BatchStore.exists(spark, indexDir),
      s"deleteFromDedupIndex: no index at $indexDir")
    val ledger = dedupLedger(spark, indexDir)
    ledger.write(ledger.keys(deleted, idCol), batchId)
  }

  /** The canonical read of a delete-maintained dedup index: the
    * `batch_id=*` rows minus tombstoned docs. All query paths
    * (the streaming sink's verdict read, [[incrementalDedupIndexed]]
    * callers, the store gate) go through this so a delete is visible
    * everywhere at once. */
  def readDedupIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    dedupLedger(spark, indexDir).minus(spark.read.parquet(indexDir))

  /** X20 (index form): incremental cross-corpus dedup answered from a
    * [[buildDedupIndex]] table alone — the corpus documents are never
    * touched. Exact stage: the index's one-row-per-doc slice
    * (band 0 or NULL) equi-joined on text_md5. Near stage: the banded
    * slice joined on (band, band_hash), signature agreement verified
    * INSIDE the join (>= `minMatch` of `k`). The batch side is broadcast
    * in both stages, so the index is touched by two pruned scans and
    * never shuffled — cost is O(index scan) + O(batch·matches) regardless
    * of history size. `shingleN`/`k`/`bands` must match the values the
    * index was built with.
    *
    * One row per batch doc: (doc_id, exact_dup_of, near_dup_of,
    * n_near_dups, verdict ∈ exact|near|new); `*_dup_of` is the MINIMUM
    * matching corpus id, `n_near_dups` the count of distinct qualifying
    * corpus docs. */
  def incrementalDedupIndexed(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 16,
      bands: Int = 4, minMatch: Int = 8): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, "bands must divide k")
    val bBase = graft.util.Caches.persistTracked(batch
      .select(col(idCol).as("doc_id"), col(textCol).as("__text")))
    // NULL-SAFE on the text hash, matching exactDuplicates' semantics:
    // md5(NULL) is NULL, and a plain equi-join would verdict a null-text
    // batch doc 'new' forever even when the corpus already holds
    // null-text docs the batch should match
    val exact = index
      .filter(col("band").isNull || col("band") === 0)
      .select(col("doc_id").as("__cid"), col("text_md5").as("__th"))
      .join(broadcast(bBase.select(col("doc_id"),
        md5(col("__text")).as("__bth"))), col("__th") <=> col("__bth"))
      .groupBy(col("doc_id"))
      .agg(min(col("__cid")).as("exact_dup_of"))
    val bBand = bandedSig(bBase
        .filter(size(words(col("__text"))) >= shingleN)
        .select(col("doc_id"),
          minhashWordsUdf(shingleN, k)(words(col("__text"))).as("__bsig")),
      "__bsig", bands, rows)
    val near = index
      .filter(col("band").isNotNull)
      .select(col("doc_id").as("__cid"), col("sig").as("__csig"),
        col("band"), col("band_hash"))
      .join(broadcast(bBand), Seq("band", "band_hash"))
      .withColumn("__nm",
        size(filter(zip_with(col("__csig"), col("__bsig"), (x, y) => x === y),
          b => b)))
      .filter(col("__nm") >= minMatch)
      .groupBy(col("doc_id"))
      .agg(min(col("__cid")).as("near_dup_of"),
        count_distinct(col("__cid")).as("n_near_dups"))
    bBase.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("near_dup_of"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        when(col("exact_dup_of").isNotNull, lit("exact"))
          .when(col("near_dup_of").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"))
  }

  /** X20: INCREMENTAL cross-corpus dedup — the production delta shape: a
    * new batch is checked AGAINST an existing corpus without re-deduping
    * (or re-shuffling) the corpus. Builds the [[buildDedupIndex]]
    * projection inline (persisted for the run so the corpus is hashed
    * once) and answers through [[incrementalDedupIndexed]]; a production
    * pipeline stores the index as a table and calls the indexed form
    * directly, making re-runs index-only reads. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): DataFrame = {
    val index = buildDedupIndex(corpus, idCol, textCol, shingleN, k, bands)
      .transform(graft.util.Caches.persistTracked)
      // exact + near stages each read it; hash the corpus once
    incrementalDedupIndexed(index, batch, idCol, textCol, shingleN, k,
      bands, minMatch)
  }

  /** X35: semantically-VERIFIED near-duplicates — lexical MinHash/LSH
    * candidate pairs re-scored by embedding cosine, keeping only pairs
    * that agree on BOTH signals. Token overlap alone over-fires on
    * boilerplate (shared headers, templates) and under-fires on
    * paraphrase; crossing the lexical candidate set with a semantic
    * verify is the standard hybrid curation gate, and at scale the
    * expensive side (all-pairs semantics) never runs: the pair set from
    * [[minhashNearDuplicates]] is bounded by band-bucket fan-out, and
    * the embedding verify is two hash joins keyed on the pair ids (the
    * pair side is far smaller than the corpus — AQE broadcasts it) with
    * the codegen'd `graft_dot` doing the scoring. Docs without an
    * embedding cannot be verified and are dropped (inner join — the
    * verification IS the contract). Output: (doc_a, doc_b, n_match,
    * cosine). */
  def semanticVerifiedNearDuplicates(docs: DataFrame, idCol: String,
      textCol: String, embeddings: DataFrame, embIdCol: String,
      vecCol: String, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8, minCosine: Double = 0.0): DataFrame = {
    graft.functions.DotProductExpr.register(docs.sparkSession)
    import graft.ann.Similarity.nativeDot
    val emb = embeddings.select(col(embIdCol).cast("long").as("__eid"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__nrm", sqrt(nativeDot(col("__v"), col("__v"))))
    minhashNearDuplicates(docs, idCol, textCol, shingleN, k, bands, minMatch)
      .join(emb.select(col("__eid").as("doc_a"), col("__v").as("__va"),
        col("__nrm").as("__na")), "doc_a")
      .join(emb.select(col("__eid").as("doc_b"), col("__v").as("__vb"),
        col("__nrm").as("__nb")), "doc_b")
      .withColumn("cosine",
        nativeDot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      // NaN guard is load-bearing: Spark (and DuckDB) order NaN ABOVE
      // every number, so a zero-norm embedding would pass ANY threshold
      // — a pair with no semantic signal must fail verification, not
      // sail through it
      .filter(!isnan(col("cosine")) && col("cosine") >= minCosine)
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Near-duplicate CLUSTERS — the step production dedup actually ships:
    * candidate pairs from MinHash+LSH, transitively closed into components
    * (distributed min-label propagation, [[graft.graph.EntityResolution]]),
    * canonical member = the minimum doc id. Returns one row per clustered
    * document: (doc_id, cluster_id, is_canonical); keep the canonicals and
    * drop the rest. Documents in no near-dup pair are not emitted (they
    * are their own trivial cluster). */
  /** X74: cluster REPRESENTATIVE selection by QUALITY — the keep-policy
    * refinement of [[nearDuplicateClusters]]' min-id canonical: real
    * pipelines keep the BEST member of each near-dup cluster (longest,
    * highest quality score, lowest perplexity — the SemDeDup/NeMo
    * Curator policy), not the smallest id. `clusters` is any
    * (doc_id, cluster_id) table; `scored` carries one quality row per
    * doc. The representative is argmax(score, tie → min doc_id) —
    * deterministic, engine-reproducible. ONE cluster-keyed exchange
    * over the CLUSTERED docs only (cluster tables are orders of
    * magnitude below corpus size — only near-dup members appear);
    * output one row per clustered doc:
    * (doc_id, cluster_id, score, is_representative, representative_id)
    * — `keep = is_representative` is the downstream filter. */
  def selectRepresentatives(clusters: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    clusters.select(col("doc_id"), col("cluster_id"))
      .join(scored.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).as("score")), "doc_id")
      .withColumn("representative_id",
        first(col("doc_id")).over(byCluster.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("is_representative",
        col("doc_id") === col("representative_id"))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        col("is_representative"), col("representative_id"))
  }

  def nearDuplicateClusters(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): DataFrame = {
    val pairs = minhashNearDuplicates(df, idCol, textCol, shingleN, k,
      bands, minMatch).select(col("doc_a"), col("doc_b"))
    graft.graph.EntityResolution
      .connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("v").as("doc_id"), col("component").as("cluster_id"),
        (col("v") === col("component")).as("is_canonical"))
  }

  /** X122: DEDUP YIELD REPORT — the corpus-level summary a dedup run
    * is judged by before anyone looks at pairs: the X17 cluster-size
    * histogram (how many 2-doc near-dup pairs vs 1000-doc boilerplate
    * families) plus the headline numbers — clustered docs, docs kept
    * under keep-one-per-cluster, and the duplicate rate. The size
    * histogram is what catches a too-loose LSH threshold (a giant
    * glued cluster) at a glance.
    *
    * Scale: prices the X17 chain; everything after is cluster-sized
    * aggregates. Counts exact; `dup_rate` is one division. Output:
    * one row per distinct cluster size — (cluster_size, n_clusters,
    * n_docs, corpus_docs, clustered_docs, docs_kept, dup_rate). */
  def dedupYieldReport(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): DataFrame = {
    val total = df.count()
    require(total > 0, "dedupYieldReport: empty corpus")
    val sizes = graft.util.Caches.persistTracked(
      nearDuplicateClusters(df, idCol, textCol, shingleN, k, bands,
        minMatch)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("__sz")))
    val summary = sizes.agg(count(lit(1)).as("__ncl"),
      coalesce(sum(col("__sz")), lit(0L)).as("__ndocs"))
    sizes.groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("__sz")).as("n_docs"))
      .crossJoin(broadcast(summary))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        lit(total).as("corpus_docs"),
        col("__ndocs").as("clustered_docs"),
        (lit(total) - col("__ndocs") + col("__ncl")).as("docs_kept"),
        ((col("__ndocs") - col("__ncl")).cast("double") /
          lit(total.toDouble)).as("dup_rate"))
  }

  /** X116: per-cluster AGGLOMERATIVE REFINEMENT of LSH near-dup
    * clusters by EXACT Jaccard — the false-positive audit of the X17
    * transitive closure. Banded MinHash admits pairs below the real
    * similarity bar (the left tail of the LSH S-curve), and ONE such
    * pair glues two genuinely distinct groups into a single cluster
    * where a min-id canonical then silently drops half the corpus's
    * real content. Within each cluster (never across — the candidate
    * set stays LSH-bounded), every member pair is re-verified by
    * exact word-shingle Jaccard; edges under `threshold` are dropped
    * and the VERIFIED edge graph is re-closed, so a glued cluster
    * splits into its exactly-similar components and members with no
    * verified neighbor fall out as singletons.
    *
    * Scale shape: pair generation is an inverted-index join on
    * (cluster_id, shingle) — only pairs SHARING a shingle ever meet
    * (a pair with no shared shingle has Jaccard 0 and cannot verify).
    * Clusters are near-dup groups, orders of magnitude below corpus
    * size; `maxClusterSize` fails loud on a pathological glued
    * mega-cluster instead of letting the within-cluster Σ|c|² run
    * away. The re-closure is the same distributed min-label CC as
    * X17, over verified edges only. Jaccard is exact-integer counts
    * and one correctly-rounded division — the threshold compare is
    * bit-identical cross-engine.
    *
    * Output: one row per clustered doc — (doc_id, cluster_id,
    * refined_cluster_id, is_refined_canonical). */
  def refineClusters(df: DataFrame, idCol: String, textCol: String,
      clusters: DataFrame, threshold: Double = 0.5, shingleN: Int = 3,
      maxClusterSize: Int = 10000): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxClusterSize >= 2,
      s"maxClusterSize must be >= 2, got $maxClusterSize")
    val members = graft.util.Caches.persistTracked(
      clusters.select(col("doc_id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cluster_id")))
    val biggest = members.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L))).head().getLong(0)
    require(biggest <= maxClusterSize,
      s"refineClusters: a cluster has $biggest members " +
        s"(> maxClusterSize=$maxClusterSize) — a glued mega-cluster; " +
        "raise the cap explicitly or tighten the LSH stage")
    val sh = graft.util.Caches.persistTracked(
      df.select(col(idCol).cast("long").as("doc_id"),
          explode(array_distinct(shingles(col(textCol), shingleN)))
            .as("__sh"))
        .join(members, "doc_id"))
    val cnt = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__nsh"))
    val overlap = sh.select(col("cluster_id"), col("__sh"),
        col("doc_id").as("doc_a"))
      .join(sh.select(col("cluster_id"), col("__sh"),
        col("doc_id").as("doc_b")), Seq("cluster_id", "__sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__ov"))
    val verified = overlap
      .join(cnt.select(col("doc_id").as("doc_a"),
        col("__nsh").as("__na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"),
        col("__nsh").as("__nb")), "doc_b")
      .filter(col("__ov").cast("double") /
        (col("__na") + col("__nb") - col("__ov")).cast("double")
        >= threshold)
    val cc = graft.graph.EntityResolution
      .connectedComponents(verified.select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
    members
      .join(cc.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("component"), col("doc_id"))
          .as("refined_cluster_id"),
        (col("doc_id") ===
          coalesce(col("component"), col("doc_id")))
          .as("is_refined_canonical"))
  }

  /** X18: the COMPOSED production dedup pipeline — exact dedup, then
    * MinHash+LSH near-dup clustering over the exact survivors, then one
    * keep/drop decision per input document:
    * `keep` = the doc is its exact group's canonical AND (not in any
    * near-dup cluster OR its cluster's canonical). One row per input doc:
    * (doc_id, exact_canonical, cluster_id | NULL, keep).
    *
    * Plan notes: the hashed projection feeds both the survivor filter and
    * the final join-back, so it is persisted (the CC loop inside
    * clustering materializes it on its first action); the text column
    * rides the hashed projection, so the corpus is scanned ONCE for the
    * exact stage and the signature stage together. */
  def dedupPipeline(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): DataFrame = {
    val hashed = graft.util.Caches.persistTracked(df
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        md5(col(textCol)).as("__th")))
    val groups = hashed.groupBy(col("__th"))
      .agg(min(col("doc_id")).as("exact_canonical"))
      .withColumnRenamed("__th", "__gth")
    // null-safe: md5(NULL) is NULL and a plain equi-join would silently
    // drop null-text docs from the pipeline output (they group together)
    val withCanon = graft.util.Caches.persistTracked(
      hashed.join(groups, col("__th") <=> col("__gth")))
    val survivors = withCanon
      .filter(col("doc_id") === col("exact_canonical"))
      .select(col("doc_id"), col("__text"))
    val clusters = nearDuplicateClusters(survivors, "doc_id", "__text",
      shingleN, k, bands, minMatch)
    withCanon
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_canonical"), col("cluster_id"),
        (col("doc_id") === col("exact_canonical") &&
          (col("cluster_id").isNull || col("is_canonical"))).as("keep"))
  }

  /** Benchmark/eval-set decontamination: flag corpus documents sharing at
    * least `minShared` distinct word n-grams with ANY document of the
    * eval set — the standard n-gram-overlap test-set contamination check
    * for pretraining corpora. One inverted-index equi-join: corpus
    * shingles ⋈ the DISTINCT eval shingle set (eval sets are small —
    * broadcast), then a per-doc count. Returns every corpus id with
    * `n_shared_ngrams` and `is_contaminated`; the caller filters or
    * routes. Never O(corpus × eval). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String,
      shingleN: Int = 8, minShared: Int = 1): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    val evalShingles = evalSet
      .select(explode(array_distinct(
        shingles(col(evalTextCol), shingleN))).as("shingle"))
      .distinct()
    val shared = corpus
      .select(col(idCol).as("__id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("shingle"))
      .join(broadcast(evalShingles), "shingle")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
    corpus.select(col(idCol))
      .join(shared, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("n_shared_ngrams"), lit(0L)) >= minShared)
          .as("is_contaminated"))
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the form that
    * scales past eval sets too large to broadcast as a hash relation.
    * A `BloomFilter` over the distinct eval shingles is a few MB of bits
    * at 1% FPP even for tens of millions of shingles (vs GBs of strings
    * for the broadcast hash table), so the corpus-side scan drops
    * ~99% of its shingles against broadcast BITS before anything joins.
    * Bloom positives are then verified EXACTLY against the real eval
    * shingle set — false positives die there, so the output is
    * row-identical to [[decontaminate]] (same schema, same values; the
    * spec proves it), and the verify join's left side is only the rare
    * survivors, safe to shuffle instead of broadcast.
    *
    * `expectedItems`/`fpp` size the filter; defaults hold the filter
    * under ~15 MB at 10M eval shingles. */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String,
      shingleN: Int = 8, minShared: Int = 1,
      expectedItems: Long = 10L * 1000 * 1000,
      fpp: Double = 0.01): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    require(fpp > 0 && fpp < 1, s"fpp must lie in (0,1), got $fpp")
    val evalShingles = evalSet
      .select(explode(array_distinct(
        shingles(col(evalTextCol), shingleN))).as("shingle"))
      .distinct()
    val bloom = evalShingles.stat
      .bloomFilter("shingle", expectedItems, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bc.value.mightContainString(s))
    val shared = corpus
      .select(col(idCol).as("__id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("shingle"))
      .filter(mightContain(col("shingle")))
      .join(evalShingles, "shingle") // exact verify: bloom FPs die here
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
    corpus.select(col(idCol))
      .join(shared, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("n_shared_ngrams"), lit(0L)) >= minShared)
          .as("is_contaminated"))
  }

  /** Exact n-gram Jaccard similarity join with prefix filtering (the
    * AllPairs/PPJoin candidate rule — public knowledge, Bayardo et al. /
    * Xiao et al.): under a global document-frequency-ascending shingle
    * order, two documents with J ≥ t must share a shingle within their
    * first `|d| − ⌈t·|d|⌉ + 1` shingles. Only those prefixes are indexed,
    * so a stop-phrase shared by m documents no longer yields m²/2 join
    * rows — the skew that made the unguarded inverted index a 100 TB
    * scale-killer. Rare-first ordering keeps every posting list in the
    * prefix index short by construction.
    *
    * Candidates additionally pass the length filter (t·|a| ≤ |b| ≤ |a|/t),
    * then verify EXACTLY by OVERLAP COUNT: a second inverted-index
    * equi-join restricted to the candidate pairs — candidate × left-side
    * shingles ⋈ the (doc, shingle) index on (doc_b, shingle), then
    * `groupBy(doc_a, doc_b).count()`. `n_shared` is all the output needs,
    * so no shingle ARRAY ever leaves the docs aggregate: verify traffic is
    * O(survivors × shingles) narrow rows instead of full sorted-array
    * payloads shipped through two joins and intersected per pair — the
    * part that grew with document length at 100 TB. The final
    * (doc_a, doc_b, n_shared, jaccard) rows are identical to the
    * unfiltered join's. */
  /** X96: CONTAINMENT join — the ASYMMETRIC overlap
    * `|A∩B| / |A| >= t` (directed: A's shingles mostly inside B) that
    * symmetric Jaccard cannot see: a 30-token fragment pasted into a
    * 500-token article scores Jaccard ≈ 0.06 but containment 1.0 —
    * the quote-expansion / excerpt-republication dedup modality.
    *
    * Candidate pruning is A-side-only (the asymmetry is fundamental:
    * the needed overlap `t·|A|` is invisible from B, so B cannot
    * prune): A keeps its `|A| − ⌈t·|A|⌉ + 1` globally-rarest shingles
    * (the [[jaccardSimilarityJoin]] rare-first AllPairs order — rare
    * shingles keep postings short) and probes the FULL inverted index;
    * any A with containment >= t must share a prefix shingle with its
    * container, so no pair is lost. The verify is the same
    * overlap-count join, thresholded on the raw ratio.
    *
    * Output: directed (doc_a, doc_b, n_shared, containment) rows with
    * doc_a's shingles contained in doc_b — each direction judged on
    * its own denominator. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val eps = 1e-9
    val sh = graft.util.Caches.persistTracked(
      df.select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(col(textCol), shingleN)))
          .as("shingle")))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__df"), col("shingle"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val prefixA = sh.join(dfreq, "shingle")
      .withColumn("__p", (row_number().over(wRank) - 1).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__p") <
        col("__n") - ceil(lit(threshold) * col("__n") - lit(eps)) + 1)
      .select(col("doc_id").as("doc_a"), col("shingle"),
        col("__n").as("__na"))
    val cand = prefixA
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        "shingle")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("__na")).distinct()
    cand
      .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("__na"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("__c", col("n_shared") / col("__na"))
      .filter(col("__c") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        graft.functions.quantize(col("__c"), 4).as("containment"))
  }

  def jaccardSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val (sh, cand) = jaccardCandidateStage(df, idCol, textCol, shingleN,
      threshold)
    // Overlap-count verify: candidate × left-side shingles ⋈ the inverted
    // index on (doc_b, shingle), counted per pair. Every candidate pair
    // shares at least one prefix shingle, so the inner join emits >= 1 row
    // per pair — no candidate is lost. The doc sizes ride the candidate
    // rows out of the aggregate above, so no size join-back is needed, and
    // only narrow (ids, shingle) rows ever move — the candidate side stays
    // AQE-broadcastable when survivors are few and degrades to a shuffled
    // hash join when they are not.
    cand
      .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_shared"))
      // threshold on the RAW ratio (rounding only for output): filtering on
      // the rounded value would admit pairs just below the threshold
      .withColumn("__j",
        col("n_shared") / (col("__na") + col("__nb") - col("n_shared")))
      .filter(col("__j") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        graft.functions.quantize(col("__j"), 4).as("jaccard"))
  }

  /** The shingle index + PPJoin candidate stage of [[jaccardSimilarityJoin]],
    * package-private so the skew stress spec can count the candidate set
    * directly: under a planted stop-phrase the candidate count staying
    * O(docs) IS the prefix filter working. Returns (shingle index, candidate
    * pairs with sizes); the index is persist-tracked. */
  private[graft] def jaccardCandidateStage(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    // t > 1 is unsatisfiable and would drive the prefix length negative;
    // t ≤ 0 degenerates to the full O(n²) pair space the operator exists
    // to avoid.
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // ε guards float fuzz in t·n: ceil must never round a mathematically
    // integral t·n upward (which would shorten the prefix and lose pairs).
    val eps = 1e-9
    val sh = graft.util.Caches.persistTracked(
      df.select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("shingle")))
      // feeds document frequencies, the prefix ranking and both sides of
      // the overlap-count verify; released via Caches.releaseAll
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    // Per-doc rare-first rank: row_number over (df asc, shingle asc) — the
    // global AllPairs ordering — computed RELATIONALLY (one shuffle keyed
    // by doc_id; the unordered size window rides the same exchange).
    // Prefix rows are just the first |d| − ⌈t·|d|⌉ + 1 ranks; no per-doc
    // sorted array is ever materialized (the former collect_list +
    // array_sort + posexplode build was the docs-stage bottleneck, and the
    // overlap-count verify no longer needs the arrays at all). Persisted:
    // the candidate self-join reads it twice and ReuseExchange does not
    // fire across a window chain.
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__df"), col("shingle"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val prefix = sh.join(dfreq, "shingle")
      .withColumn("__p", (row_number().over(wRank) - 1).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__p") <
        col("__n") - ceil(lit(threshold) * col("__n") - lit(eps)) + 1)
      .select(col("doc_id"), col("shingle"), col("__p"), col("__n"))
      .transform(graft.util.Caches.persistTracked)
    // Candidate pairs with the PPJoin POSITIONAL filter: the prefix join
    // yields, per pair, its m shared prefix shingles with their 0-based
    // array positions. Under the shared global order, any further shared
    // shingle must sit strictly after the LAST prefix match in BOTH arrays
    // (a shared shingle outside one side's prefix is ordered after every
    // prefix element of that side, hence after the last match on the other
    // side too), so overlap ≤ m + min(na−pa−1, nb−pb−1). J ≥ t needs
    // overlap ≥ t/(1+t)·(na+nb); pairs whose bound cannot reach it are
    // dropped HERE — in the same aggregate that replaced distinct() —
    // before any shingle array is shipped to the verify joins. Lossless:
    // the randomized all-pairs spec proves it at three thresholds.
    val alpha = ceil(
      lit(threshold / (1 + threshold)) * (col("__na") + col("__nb")) - lit(eps))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.__n") >= lit(threshold) * col("a.__n") - lit(eps) &&
          col("a.__n") >= lit(threshold) * col("b.__n") - lit(eps))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("__m"),
        max(col("a.__p")).as("__pa"), max(col("b.__p")).as("__pb"),
        first(col("a.__n")).as("__na"), first(col("b.__n")).as("__nb"))
      .filter(col("__m") +
        least(col("__na") - col("__pa") - 1,
          col("__nb") - col("__pb") - 1) >= alpha)
      .select(col("doc_a"), col("doc_b"), col("__na"), col("__nb"))
    (sh, cand)
  }

  /** X23: exact n-gram Jaccard join BETWEEN two corpora (R × S) — the
    * cross-table counterpart of [[jaccardSimilarityJoin]]: link every
    * left document to every right document with J ≥ `threshold`
    * (cross-source record linkage, contamination audit at exact-Jaccard
    * precision). Same AllPairs/PPJoin machinery, with one load-bearing
    * difference: document frequencies (and hence the rare-first prefix
    * order) are computed over the UNION of both corpora — the prefix
    * theorem requires both sides of a pair to rank their shingles under
    * the SAME global order. Candidates join left-prefix × right-prefix
    * (ids need not be disjoint — sides are kept apart structurally), pass
    * the length + positional filters, and verify by overlap count exactly
    * like the self-join. Output: (doc_a = left id, doc_b = right id,
    * n_shared, jaccard). */
  def jaccardSimilarityJoinBetween(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val eps = 1e-9
    def shOf(df: DataFrame, side: Int): DataFrame = df
      .select(lit(side).as("__side"), col(idCol).as("doc_id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("shingle"))
    val sh = graft.util.Caches.persistTracked(
      shOf(left, 0).unionByName(shOf(right, 1)))
    // GLOBAL document frequencies over both corpora: a per-side df would
    // rank the same shingle differently on the two sides and break the
    // prefix guarantee
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__side"), col("doc_id"))
      .orderBy(col("__df"), col("shingle"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__side"), col("doc_id"))
    val prefix = graft.util.Caches.persistTracked(sh.join(dfreq, "shingle")
      .withColumn("__p", (row_number().over(wRank) - 1).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__p") <
        col("__n") - ceil(lit(threshold) * col("__n") - lit(eps)) + 1)
      .select(col("__side"), col("doc_id"), col("shingle"), col("__p"),
        col("__n")))
    val alpha = ceil(
      lit(threshold / (1 + threshold)) * (col("__na") + col("__nb")) - lit(eps))
    val cand = prefix.filter(col("__side") === 0).as("a")
      .join(prefix.filter(col("__side") === 1).as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("b.__n") >= lit(threshold) * col("a.__n") - lit(eps) &&
          col("a.__n") >= lit(threshold) * col("b.__n") - lit(eps))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("__m"),
        max(col("a.__p")).as("__pa"), max(col("b.__p")).as("__pb"),
        first(col("a.__n")).as("__na"), first(col("b.__n")).as("__nb"))
      .filter(col("__m") +
        least(col("__na") - col("__pa") - 1,
          col("__nb") - col("__pb") - 1) >= alpha)
      .select(col("doc_a"), col("doc_b"), col("__na"), col("__nb"))
    cand
      .join(sh.filter(col("__side") === 0)
        .select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.filter(col("__side") === 1)
        .select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("__j",
        col("n_shared") / (col("__na") + col("__nb") - col("n_shared")))
      .filter(col("__j") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        graft.functions.quantize(col("__j"), 4).as("jaccard"))
  }

  /** X38: PARAGRAPH-granularity near-duplicate statistics — the fuzzy
    * complement of [[graft.text.SubstringDedup]]'s exact spans: split
    * each document on blank lines, run the standard MinHash+LSH banding
    * at paragraph level, and roll verdicts UP to documents as the
    * fraction of a doc's paragraphs that near-duplicate a paragraph of
    * some OTHER document (same-doc repetition is [[TextStats]]'s
    * `dup_ngram_ratio` territory, deliberately excluded here).
    *
    * Output: one row per doc — (doc_id, n_paras, n_dup_paras,
    * dup_para_fraction). Paragraphs shorter than `shingleN` words can't
    * carry a signature and count as never-duplicated (they stay in the
    * denominator: boilerplate detection should not reward one-word
    * paragraphs).
    *
    * Scale shape: the banding self-join is the SAME one-exchange
    * ReuseExchange pattern as [[minhashNearDuplicates]], just keyed at
    * paragraph grain — rows grow by the paragraphs-per-doc factor, the
    * plan does not change; the rollup is one doc_id-keyed aggregate.
    * The paragraph explode is persisted so the count and signature
    * branches share one pass over the split. */
  def paragraphNearDupStats(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): DataFrame =
    paragraphDupFlags(df, idCol, textCol, shingleN, k, bands, minMatch)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_paras"))
      .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
        graft.functions.quantize(col("n_dup_paras") / col("n_paras"), 4)
          .as("dup_para_fraction"))

  /** X38 (excision): drop every paragraph that near-duplicates a
    * paragraph of ANOTHER document and rebuild the doc from the
    * survivors (blank-line joined, original order and original casing —
    * the split is on blank lines, so surviving text is byte-preserved).
    * Output: (doc_id, kept_text, n_paras, n_dup_paras); `kept_text` is
    * empty when everything was boilerplate. The rebuild is one
    * doc_id-keyed aggregate over the flags projection. */
  def exciseDuplicateParagraphs(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      minMatch: Int = 8): DataFrame =
    paragraphDupFlags(df, idCol, textCol, shingleN, k, bands, minMatch)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_paras"),
        array_join(transform(
          array_sort(collect_list(
            when(!col("__dup"), struct(col("para_idx"), col("__p"))))),
          x => x.getField("__p")), "\n\n").as("kept_text"))
      .select(col("doc_id"), col("kept_text"), col("n_paras"),
        col("n_dup_paras"))

  /** Shared X38 kernel: one row per (doc, paragraph) with a cross-doc
    * near-dup flag — blank-line split, paragraph-grain MinHash banding
    * (the X2 ReuseExchange self-join), same-doc matches excluded. */
  private def paragraphDupFlags(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, bands: Int,
      minMatch: Int): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, "bands must divide k")
    val paras = graft.util.Caches.persistTracked(
      df.select(col(idCol).as("doc_id"),
          posexplode(split(col(textCol), "\\n\\s*\\n")))
        .select(col("doc_id"), col("pos").cast("long").as("para_idx"),
          col("col").as("__p")))
    val sig = paras.filter(size(words(col("__p"))) >= shingleN)
      .select(col("doc_id"), col("para_idx"),
        minhashWordsUdf(shingleN, k)(words(col("__p"))).as("sig"))
    val banded = bandedSig(sig, "sig", bands, rows)
    val dup = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .filter(size(filter(
        zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
        m => m)) >= minMatch)
      .select(col("a.doc_id").as("doc_id"), col("a.para_idx"))
      .distinct()
      .withColumn("__dup", lit(true))
    paras.join(dup, Seq("doc_id", "para_idx"), "left")
      .withColumn("__dup", coalesce(col("__dup"), lit(false)))
  }

  /** X45: CCNet-style cross-document LINE deduplication (Wenzek et al.
    * 2020, public knowledge) — the exact-line modality between X1 (whole
    * doc), X36 (token spans) and X38 (fuzzy paragraphs): every line's
    * trim-hash is deduplicated GLOBALLY, only the first occurrence (by
    * (doc_id, line index)) survives, and docs are rebuilt from their
    * surviving lines. This is the filter that strips navigation chrome,
    * cookie banners and boilerplate footers from web corpora. Blank and
    * whitespace-only lines are structure, not content — always kept,
    * never evidence. Within-doc repeats fall out of the same global rule
    * (CCNet hashes the corpus as one bag of lines).
    *
    * 100 TB shape: three bounded exchanges — (1) the first-occurrence
    * aggregate on the line hash, map-side combined so a boilerplate line
    * occurring 10⁸ times leaves each map task as ONE partial min;
    * (2) the verdict hash-join back on the line hash (probe-side skew is
    * AQE-splittable; the build side has one row per DISTINCT line); (3)
    * the per-doc rebuild aggregate on doc_id. A window over the hash
    * would compute the same rank but serializes every hot line's
    * occurrence list through one task — the groupBy+join form is the
    * skew-immune plan. NULL text behaves as empty (coalesce before the
    * split, the X39 null-doc convention).
    *
    * Output: (doc_id, n_lines, n_kept, dedup_text) — `dedup_text` is the
    * newline-joined survivors in original order and casing (byte-equal
    * to the input when nothing was dropped), empty when every content
    * line was a repeat. */
  def lineDeduplicate(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val lines = explodedLines(df, idCol, textCol)
    val first = lines.filter(col("dedupable"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("__f"))
    val flagged = lines.join(first, Seq("h"), "left")
      .withColumn("keep", !col("dedupable") ||
        (col("doc_id") === col("__f.doc_id") && col("idx") === col("__f.idx")))
    rebuildDocs(flagged)
  }

  /** Shared X45 kernel: one row per (doc, line) with the trim-hash and
    * the dedupable flag (blank/whitespace-only lines are structure). */
  private def explodedLines(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1)))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col").as("line"))
      .withColumn("dedupable", trim(col("line")) =!= "")
      .withColumn("h", md5(trim(col("line"))))

  /** Shared X45 rebuild: per-doc counts + the newline-joined survivors
    * in original order, from a flagged line relation. */
  private def rebuildDocs(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("idx"), col("line"))))),
          x => x.getField("line")), "\n").as("dedup_text"))

  /** X157: LSH BAND-PLAN S-CURVES — the tuning table behind every
    * (bands, rows) choice in this file (Leskovec/Rajaraman/Ullman,
    * "Mining of Massive Datasets" ch. 3, public knowledge): for each
    * candidate factorization b·r = k of the signature, the probability
    * that a pair with Jaccard similarity J becomes an LSH candidate is
    * P(J) = 1 − (1 − J^r)^b. Emitted on an exact J grid (i/gridSteps,
    * i = 1..gridSteps−1), this is the table an engineer reads before
    * setting `bands` on [[minhashNearDuplicates]]: more bands → the
    * S-curve shifts left (recall up, candidate cost up).
    *
    * Cross-engine determinism: J = i/gridSteps is one exact IEEE
    * division; the powers are EXPLICIT left-fold multiply chains
    * (((J·J)·J)… — b and r are config constants, so both the Column
    * tree and the oracle SQL spell out the same literal chain; no
    * libm `pow`, the X152 discipline). Configuration-sized output
    * (|bandOptions| × gridSteps rows) computed from a `spark.range`
    * spine — no data scan at all. Output: (bands, rows_per_band, j,
    * p_candidate). */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession, k: Int,
      bandOptions: Seq[Int], gridSteps: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(bandOptions.nonEmpty, "lshBandPlan: no band options")
    bandOptions.foreach(b => require(b >= 1 && k % b == 0,
      s"bands must divide k=$k, got $b"))
    require(gridSteps >= 2, s"gridSteps must be >= 2, got $gridSteps")
    val grid = spark.range(1, gridSteps)
      .select((col("id").cast("double") / gridSteps.toDouble).as("j"))
    val perB = bandOptions.map { b =>
      val r = k / b
      val jr = (2 to r).foldLeft(col("j"))((acc, _) => acc * col("j"))
      val miss = lit(1.0) - jr
      val missB = (2 to b).foldLeft(miss)((acc, _) => acc * miss)
      grid.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
        col("j"), (lit(1.0) - missB).as("p_candidate"))
    }
    perB.reduce(_.unionByName(_))
  }

  /** X158: per-document BOILERPLATE LINE SHARE — the CCNet-style
    * quality signal next to [[lineDeduplicate]]'s filter: for each
    * document, the fraction of its DISTINCT content lines that occur
    * in at least `minDocs` distinct documents of the corpus.
    * Navigation chrome, cookie banners and footer text repeat across
    * pages; a page that is MOSTLY such lines is template, not content
    * — this is the per-doc score a curation pipeline thresholds on,
    * where X45 only strips the repeated lines in place. Blank and
    * whitespace-only lines are structure, not evidence (the X45
    * convention); documents with zero content lines don't appear.
    *
    * 100 TB shape: the distinct (doc, line-hash) projection (one
    * map-side-combined aggregate), the line-frequency aggregate on the
    * hash (one row per DISTINCT line), a hash-join of the two (hot
    * boilerplate lines are AQE-splittable probe skew; the build side
    * is distinct-line-sized), and the per-doc rollup. No window, no
    * pair join. The share is one k/n division of exact counts (IEEE-
    * identical cross-engine; no rounding needed). Output: (doc_id,
    * n_lines, n_boiler, boiler_share). */
  def boilerplateShare(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame =
    boilerplateFromLines(docLineIndex(df, idCol, textCol), minDocs)

  /** The X158 sufficient statistic: the DISTINCT (doc_id, line
    * trim-hash) projection of a corpus — also what the streaming
    * line-index sink persists per micro-batch (a doc arrives in one
    * batch, so batch indexes union to exactly this relation). */
  def docLineIndex(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    explodedLines(df, idCol, textCol)
      .filter(col("dedupable"))
      .select(col("doc_id"), col("h"))
      .distinct()

  /** The X158 tail over a [[docLineIndex]]-shaped relation: line
    * frequency aggregate, hash join, per-doc rollup. */
  def boilerplateFromLines(dl: DataFrame, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val freq = dl.groupBy(col("h"))
      .agg(count(lit(1)).as("__nd"))
    dl.join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__nd") >= minDocs, 1L).otherwise(0L))
          .as("n_boiler"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_lines").cast("double"))
          .as("boiler_share"))
  }

  /** X45 (index): the persisted-state form — (h = line trim-hash,
    * doc_id = first claimant) rows, one per distinct content line of
    * `df`. The X22/X40 index pattern at LINE grain: append-only
    * `batch_id=`-partitioned parquet, compacted by
    * [[compactDedupIndex]]'s sibling layout. */
  def buildLineIndex(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    explodedLines(df, idCol, textCol)
      .filter(col("dedupable"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("__f"))
      .select(col("h"), col("__f.doc_id").as("doc_id"))

  /** X45 (incremental): deduplicate a BATCH against the already-claimed
    * line set — a batch line is dropped when its hash exists in the
    * index OR a lower-(doc_id, idx) batch occurrence claimed it first;
    * blank lines always survive. The index is scanned ONCE and never
    * shuffled: the batch's distinct hashes broadcast into a left-semi
    * probe, and only the (batch-bounded) matches flow on. Output matches
    * [[lineDeduplicate]]. */
  def lineDeduplicateIndexed(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val lines = explodedLines(batch, idCol, textCol)
    val batchHashes = lines.filter(col("dedupable"))
      .select(col("h")).distinct()
    val seen = index.join(broadcast(batchHashes), Seq("h"), "left_semi")
      .select(col("h")).distinct()
      .withColumn("__seen", lit(true))
    val first = lines.filter(col("dedupable"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("__f"))
    val flagged = lines.join(first, Seq("h"), "left")
      .join(broadcast(seen), Seq("h"), "left")
      .withColumn("keep", !col("dedupable") ||
        (col("__seen").isNull &&
          col("doc_id") === col("__f.doc_id") &&
          col("idx") === col("__f.idx")))
    rebuildDocs(flagged)
  }
}
