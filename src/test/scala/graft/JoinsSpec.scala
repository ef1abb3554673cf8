package graft

import graft.relational.Joins
import org.apache.spark.sql.functions._

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  it should "match each left row to the latest preceding right row (as-of join)" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:05"), "t1"),
      (1L, ts("2024-01-01 10:00:10"), "t2"), // exactly AT a quote ts
      (1L, ts("2024-01-01 09:00:00"), "t0"), // before any quote
      (2L, ts("2024-01-01 10:00:07"), "t3"))
      .toDF("k", "ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:00:10"), 101.0),
      (2L, ts("2024-01-01 10:00:01"), 50.0))
      .toDF("k", "ts", "px")
    val r = Joins.asOfJoin(trades, quotes, Seq("k"), "ts", "ts")
      .select("trade", "px", "asof_ts")
      .as[(String, Option[Double], Option[java.sql.Timestamp])]
      .collect().map(t => t._1 -> ((t._2, t._3.map(_.toString)))).toMap
    r("t0") shouldBe ((None, None)) // nothing precedes → null match
    r("t1") shouldBe ((Some(100.0), Some("2024-01-01 10:00:00.0")))
    r("t2") shouldBe ((Some(101.0), Some("2024-01-01 10:00:10.0"))) // ties see the right row
    r("t3") shouldBe ((Some(50.0), Some("2024-01-01 10:00:01.0")))
    // tolerance voids stale matches: t1's quote is 5s old, t3's 6s old
    val tol = Joins.asOfJoin(trades, quotes, Seq("k"), "ts", "ts",
      toleranceSec = Some(5L))
      .select("trade", "px").as[(String, Option[Double])].collect().toMap
    tol("t1") shouldBe Some(100.0)
    tol("t2") shouldBe Some(101.0)
    tol("t3") shouldBe None // older than the tolerance window
  }

  it should "take as-of values from the matched row only, and never match NULL keys" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the matched row carries a genuine NULL value: it must come through
    // as NULL, not be backfilled from the older row (values and the
    // reported asof_ts must come from the SAME right row)
    val l1 = Seq((1L, ts("2024-01-01 10:00:20"), "a"))
      .toDF("k", "ts", "tag")
    val r1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(100.0)),
      (1L, ts("2024-01-01 10:00:10"), None))
      .toDF("k", "ts", "px")
    val m = Joins.asOfJoin(l1, r1, Seq("k"), "ts", "ts")
      .select("px", "asof_ts")
      .as[(Option[Double], Option[java.sql.Timestamp])].head()
    m._1 shouldBe None // NOT 100.0 from the older row
    m._2.map(_.toString) shouldBe Some("2024-01-01 10:00:10.0")
    // NULL join keys: equi-join semantics — a null-key left row gets a
    // null match even when a null-key right row precedes it
    val l2 = Seq((Option.empty[Long], ts("2024-01-01 10:00:05"), "n"))
      .toDF("k", "ts", "tag")
    val r2 = Seq((Option.empty[Long], ts("2024-01-01 10:00:00"), 7.0))
      .toDF("k", "ts", "px")
    Joins.asOfJoin(l2, r2, Seq("k"), "ts", "ts")
      .select("px").as[Option[Double]].head() shouldBe None
    // reserved/colliding names fail loud, not silently overwrite
    intercept[IllegalArgumentException] {
      Joins.asOfJoin(l1.withColumnRenamed("tag", "asof_ts"), r1,
        Seq("k"), "ts", "ts")
    }
  }

  "pointInTimeTrainingSet (F24)" should "compose prefixed as-of features and never leak the future" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val labels = Seq(
      (1L, ts("2024-01-10 12:00:00"), 100L),
      (1L, ts("2024-01-02 12:00:00"), 101L))
      .toDF("user", "ts", "label_id")
    val fa = Seq(
      (1L, ts("2024-01-01 00:00:00"), 5.0),
      // FUTURE feature relative to both labels: must never be picked
      (1L, ts("2024-02-01 00:00:00"), 99.0))
      .toDF("user", "ts", "score")
    val fb = Seq((1L, ts("2024-01-09 00:00:00"), 7L))
      .toDF("user", "ts", "cnt")
    val out = Joins.pointInTimeTrainingSet(labels,
        Seq("a" -> fa, "b" -> fb), Seq("user"), "ts", "ts",
        toleranceSec = Some(5L * 86400))
      .select(col("label_id"), col("a_score"), col("b_cnt"))
      .as[(Long, Option[Double], Option[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // label 101 (Jan 2): a is 1.5 days old (fresh), b doesn't exist yet
    out(101L) shouldBe ((Some(5.0), None))
    // label 100 (Jan 10): a is 9.5 days old -> voided by the 5-day
    // horizon; b is 1.5 days old
    out(100L) shouldBe ((None, Some(7L)))
    // duplicate prefixes fail loud
    intercept[IllegalArgumentException] {
      Joins.pointInTimeTrainingSet(labels, Seq("a" -> fa, "a" -> fb),
        Seq("user"), "ts", "ts")
    }
    graft.util.Caches.releaseAll(spark)
  }

  it should "fail loud, naming the clash, when an output name is already a label column" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val labels = Seq((1L, ts("2024-01-10 00:00:00"), "x"))
      .toDF("user", "ts", "f_asof_ts")
    val f = Seq((1L, ts("2024-01-09 00:00:00"), 1.0)).toDF("user", "ts", "v")
    val g = Seq((1L, ts("2024-01-08 00:00:00"), 2L)).toDF("user", "ts", "n")
    val f24 = intercept[IllegalArgumentException] {
      Joins.pointInTimeTrainingSet(labels, Seq("f" -> f, "g" -> g),
        Seq("user"), "ts", "ts")
    }
    f24.getMessage should include("f_asof_ts (labels, f)")
    val f14 = intercept[IllegalArgumentException] {
      graft.ml.FeaturePrep.pointInTimeMatrix(labels, Seq("user"), "ts",
        Seq(("f", f, "ts"), ("g", g, "ts")))
    }
    f14.getMessage should include("f_asof_ts (labels, f)")
    // a prefixed value column on a label name, one name from two tables,
    // and a value column named like its own table's matched time
    def one(v: String) = Seq((1L, ts("2024-01-07 00:00:00"), 3L))
      .toDF("user", "ts", v)
    val e = intercept[IllegalArgumentException] {
      Joins.pointInTimeTrainingSet(labels.withColumnRenamed("f_asof_ts", "g_n"),
        Seq("g" -> g, "a" -> one("b_x"), "a_b" -> one("x"), "c" -> one("asof_ts")),
        Seq("user"), "ts", "ts")
    }
    e.getMessage should include("g_n (labels, g)")
    e.getMessage should include("a_b_x (a, a_b)")
    e.getMessage should include("c_asof_ts (c, c)")
  }

  it should "never manufacture a match from a NULL right timestamp" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // a right row with a NULL ts sorts FIRST in the ascending window; if
    // kept, last(ignoreNulls) would carry its payload into left rows
    // with no real preceding right row. DuckDB's ASOF (l.ts >= r.ts)
    // never matches NULL — neither may we.
    val l = Seq((1L, ts("2024-01-01 10:00:05"), "early"))
      .toDF("k", "ts", "tag")
    val r = Seq(
      (1L, Option.empty[java.sql.Timestamp], 999.0),
      (1L, Some(ts("2024-01-01 11:00:00")), 100.0)) // AFTER the left row
      .toDF("k", "ts", "px")
    val m = Joins.asOfJoin(l, r, Seq("k"), "ts", "ts")
      .select("px", "asof_ts")
      .as[(Option[Double], Option[java.sql.Timestamp])].head()
    m shouldBe ((None, None)) // not 999.0 from the NULL-ts row
  }

  it should "enforce right-side (keys, ts) uniqueness when checkUnique is set" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, ts("2024-01-01 10:00:05"), "a")).toDF("k", "ts", "tag")
    val dup = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:00:00"), 2.0)) // same (k, ts): no winner
      .toDF("k", "ts", "px")
    val e = intercept[IllegalArgumentException] {
      Joins.asOfJoin(l, dup, Seq("k"), "ts", "ts", checkUnique = true)
    }
    e.getMessage should include("duplicate")
    // unique right side passes the check and returns the normal result
    val ok = Seq((1L, ts("2024-01-01 10:00:00"), 1.0)).toDF("k", "ts", "px")
    Joins.asOfJoin(l, ok, Seq("k"), "ts", "ts", checkUnique = true)
      .select("px").as[Option[Double]].head() shouldBe Some(1.0)
  }

  it should "predict the exact join cardinality and rank skew keys" in {
    // left: key 1 ×3, key 2 ×1, key 3 ×2, NULL ×2; right: 1 ×4, 2 ×5
    val left = Seq(Some(1L), Some(1L), Some(1L), Some(2L), Some(3L),
      Some(3L), None, None).toDF("k")
    val right = (Seq.fill(4)(Some(1L)) ++ Seq.fill(5)(Some(2L)))
      .toDF("j")
    val audit = Joins.joinCardinalityAudit(left, right, "k", "j")
      .collect()
    // keys 1 (3·4=12) and 2 (1·5=5); key 3 and NULLs never join
    audit.map(r => (r.getLong(0), r.getLong(3))).toSeq shouldBe
      Seq((1L, 12L), (2L, 5L))
    audit.map(_.getLong(3)).sum shouldBe
      left.join(right, col("k") === col("j")).count()
    audit(0).getDouble(4) shouldBe (12.0 / 17) +- 1e-6
  }

  it should "produce identical results salted and unsalted" in {
    // heavily skewed probe side: 900 of 1000 rows share key 1
    val probe = ((1 to 900).map(i => (1, i)) ++ (1 to 100).map(i => (i, i)))
      .toDF("k", "payload")
    val build = (1 to 100).map(i => (i, s"dim$i")).toDF("k", "attr")
    val plain = probe.join(build, Seq("k")).groupBy("k")
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toMap
    val salted = Joins.saltedJoin(probe, build, Seq("k"), salts = 8)
      .groupBy("k").agg(count(lit(1)).as("n")).as[(Int, Long)].collect().toMap
    salted shouldBe plain
    salted(1) shouldBe 901L // 900 skew rows + the (1,1) row from the tail
  }

  it should "spread a hot key across salt partitions" in {
    val probe = (1 to 1000).map(i => (1, i)).toDF("k", "payload")
    val salts = probe.withColumn("__salt",
      pmod(xxhash64(probe.columns.map(col): _*), lit(8L)))
      .select(countDistinct(col("__salt"))).as[Long].head()
    salts should be > 4L // the hot key's rows land in many salt buckets
  }

  it should "join bucketed tables without an exchange" in {
    val left = (1 to 500).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (1 to 500).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    Joins.writeBucketed(left, "bkt_left", Seq("k"), buckets = 8)
    Joins.writeBucketed(right, "bkt_right", Seq("k"), buckets = 8)
    // disable auto-broadcast so the shuffle-free SMJ path is observable
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      joined.count() shouldBe 500
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      plan should not include "Exchange"
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  behavior of "FeaturePrep.pointInTimeMatrix (F14)"

  it should "assemble leakage-free features from multiple tables" in {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val labels = Seq((1L, ts("2024-01-10 00:00:00"), 100L, 1.0))
      .toDF("user_id", "ts", "event_id", "label")
    val fa = Seq(
      (1L, ts("2024-01-09 00:00:00"), 7.0), // visible
      (1L, ts("2024-01-11 00:00:00"), 9.0)) // AFTER the label: unseen
      .toDF("user_id", "ts", "v")
    val fb = Seq((1L, ts("2024-01-05 00:00:00"), 3L))
      .toDF("user_id", "ts", "n")
    val m = graft.ml.FeaturePrep.pointInTimeMatrix(labels,
      Seq("user_id"), "ts", Seq(("a", fa, "ts"), ("b", fb, "ts")))
    val r = m.select(col("a_v"), col("b_n"),
      col("a_asof_ts").cast("string"), col("b_asof_ts").cast("string"))
      .as[(Double, Long, String, String)].head()
    r._1 shouldBe 7.0 // not the future 9.0
    r._2 shouldBe 3L
    r._3 shouldBe "2024-01-09 00:00:00"
    r._4 shouldBe "2024-01-05 00:00:00"
  }

  it should "reject duplicate feature prefixes and keep missing features NULL" in {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val labels = Seq((1L, ts("2024-01-10 00:00:00"), 1.0))
      .toDF("user_id", "ts", "label")
    val f = Seq((2L, ts("2024-01-09 00:00:00"), 7.0)) // other user only
      .toDF("user_id", "ts", "v")
    an[IllegalArgumentException] should be thrownBy
      graft.ml.FeaturePrep.pointInTimeMatrix(labels, Seq("user_id"),
        "ts", Seq(("x", f, "ts"), ("x", f, "ts")))
    val m = graft.ml.FeaturePrep.pointInTimeMatrix(labels,
      Seq("user_id"), "ts", Seq(("x", f, "ts")))
    m.select(col("x_v")).collect().head.isNullAt(0) shouldBe true
  }

  it should "check every table's (keys, ts) uniqueness at once and name the offending table" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val labels = Seq((1L, ts("2024-01-10 00:00:00"))).toDF("user_id", "ts")
    val a = Seq((1L, ts("2024-01-09 00:00:00"), 7.0),
      (1L, ts("2024-01-08 00:00:00"), 6.0)).toDF("user_id", "ts", "v")
    val b = Seq((1L, ts("2024-01-05 00:00:00"), 3L),
      (1L, ts("2024-01-05 00:00:00"), 4L)).toDF("user_id", "at", "n")
    val e = intercept[IllegalArgumentException] {
      graft.ml.FeaturePrep.pointInTimeMatrix(labels, Seq("user_id"), "ts",
        Seq(("a", a, "ts"), ("b", b, "at")), checkUnique = true)
    }
    e.getMessage should include("duplicate")
    e.getMessage should include("First offenders: b (1,2024-01-05 00:00:00")
    graft.ml.FeaturePrep.pointInTimeMatrix(labels, Seq("user_id"), "ts",
        Seq(("a", a, "ts"), ("b", b.limit(1), "at")), checkUnique = true)
      .select("a_v", "b_n").as[(Double, Long)].head() shouldBe ((7.0, 3L))
  }

  behavior of "Associations.basketRules (X92)"

  it should "emit hand-computed support/confidence/lift both ways" in {
    import spark.implicits._
    // baskets: {1,2,3}, {1,2}, {1,2}, {3}; only (1,2) reaches co >= 2
    val b = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L), (30L, 2L), (40L, 3L))
      .toDF("basket", "item")
    val got = graft.relational.Associations
      .basketRules(b, "basket", "item", minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    got.keySet shouldBe Set((1L, 2L), (2L, 1L))
    // n_both=3, n_ante=n_cons=3, N=4: support .75, conf 1, lift 4/3
    got((1L, 2L)) shouldBe ((3L, 3L, 3L, 0.75, 1.0, 4.0 / 3))
    got((2L, 1L)) shouldBe ((3L, 3L, 3L, 0.75, 1.0, 4.0 / 3))
    graft.util.Caches.releaseAll(spark)
  }

  "Associations.itemCosineTopK (X105)" should "rank neighbors by hand-computed cosine with deterministic ties" in {
    import spark.implicits._
    // item 1 in baskets {10,20,30}; item 2 in {10,20,30}; item 3 in {10}
    val b = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L))
      .toDF("basket", "item")
    val got = graft.relational.Associations
      .itemCosineTopK(b, "basket", "item", minCount = 1, k = 5)
      .select(col("item"), col("neighbor"), col("n_both"), col("cosine"),
        col("rank"))
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // cos(1,2) = 3/sqrt(9) = 1; cos(1,3) = 1/sqrt(3); cos(2,3) same
    got((1L, 2L))._2 shouldBe 1.0 +- 1e-15
    got((1L, 2L))._3 shouldBe 1L
    got((1L, 3L))._2 shouldBe (1.0 / math.sqrt(3.0)) +- 1e-15
    got((1L, 3L))._3 shouldBe 2L
    got((3L, 1L))._3 shouldBe 1L // equal cosines tie-break by id
    got((3L, 2L))._3 shouldBe 2L
    // symmetric pairs present both ways
    got.keySet should contain allOf ((2L, 1L), (2L, 3L))
    graft.util.Caches.releaseAll(spark)
  }

  it should "respect minCount and dedupe repeated items in a basket" in {
    import spark.implicits._
    val b = Seq((1L, 7L), (1L, 7L), (1L, 8L), (2L, 7L), (2L, 9L))
      .toDF("basket", "item")
    val rules = graft.relational.Associations
      .basketRules(b, "basket", "item", minCount = 2)
    rules.count() shouldBe 0 // no pair reaches 2 baskets
    val all = graft.relational.Associations
      .basketRules(b, "basket", "item", minCount = 1)
      .select(col("antecedent"), col("consequent"), col("n_both"))
      .as[(Long, Long, Long)].collect().toSet
    // repeated (1,7) counts once: pair (7,8) co=1, (7,9) co=1
    all shouldBe Set((7L, 8L, 1L), (8L, 7L, 1L), (7L, 9L, 1L),
      (9L, 7L, 1L))
    graft.util.Caches.releaseAll(spark)
  }

  it should "cap a planted mega-basket to maxBasketSize smallest ids (bounded pair fan-out)" in {
    import spark.implicits._
    // a 10k-item bot basket + one normal basket; cap 50 bounds the
    // mega-basket to C(50,2) = 1225 unordered pairs instead of ~50M
    val mega = (1L to 10000L).map(i => (1L, i))
    val normal = Seq((2L, 1L), (2L, 2L), (2L, 3L))
    val b = (mega ++ normal).toDF("basket", "item")
    val rules = graft.relational.Associations
      .basketRules(b, "basket", "item", minCount = 1, maxBasketSize = 50)
      .select(col("antecedent"), col("consequent"))
      .as[(Long, Long)].collect()
    // only the 50 smallest ids survive the cap
    rules.flatMap(t => Seq(t._1, t._2)).max should be <= 50L
    // both directions of <= 1225 unordered pairs
    rules.length should be <= 2450
    rules.length shouldBe 2450 // cap keeps exactly ids 1..50
    val cf = graft.relational.Associations
      .itemCosineTopK(b, "basket", "item", minCount = 1, k = 3,
        maxBasketSize = 50)
      .select(col("item")).as[Long].collect()
    cf.max should be <= 50L
    graft.util.Caches.releaseAll(spark)
  }

  it should "be priced by joinCardinalityAudit as the uncapped pre-flight (straggler contract)" in {
    import spark.implicits._
    // the scaladoc contract: auditing the (basket, item) incidence
    // against itself keyed by basket yields join_rows = |b|² per
    // basket — the exact pair cost the uncapped rules join pays —
    // and ranks the hot basket first
    val mega = (1L to 100L).map(i => (1L, i))
    val normal = Seq((2L, 1L), (2L, 2L), (2L, 3L), (3L, 1L), (3L, 2L))
    val b = (mega ++ normal).toDF("basket", "item")
    val inc = b.distinct()
    val audit = graft.relational.Joins
      .joinCardinalityAudit(inc, inc, "basket", "basket", topK = 3)
      .select(col("key").cast("long"), col("join_rows"))
      .as[(Long, Long)].collect()
    audit.head shouldBe ((1L, 10000L)) // the bot basket: 100² pairs
    audit.map(_._2).sum shouldBe (10000L + 9L + 4L) // Σ|b|²
    // and the audit's price really is what the uncapped join pays:
    // ordered-pair rows before the a<z filter = Σ|b|² (via n_both sums)
    val pairs = graft.relational.Associations
      .basketRules(b, "basket", "item", minCount = 1)
      .agg(org.apache.spark.sql.functions.sum(col("n_both")))
      .as[Long].head()
    // both directed rules per unordered co-occurring pair:
    // Σ_b |b|·(|b|−1) = 100·99 + 3·2 + 2·1
    pairs shouldBe (100L * 99 + 6 + 2)
    graft.util.Caches.releaseAll(spark)
  }
}
