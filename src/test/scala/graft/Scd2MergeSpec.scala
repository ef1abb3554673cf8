package graft

import graft.load.{Loaders, MergeConfig, Scd2Merge}
import graft.meta.Meta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden-count SCD2 contract tests, transplanted from the reference's
  * scenario specs (reference: src/test/scala/LoadHubParquetSpec.scala:48,76,
  * LoadSatelliteParquetSpec.scala:114-152,
  * LoadSatelliteOverwriteParquetSpec.scala:130). */
class Scd2MergeSpec extends SparkSpec {
  import spark.implicits._

  private def base: DataFrame = Seq(
    (1, "gold", "NY"), (2, "silver", "SF"), (3, "gold", "LA"), (4, "bronze", "TX"))
    .toDF("cid", "tier", "city")

  private def cfg(delta: Boolean = true, overwrite: Boolean = false,
      del: Option[(String, Seq[String])] = None) = MergeConfig(
    idFields = Seq("cid"), idType = "cust", entityType = "cust",
    source = "unit", processType = if (delta) "delta" else "full",
    processId = "p1", userId = "t", processTime = "2024-03-01 00:00:00",
    isDelta = delta, overwrite = overwrite, deleteIndicatorField = del)

  behavior of "Scd2Merge first load"

  it should "insert every deduped row as I/version 1" in {
    val r = Scd2Merge.merge(base.union(base), None, cfg())
    r.history.count() shouldBe 4
    r.history.agg(min(Meta.Version), max(Meta.Version)).head() shouldBe
      org.apache.spark.sql.Row(1, 1)
    r.history.filter(col(Meta.RecType) =!= Meta.Rec.Insert).count() shouldBe 0
    r.current.count() shouldBe 4
  }

  behavior of "delta merge"

  it should "classify inserts, updates and flag-deletes with version bumps" in {
    val first = Scd2Merge.merge(base, None, cfg())
    val delta = Seq(
      (1, "plat", "NY", "N"),  // changed tier -> U v2
      (2, "silver", "SF", "N"), // unchanged -> no row
      (3, "gold", "LA", "Y"),  // delete flag -> D v2
      (5, "gold", "AK", "N"))  // new -> I v1
      .toDF("cid", "tier", "city", "del")
    val r = Scd2Merge.merge(delta, Some(first.history),
      cfg(del = Some(("del", Seq("Y")))).copy(projection =
        Some(Seq("cid", "tier", "city", "del"))))
    r.inserted.select("cid").as[Int].collect() shouldBe Array(5)
    r.changed.select("cid").as[Int].collect() shouldBe Array(1)
    r.removed.select("cid").as[Int].collect() shouldBe Array(3)
    r.changed.select(Meta.Version).as[Int].head() shouldBe 2
    r.removed.select(Meta.RecType).as[String].head() shouldBe "D"
    r.history.count() shouldBe 7 // 4 + I + U + D
    // snapshot picks latest version per entity
    r.current.filter(col("cid") === 1).select("tier").as[String].head() shouldBe "plat"
  }

  it should "emit only the D row when a batch has live and delete rows for one entity" in {
    val first = Scd2Merge.merge(base, None, cfg())
    val delta = Seq((1, "plat", "NY", "N"), (1, "plat2", "NY", "Y"))
      .toDF("cid", "tier", "city", "del")
    val r = Scd2Merge.merge(delta, Some(first.history),
      cfg(del = Some(("del", Seq("Y")))))
    r.changed.count() shouldBe 0
    r.inserted.count() shouldBe 0
    r.removed.count() shouldBe 1
    // exactly one new version; snapshot deterministic
    r.current.filter(col("cid") === 1).select(Meta.RecType)
      .as[String].head() shouldBe "D"
  }

  it should "fail loud on two different live rows of one entity in one batch" in {
    // (1,a) and (1,b) would both be stored as entity 1, version 1
    val probe = Seq((1, "a"), (1, "b"), (2, "c")).toDF("cid", "tier")
    val e = the[Exception] thrownBy
      Scd2Merge.merge(probe, None, cfg()).history.collect()
    e.getMessage should include("has two different live rows in one batch")
    val first = Scd2Merge.merge(base, None, cfg())
    an[Exception] should be thrownBy Scd2Merge.merge(
      Seq((1, "x", "NY"), (1, "y", "NY")).toDF("cid", "tier", "city"),
      Some(first.history), cfg()).history.collect()
    // exact duplicates stay legal
    Scd2Merge.merge(Seq((1, "a"), (1, "a"), (2, "c")).toDF("cid", "tier"),
      None, cfg()).history.count() shouldBe 2
  }

  it should "detect deletes by absence on full loads" in {
    val first = Scd2Merge.merge(base, None, cfg())
    val full = base.filter(col("cid") =!= 4)
    val r = Scd2Merge.merge(full, Some(first.history), cfg(delta = false))
    r.removed.select("cid").as[Int].collect() shouldBe Array(4)
    r.inserted.count() shouldBe 0
    r.changed.count() shouldBe 0
  }

  it should "be idempotent: re-loading the same batch yields no changes" in {
    val first = Scd2Merge.merge(base, None, cfg())
    val r = Scd2Merge.merge(base, Some(first.history), cfg(delta = false))
    r.inserted.count() shouldBe 0
    r.changed.count() shouldBe 0
    r.removed.count() shouldBe 0
    r.history.count() shouldBe 4
  }

  it should "resume version numbering after a delete lineage" in {
    val first = Scd2Merge.merge(base, None, cfg())
    val gone = Scd2Merge.merge(base.filter(col("cid") =!= 1),
      Some(first.history), cfg(delta = false))
    val back = Scd2Merge.merge(base, Some(gone.history), cfg())
    val row = back.inserted.filter(col("cid") === 1)
      .select(Meta.Version, Meta.RecType).head()
    row.getInt(0) shouldBe 3 // v1 I, v2 D, v3 I
    row.getString(1) shouldBe "I"
  }

  behavior of "overwrite (close-off) mode"

  it should "set end_time of superseded versions to the new start_time" in {
    val first = Scd2Merge.merge(base, None, cfg())
    val upd = base.withColumn("tier",
      when(col("cid") === 2, lit("gold")).otherwise(col("tier")))
    val r = Scd2Merge.merge(upd, Some(first.history),
      cfg(delta = false, overwrite = true)
        .copy(processTime = "2024-04-01 00:00:00"))
    val closed = r.history.filter(col("cid") === 2 && col(Meta.Version) === 1)
      .select(col(Meta.EndTime).cast("string")).as[String].head()
    closed shouldBe "2024-04-01 00:00:00"
    // untouched entities keep the open-end sentinel
    val open = r.history.filter(col("cid") === 1)
      .select(col(Meta.EndTime).cast("string")).as[String].head()
    open shouldBe "9999-12-31 00:00:00"
  }

  it should "stamp business validity from configured fields" in {
    val src = Seq((1, "a", "2023-01-01 00:00:00")).toDF("cid", "tier", "vstart")
    val r = Scd2Merge.merge(src, None,
      cfg().copy(validStartTimeField = Some("vstart")))
    val row = r.history.select(
      col(Meta.ValidStartTime).cast("string"),
      col(Meta.ValidEndTime).cast("string")).head()
    row.getString(0) shouldBe "2023-01-01 00:00:00"
    row.getString(1) shouldBe "9999-12-31 00:00:00"
  }

  behavior of "loadHub / loadLink wrappers"

  it should "strip payload columns on hub loads" in {
    val r = Loaders.loadHub(base, None, cfg())
    r.history.columns should contain(Meta.EntityId)
    r.history.columns should contain("cid")
    r.history.columns should not contain "tier"
  }

  it should "build composite link keys from both side hashes" in {
    val pairs = Seq((1, 10), (2, 20)).toDF("src", "dst")
    val r = Loaders.loadLink(pairs, None,
      srcFields = Seq("src"), srcIdType = "a",
      dstFields = Seq("dst"), dstIdType = "b",
      cfg().copy(idFields = Seq("src", "dst")))
    r.history.select(Meta.SrcEntityId).distinct().count() shouldBe 2
    r.history.columns should contain allOf (Meta.SrcEntityId, Meta.DstEntityId)
  }

  behavior of "loadMapping"

  it should "carry the confidence weight and version it on change" in {
    val pairs = Seq((1, 10, 0.9), (2, 20, 0.5)).toDF("src", "dst", "conf")
    val first = Loaders.loadMapping(pairs, None,
      srcFields = Seq("src"), srcIdType = "a",
      dstFields = Seq("dst"), dstIdType = "b",
      confidenceCol = "conf", cfg())
    first.history.columns should contain(Meta.Confidence)
    first.history.select(Meta.Confidence).as[Double].collect().sorted shouldBe
      Array(0.5, 0.9)
    // confidence is an attribute: a weight change alone is an Update
    val rescored = Seq((1, 10, 0.9), (2, 20, 0.7)).toDF("src", "dst", "conf")
    val r = Loaders.loadMapping(rescored, Some(first.history),
      srcFields = Seq("src"), srcIdType = "a",
      dstFields = Seq("dst"), dstIdType = "b",
      confidenceCol = "conf", cfg())
    r.inserted.count() shouldBe 0
    r.changed.count() shouldBe 1
    r.changed.select(Meta.Confidence).as[Double].head() shouldBe 0.7
    r.changed.select(Meta.Version).as[Int].head() shouldBe 2
  }

  it should "reject an incoming batch without the confidence column" in {
    val pairs = Seq((1, 10)).toDF("src", "dst")
    an[IllegalArgumentException] should be thrownBy
      Loaders.loadMapping(pairs, None,
        srcFields = Seq("src"), srcIdType = "a",
        dstFields = Seq("dst"), dstIdType = "b",
        confidenceCol = "conf", cfg())
  }
}
