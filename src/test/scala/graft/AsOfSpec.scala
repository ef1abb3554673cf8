package graft

import graft.relational.Joins
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The one-exchange as-of kernel against the per-table fold it replaced,
  * kept here as the reference: `asOfJoin` (J13), `pointInTimeTrainingSet`
  * (F24) and `pointInTimeMatrix` (F14) must give the same schema and the
  * same rows as one union-window as-of join per feature table, folded
  * over the labels.
  *
  * Scenarios come from fixed seeds: 1–4 feature tables with 1–3 value
  * columns of mixed types, one or two join keys, null keys and null
  * timestamps on both sides, timestamps on a few shared seconds (so
  * feature rows tie the label timestamp and each other across tables),
  * NULL values inside matched rows, columns declared non-nullable, and
  * tolerance on and off. Feature tables are unique per (keys, ts), the
  * operators' contract. Each scenario runs at its own shuffle partition
  * count over input split into its own number of partitions. */
class AsOfSpec extends SparkSpec {

  /** The single-table union-window as-of join the kernel replaced. */
  private def refAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, toleranceSec: Option[Long]): DataFrame = {
    val leftOther = left.columns.filterNot(keys.contains)
      .filterNot(_ == leftTs).toSeq
    val rightVals = right.columns.filterNot(keys.contains)
      .filterNot(_ == rightTs).toSeq
    val payloadType = StructType(
      rightVals.map(c => StructField(c, right.schema(c).dataType)) :+
        StructField("__rts", TimestampType))
    val l = left.select(
      (keys.map(col) :+ col(leftTs).cast("timestamp").as("__ts") :+
        lit(1).as("__side") :+ lit(null).cast(payloadType).as("__rp")) ++
        leftOther.map(col): _*)
    val r = right
      .filter((keys.map(col(_).isNotNull) :+
        col(rightTs).cast("timestamp").isNotNull).reduce(_ && _))
      .select(
        (keys.map(col) :+ col(rightTs).cast("timestamp").as("__ts") :+
          lit(0).as("__side") :+
          struct(rightVals.map(col) :+
            col(rightTs).cast("timestamp").as("__rts"): _*).as("__rp")) ++
          leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__rp", last(col("__rp"), ignoreNulls = true).over(w))
    val stale = toleranceSec.map(t =>
      col("__rp.__rts") < col("__ts") - expr(s"INTERVAL $t SECONDS"))
      .getOrElse(lit(false))
    val keep = when(stale, lit(null).cast(payloadType)).otherwise(col("__rp"))
    carried.filter(col("__side") === 1)
      .select((keys.map(col) :+ col("__ts").as(leftTs)) ++
        leftOther.map(col) ++
        rightVals.map(c => keep.getField(c).as(c)) :+
        keep.getField("__rts").as("asof_ts"): _*)
  }

  /** F24/F14 as the fold of one reference as-of join per table. */
  private def refFold(labels: DataFrame,
      features: Seq[(String, DataFrame, String)], keys: Seq[String],
      labelTs: String, toleranceSec: Option[Long]): DataFrame =
    features.foldLeft(labels) { case (acc, (prefix, ft, ts)) =>
      val renamed = ft.columns.foldLeft(ft) { (d, c) =>
        if (keys.contains(c) || c == ts) d
        else d.withColumnRenamed(c, s"${prefix}_$c")
      }
      refAsOf(acc, renamed, keys, labelTs, ts, toleranceSec)
        .withColumnRenamed("asof_ts", s"${prefix}_asof_ts")
    }

  private val Jan1 = 1704067200L // 2024-01-01 00:00:00 UTC

  /** A column: its name, type, whether it may hold NULLs, its values. */
  private case class Col(name: String, tpe: DataType, nullable: Boolean,
      gen: Gen[Any])

  private case class Table(cols: Seq[Col], rows: Seq[Row]) {
    def schema: StructType =
      StructType(cols.map(c => StructField(c.name, c.tpe, c.nullable)))
  }

  private def orNull(nullable: Boolean, g: Gen[Any], nullShare: Int): Gen[Any] =
    if (nullable) Gen.frequency(nullShare -> Gen.const(null), 12 -> g) else g

  /** Join key columns; `k` is Zipf-skewed over 4 entities. */
  private def keyCols(n: Int): Gen[Seq[Col]] = for {
    kn <- Gen.oneOf(true, false)
    gn <- Gen.oneOf(true, false)
  } yield Seq(
    Col("k", LongType, kn, orNull(kn, Gen.frequency(
      6 -> Gen.const(1L), 3 -> Gen.const(2L), 2 -> Gen.const(3L),
      1 -> Gen.const(4L)), 1)),
    Col("g", IntegerType, gn, orNull(gn, Gen.choose(0, 1), 1))).take(n)

  /** Epoch micros on a few shared seconds, sometimes half a second in. */
  private def tsCol(name: String): Gen[Col] = Gen.oneOf(true, false).map(n =>
    Col(name, LongType, n, orNull(n, for {
      s <- Gen.choose(0L, 24L)
      half <- Gen.frequency(5 -> Gen.const(0L), 1 -> Gen.const(500000L))
    } yield (Jan1 + s) * 1000000L + half, 1)))

  private def valueCol(name: String): Gen[Col] = for {
    n <- Gen.oneOf(true, false)
    tg <- Gen.oneOf[(DataType, Gen[Any])](
      LongType -> Gen.choose(-50L, 50L),
      DoubleType -> Gen.choose(-5000, 5000).map(_ / 100.0),
      StringType -> Gen.alphaLowerStr.map(_.take(3)),
      DecimalType(9, 2) -> Gen.choose(-5000, 5000)
        .map(c => java.math.BigDecimal.valueOf(c.toLong, 2)))
  } yield Col(name, tg._1, n, orNull(n, tg._2, 3))

  private def rowsOf(cols: Seq[Col], n: Int): Gen[Seq[Row]] =
    Gen.listOfN(n, Gen.sequence[Seq[Any], Any](cols.map(_.gen)).map(Row.fromSeq))

  private case class Scenario(keys: Seq[String], labels: Table,
      features: Seq[(String, Table, String)], tolerance: Option[Long],
      api: String)

  private val scenario: Gen[Scenario] = for {
    nKeys <- Gen.frequency(3 -> Gen.const(1), 1 -> Gen.const(2))
    keys <- keyCols(nKeys)
    lts <- tsCol("ts")
    tag <- valueCol("tag")
    nl <- Gen.choose(10, 60)
    lrows <- rowsOf(keys :+ lts :+ tag, nl)
    k <- Gen.choose(1, 4)
    api <- Gen.oneOf(Seq("F24", "F14") ++ (if (k == 1) Seq("J13") else Nil))
    features <- Gen.sequence[Seq[(String, Table, String)], (String, Table, String)](
      (0 until k).map { i =>
        val tsName = if (api == "F14") s"fts$i" else "ts"
        for {
          fts <- tsCol(tsName)
          nv <- Gen.choose(1, 3)
          vs <- Gen.sequence[Seq[Col], Col]((0 until nv).map(j => valueCol(s"x$j")))
          nr <- Gen.choose(0, 40)
          rows <- rowsOf(keys ++ (fts +: vs), nr)
        } yield {
          // unique per (keys, ts) among rows the join can match
          val at = keys.size
          val live = rows.filter(r => (0 to at).forall(!r.isNullAt(_)))
            .groupBy(r => (0 to at).map(r.get)).values.map(_.head).toSeq
          val dead = rows.filter(r => (0 to at).exists(r.isNullAt))
          (s"t$i", Table(keys ++ (fts +: vs), live ++ dead), tsName)
        }
      })
    tolerance <- Gen.oneOf(None, Some(3L), Some(10L))
  } yield Scenario(keys.map(_.name),
    Table(keys :+ lts :+ tag :+ Col("label_id", LongType, false, Gen.const(0L)),
      lrows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }),
    features, tolerance, api)

  /** The table as a DataFrame in `parts` partitions, `tsName` as a timestamp. */
  private def toDf(t: Table, tsName: String, parts: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
      .withColumn(tsName, timestamp_micros(col(tsName))).repartition(parts)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val Partitions = Seq((1, 5), (3, 1), (8, 3), (4, 2))

  it should "give the fold's schema and rows for J13, F24 and F14" in {
    val was = spark.conf.get("spark.sql.shuffle.partitions")
    var matched = 0L
    val apis = scala.collection.mutable.Set[String]()
    try for (i <- 1 to 24) {
      val sc = scenario.pureApply(Gen.Parameters.default, Seed(20261019L + i))
      val (shuffle, parts) = Partitions(i % Partitions.size)
      spark.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
      val labels = toDf(sc.labels, "ts", parts)
      val feats = sc.features.map { case (n, t, ts) => (n, toDf(t, ts, parts), ts) }
      val ref = refFold(labels, feats, sc.keys, "ts", sc.tolerance)
      val got = sc.api match {
        case "J13" =>
          Joins.asOfJoin(labels, feats.head._2, sc.keys, "ts", feats.head._3,
            sc.tolerance)
        case "F24" =>
          Joins.pointInTimeTrainingSet(labels, feats.map(f => f._1 -> f._2),
            sc.keys, "ts", "ts", sc.tolerance)
        case "F14" =>
          graft.ml.FeaturePrep.pointInTimeMatrix(labels, sc.keys, "ts", feats,
            sc.tolerance, checkUnique = true)
      }
      val want = if (sc.api == "J13") refAsOf(labels, feats.head._2, sc.keys,
        "ts", feats.head._3, sc.tolerance) else ref
      withClue(s"scenario $i (${sc.api}, ${feats.size} tables, keys " +
          s"${sc.keys}, tolerance ${sc.tolerance}, $shuffle shuffle partitions): ") {
        got.schema shouldBe want.schema
        val g = rows(got)
        g shouldBe rows(want)
        g.size shouldBe sc.labels.rows.size
      }
      apis += sc.api
      matched += got.filter(col(got.columns.last).isNotNull).count()
      graft.util.Caches.releaseAll(spark)
    } finally spark.conf.set("spark.sql.shuffle.partitions", was)
    apis shouldBe Set("J13", "F24", "F14")
    matched should be > 0L
  }
}
