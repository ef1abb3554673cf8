package graft

import graft.events.{EventFeatures, EventFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The sliding-frame kernel against the `rangeBetween` window form it
  * replaced, kept here as the reference: E10's three trailing columns
  * and W17's first/last touch picks must be equal, with the same output
  * schema, on generated events.
  *
  * Events come from fixed seeds: Zipf-skewed entities (a null entity
  * among them), many events in one second, sub-second timestamps, null
  * timestamps, null values and an occasional NaN or ±Infinity, with
  * values on the cent grid so the exact sum and the double frame sum
  * round to the same 2 places. Each scenario runs at its own shuffle
  * partition count over input split into its own number of partitions. */
class SlidingFrameSpec extends SparkSpec {
  import spark.implicits._

  private val Jan1 = 1704067200L // 2024-01-01 00:00:00 UTC

  /** (event_id, user_id, event_type, ts micros, value) */
  private type Ev = (Long, Option[Long], Option[String], Option[Long],
    Option[Double])

  private def events(windowSec: Long): Gen[Seq[Ev]] = {
    // Zipf(1) over 5 users, then a rare null user
    val user = Gen.frequency(
      (Seq(60, 30, 20, 15, 12).zipWithIndex.map { case (w, k) =>
        w -> Gen.const(Option(k.toLong + 1)) } :+
        (4 -> Gen.const(Option.empty[Long]))): _*)
    // a few distinct seconds per window so frames overlap and slide
    val sec = Gen.choose(0L, 2 * windowSec).flatMap(s =>
      Gen.frequency(3 -> Gen.const(s), 1 -> Gen.choose(0L, 3L)))
    val micros = Gen.oneOf(0L, 1L, 250000L, 999999L)
    val ts = Gen.frequency(
      12 -> (for (s <- sec; m <- micros) yield Option((Jan1 + s) * 1000000L + m)),
      1 -> Gen.const(Option.empty[Long]))
    val value = Gen.frequency(
      24 -> Gen.choose(-50000, 50000).map(c => Option(c / 100.0)),
      3 -> Gen.const(Option.empty[Double]),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity).map(Option(_)))
    val tpe = Gen.frequency(
      8 -> Gen.oneOf("view", "click", "purchase", "cart").map(Option(_)),
      1 -> Gen.const(Option.empty[String]))
    for {
      n <- Gen.choose(40, 140)
      rows <- Gen.listOfN(n, for {
        u <- user; t <- tpe; s <- ts; v <- value
        // colliding ids make (ts, id) ties that only the type breaks
        id <- Gen.choose(1L, n.toLong)
      } yield (id, u, t, s, v))
    } yield rows
  }

  private def toDf(rows: Seq[Ev], parts: Int): DataFrame =
    rows.toDF("event_id", "user_id", "event_type", "__us", "value")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .repartition(parts)

  private def sample[T](g: Gen[T], i: Int): T =
    g.pureApply(Gen.Parameters.default, Seed(20261019L + i))

  /** Runs `f` at `n` shuffle partitions. */
  private def atShufflePartitions[T](n: Int)(f: => T): T = {
    val was = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", was)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val Windows = Seq(1L, 60L, 86400L)
  private val Partitions = Seq((1, 5), (3, 1), (8, 3), (4, 2))

  /** The E10 window form this kernel replaced. */
  private def trailingReference(ev: DataFrame, windowSec: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-windowSec, 0)
    ev.withColumn("n_trailing", count(lit(1)).over(w))
      .withColumn("sum_trailing", round(sum(col("value")).over(w), 2))
      .withColumn("max_trailing", max(col("value")).over(w))
  }

  it should "give E10's trailing count, exact sum and max equal to the range frame" in {
    var i = 0
    for (windowSec <- Windows; (shuffle, parts) <- Partitions) {
      i += 1
      val ev = toDf(sample(events(windowSec), i), parts)
      atShufflePartitions(shuffle) {
        val got = EventFeatures.trailingWindow(ev, windowSec)
        val ref = trailingReference(ev, windowSec)
        got.schema shouldBe ref.schema
        withClue(s"window $windowSec s, $shuffle shuffle partitions: ") {
          rows(got) shouldBe rows(ref)
        }
      }
    }
  }

  it should "keep E10's sum type and exactness for long, decimal and float values" in {
    val ev = toDf(sample(events(60L), 100), 3)
      .filter(col("value").isNull ||
        (!isnan(col("value")) && abs(col("value")) =!= Double.PositiveInfinity))
    for (value <- Seq((col("value") * 100).cast("long"),
        col("value").cast("decimal(9,2)"), col("value").cast("float"))) {
      val typed = ev.withColumn("value", value)
      val got = EventFeatures.trailingWindow(typed, 60L)
      val ref = trailingReference(typed, 60L)
      got.schema shouldBe ref.schema
      rows(got) shouldBe rows(ref)
    }
  }

  /** The W17 window form this kernel replaced, as per-conversion picks. */
  private def picksReference(ev: DataFrame, windowSec: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("__uts"))
      .rangeBetween(-windowSec, -1)
    val touch = when(col("event_type").isin("view", "click"),
      struct(col("ts"), col("event_id"), col("event_type").as("__tt")))
    ev.withColumn("__uts", unix_timestamp(col("ts")))
      .withColumn("__first", min(touch).over(w))
      .withColumn("__last", max(touch).over(w))
      .filter(col("event_type") === "purchase")
      .select(picked(col("__first.__tt"), col("__last.__tt")): _*)
  }

  private def picked(first: Column, last: Column): Seq[Column] =
    Seq(col("user_id"), col("ts"), col("event_id"), col("value"),
      first.as("first"), last.as("last"))

  it should "pick W17's first and last touch equal to the range frame" in {
    var i = 200
    for (windowSec <- Windows; (shuffle, parts) <- Partitions) {
      i += 1
      val ev = toDf(sample(events(windowSec), i), parts)
      atShufflePartitions(shuffle) {
        val got = EventFunctions.touchPicks(ev, "purchase",
          Seq("view", "click"), windowSec)
          .select(picked(col("__ft"), col("__lt")): _*)
        withClue(s"window $windowSec s, $shuffle shuffle partitions: ") {
          val ref = rows(picksReference(ev, windowSec))
          rows(got) shouldBe ref
          ref.exists(r => !r.endsWith(",null,null]")) shouldBe true
        }
      }
    }
    graft.util.Caches.releaseAll(spark)
  }
}
