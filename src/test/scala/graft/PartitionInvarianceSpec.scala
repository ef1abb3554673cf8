package graft

import graft.events.{EventFeatures, EventFunctions}
import graft.relational.Joins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, timestamp_micros}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Partition-count invariance: a deterministic operator's result must not
  * depend on how its input is split or on how many partitions its
  * shuffles use. Each operator runs at 1, 3 and 8 shuffle partitions,
  * over its input repartitioned to 1 and to 5 partitions; the sorted
  * content of every result must hash the same.
  *
  * Operators: the three feature_build writes (`sessionStats`,
  * `trailingWindow`, `snapshot`), its read (`pointInTimeTrainingSet`:
  * purchase labels against per-second view, click and cart tables) and
  * `touchAttribution`. Events come from fixed seeds: Zipf-skewed users,
  * bursts of events in one second, sub-second timestamps and null
  * values. */
class PartitionInvarianceSpec extends SparkSpec {
  import spark.implicits._

  private val Jan1 = 1704067200L // 2024-01-01 00:00:00 UTC
  private val Types = Seq("view", "click", "cart", "purchase")

  /** (event_id, user_id, event_type, ts micros, value); ids are unique. */
  private val events: Gen[Seq[(Long, Long, String, Long, Option[Double])]] = {
    val zipf = (1 to 12).map(k => math.max(1, 120 / k) -> Gen.const(k.toLong))
    val one = for {
      u <- Gen.frequency(zipf: _*)
      t <- Gen.oneOf(Types)
      // a two-day span, with a tenth of the events on a few hot seconds
      s <- Gen.frequency(9 -> Gen.choose(0L, 2 * 86400L),
        1 -> Gen.oneOf(3600L, 3601L, 7200L))
      us <- Gen.oneOf(0L, 1L, 500000L, 999999L)
      v <- Gen.frequency(9 -> Gen.choose(-20000, 20000).map(c => Option(c / 100.0)),
        1 -> Gen.const(Option.empty[Double]))
    } yield (u, t, (Jan1 + s) * 1000000L + us, v)
    Gen.choose(300, 500).flatMap(Gen.listOfN(_, one)).map(_.zipWithIndex
      .map { case ((u, t, ts, v), id) => (id.toLong, u, t, ts, v) })
  }

  private def hash(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted.foreach(r =>
      md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private val Operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "sessionStats" -> (EventFunctions.sessionStats(_, 1800L)),
    "trailingWindow" -> (EventFeatures.trailingWindow(_, 3600L)),
    "snapshot" -> (EventFunctions.snapshot(_, "2024-01-02 00:00:00", Types)),
    "pointInTimeTrainingSet" -> { ev =>
      def perSecond(t: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), col("ts"))
        .agg(count(lit(1)).as("n"), max(col("value")).as("v"))
      Joins.pointInTimeTrainingSet(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        Seq("view", "click", "cart").map(t => t -> perSecond(t)),
        Seq("user_id"), "ts", "ts", toleranceSec = Some(3600L))
    },
    "touchAttribution" -> (EventFunctions.touchAttribution(_, "purchase",
      Seq("view", "click"), 3600L)))

  it should "give the same content at every shuffle and input partition count" in {
    val was = spark.conf.get("spark.sql.shuffle.partitions")
    try for (seed <- 1 to 2) {
      val base = events.pureApply(Gen.Parameters.default, Seed(20261019L + seed))
        .toDF("event_id", "user_id", "event_type", "__us", "value")
        .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      for ((name, op) <- Operators) {
        val hashes = for (shuffle <- Seq(1, 3, 8); parts <- Seq(1, 5)) yield {
          spark.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
          val h = hash(op(base.repartition(parts)))
          graft.util.Caches.releaseAll(spark)
          s"$shuffle/$parts" -> h
        }
        withClue(s"$name, seed $seed, shuffle/input partitions: $hashes ") {
          hashes.map(_._2).distinct should have size 1
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", was)
  }
}
