package featbench

import graft.events.{EventFeatures, EventFunctions}
import graft.relational.Joins
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** feature_build: the reference's core batch job. A seeded EAVT event
  * log (Zipf-skewed users, six event types, 30 days) and a label spine;
  * each epoch materializes three feature tables to parquet (the writes)
  * and assembles a point-in-time training set from them (the read). The
  * warm-up epoch runs the same calls over a small prefix of the inputs. */
final class FeatureBuild(val spark: SparkSession, val dir: String, seed: Long)
    extends Workload {
  import FeatureBuild._

  private val full = Inputs(s"$dir/input/events", s"$dir/input/labels")
  private val small = Inputs(s"$dir/input/events_warm", s"$dir/input/labels_warm")
  val storeDir = s"$dir/store"
  private val warmDir = s"$dir/warm"
  private var genBytes = 0L
  private var inputRows = 0L

  def prepare(r: Runner): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    // Zipf(1.0) user popularity, sampled by inverse CDF
    val cdf = (1 to Users).map(k => 1.0 / k).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    def user(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * total)
      (if (i >= 0) i else -i - 1).toLong
    }
    // each event continues its user's open session with probability 0.7
    val lastTs = new Array[Long](Users)
    val events = (0 until Events).map { id =>
      val u = user()
      val ts =
        if (lastTs(u.toInt) > 0 && rnd.nextDouble() < 0.7)
          math.min(lastTs(u.toInt) + 1 + rnd.nextInt(600), Start + Span - 1)
        else Start + rnd.nextLong(Span)
      lastTs(u.toInt) = ts
      val tpe = Types(rnd.nextInt(Types.size))
      Row(id.toLong, u, tpe, new Timestamp(ts * 1000L),
        math.round(rnd.nextDouble() * 50000.0) / 100.0)
    }
    val labels = (0 until Labels).map { id =>
      Row(id.toLong, rnd.nextInt(Users).toLong,
        new Timestamp((Start + rnd.nextLong(Span)) * 1000L), rnd.nextInt(2))
    }
    genBytes = events.map(e => 32L + e.getString(2).length).sum + Labels * 28L
    inputRows = Events.toLong + Labels
    def save(rows: Seq[Row], schema: StructType, path: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
        .write.mode("overwrite").parquet(path)
    save(events, EventSchema, full.events)
    save(labels, LabelSchema, full.labels)
    save(events.take(Events / WarmShare), EventSchema, small.events)
    save(labels.take(Labels / WarmShare), LabelSchema, small.labels)
  }

  override def warmup(r: Runner): Unit = {
    build(r, small, warmDir)
    Workload.delete(spark, warmDir)
  }

  /** Two timed epochs: a single sample of each call read too noisy. */
  override def timedEpochs: Int = 2

  def epoch(r: Runner): Long = {
    build(r, full, storeDir)
    inputRows
  }

  private def build(r: Runner, in: Inputs, store: String): Unit = {
    val events = spark.read.parquet(in.events)
    r.write("events.sessionStats") {
      EventFunctions.sessionStats(events, SessionTimeoutS)
        .write.mode("overwrite").parquet(s"$store/sessions")
    }
    r.write("events.trailingWindow") {
      EventFeatures.trailingWindow(events, TrailingS)
        .write.mode("overwrite").parquet(s"$store/trailing")
    }
    r.write("events.snapshot") {
      EventFunctions.snapshot(events, SnapshotDt, Types)
        .write.mode("overwrite").parquet(s"$store/snapshot")
    }
    r.read("relational.pointInTimeTrainingSet")(trainingSet(in, store))
  }

  /** The point-in-time training set over the persisted feature tables. */
  private def trainingSet(in: Inputs = full, store: String = storeDir): DataFrame =
    Joins.pointInTimeTrainingSet(spark.read.parquet(in.labels),
      featureTables(store), Seq("user_id"), "label_ts", "feature_ts")

  private def featureTables(store: String = storeDir): Seq[(String, DataFrame)] = Seq(
    "sess" -> spark.read.parquet(s"$store/sessions")
      .select(col("user_id"), col("session_end").as("feature_ts"),
        col("n_events"), col("session_value")),
    "trail" -> spark.read.parquet(s"$store/trailing")
      .select(col("user_id"), col("ts").as("feature_ts"), col("n_trailing"),
        col("sum_trailing"), col("max_trailing")),
    "snap" -> spark.read.parquet(s"$store/snapshot")
      .withColumn("feature_ts", lit(SnapshotDt).cast("timestamp")))

  def inputBytes: Long = genBytes

  def gate(): Seq[String] = check(trainingSet())

  def corruptedGates(): Seq[(String, Seq[String])] = {
    val ts = trainingSet()
    val victim = ts.filter(col("trail_asof_ts").isNotNull)
      .agg(min("label_id")).head().getLong(0)
    def alter(c: String, to: Column): DataFrame =
      ts.withColumn(c, when(col("label_id") === victim, to).otherwise(col(c)))
    Seq(
      "training set: a feature after its label" ->
        check(alter("trail_asof_ts", col("label_ts") + expr("INTERVAL 1 DAY"))),
      "training set: a duplicated label row" -> check(
        ts.unionByName(ts.filter(col("label_id") === victim))),
      "training set: one feature value altered" ->
        check(alter("trail_sum_trailing", col("trail_sum_trailing") + 1)))
  }

  /** One row per label, no feature after `label_ts`, and for every
    * feature table the matched time and feature values equal to an
    * as-of reference computed on the driver: the latest feature row at
    * or before the label, by binary search over each user's sorted
    * feature times. Rows that share a user and time are all accepted. */
  private def check(ts: DataFrame): Seq[String] = {
    val labels = spark.read.parquet(full.labels)
      .select("label_id", "user_id", "label_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime))
    val tables = featureTables().map { case (p, ft) =>
      (p, ft, ft.columns.filterNot(c => c == "user_id" || c == "feature_ts").toSeq)
    }
    val cols = tables.flatMap { case (p, _, vs) => s"${p}_asof_ts" +: vs.map(v => s"${p}_$v") }
    val got = ts.select((col("label_id") +: cols.map(col)): _*).collect()
    val byLabel = got.groupBy(_.getLong(0))
    val rowsOk = got.length == labels.length && byLabel.size == labels.length &&
      labels.forall(l => byLabel.contains(l._1))
    val offsets = tables.scanLeft(1)((o, t) => o + 1 + t._3.size)
    val perTable = tables.zip(offsets).map { case ((p, ft, vs), o) =>
      // per user: sorted feature times, and the value rows at each time
      val byUser = ft.select((col("user_id") +: col("feature_ts") +: vs.map(col)): _*)
        .collect().groupBy(_.getLong(0)).map { case (u, rs) =>
          val at = rs.groupBy(_.getTimestamp(1).getTime)
            .map { case (t, xs) => t -> xs.map(_.toSeq.drop(2)).toSet }
          u -> (at.keys.toArray.sorted, at)
        }
      var future = 0
      var mismatched = 0
      if (rowsOk) labels.foreach { case (id, user, labelTs) =>
        val row = byLabel(id).head
        val asOf = Option(row.getTimestamp(o)).map(_.getTime)
        val values = (o + 1 to o + vs.size).map(row.get)
        val ref = byUser.get(user).flatMap { case (times, at) =>
          val j = java.util.Arrays.binarySearch(times, labelTs)
          val upto = if (j >= 0) j else -j - 2
          // an exact hit, else the last time before the insertion point
          if (upto >= 0) Some(times(upto) -> at(times(upto))) else None
        }
        if (asOf.exists(_ > labelTs)) future += 1
        val same = ref match {
          case Some((t, rows)) => asOf.contains(t) && rows.contains(values)
          case None => asOf.isEmpty && values.forall(_ == null)
        }
        if (!same) mismatched += 1
      }
      (p, future, mismatched)
    }
    (if (rowsOk) Nil else Seq(s"training set has ${got.length} rows / " +
      s"${byLabel.size} distinct labels, expected one row for each of ${labels.length}")) ++
      perTable.collect { case (p, f, _) if f > 0 => s"$f label(s) see a '$p' feature after label_ts" } ++
      perTable.collect { case (p, _, m) if m > 0 =>
        s"$m label(s) differ from the as-of reference on '$p'" }
  }
}

object FeatureBuild {
  val Users = 1000
  val Events = 120000
  val Labels = 8000
  /** The warm-up epoch reads this share (1/n) of the events and labels. */
  val WarmShare = 8
  val Types: Seq[String] = Seq("view", "click", "cart", "purchase", "search", "support")
  /** 2024-03-01T00:00:00Z and a 30-day span, in epoch seconds. */
  val Start = 1709251200L
  val Span: Long = 30L * 86400L
  val SnapshotDt = "2024-03-16 00:00:00"
  val SessionTimeoutS = 1800L
  val TrailingS = 86400L

  final case class Inputs(events: String, labels: String)

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val LabelSchema: StructType = StructType(Seq(
    StructField("label_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("label_ts", TimestampType, nullable = false),
    StructField("label", IntegerType, nullable = false)))
}
