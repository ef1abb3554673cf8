package featbench

import graft.dq.Dq
import graft.load.{MergeConfig, Scd2Store}
import graft.meta.Meta
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** vault_daily: a Data Vault SCD2 satellite loaded once, then one seeded
  * delta per day (inserts, updates and deletes of a few % of entities)
  * through `Scd2Store.runLoad`, each followed by a current read, an
  * as-of read two days back and a DQ suite on current. The generator
  * keeps its own live state per day, which the gate compares against. */
final class VaultDaily(val spark: SparkSession, val dir: String, seed: Long)
    extends Workload {
  import VaultDaily._

  val storeDir = s"$dir/vault"
  private val store = new Scd2Store(spark, storeDir)
  private val rnd = new java.util.SplittableRandom(seed)
  private val live = mutable.LinkedHashMap.empty[Long, Cust]
  /** Live state after each day's load, by day. */
  private val states = mutable.ArrayBuffer.empty[Map[Long, Cust]]
  private var nextId = 0L
  private var genBytes = 0L
  private var lastDq: Seq[Row] = Nil

  private def fresh(): Cust = Cust(Segments(rnd.nextInt(Segments.size)),
    math.round(rnd.nextDouble() * 5000000.0) / 100.0,
    300 + rnd.nextInt(551), Cities(rnd.nextInt(Cities.size)))

  private def processTime(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString + " 00:00:00"

  /** The day's change set as an incoming batch, with its load config. */
  private def incoming(rows: Seq[(Long, Cust, String)]): (DataFrame, MergeConfig) = {
    val day = states.size
    genBytes += rows.map { case (_, c, _) => 21L + c.segment.length + c.city.length }.sum
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, c, op) => Row(id, c.segment, c.balance, c.score, c.city, op) }, 3),
      IncomingSchema)
    df -> MergeConfig(idFields = Seq("cust_id"), idType = "customer",
      entityType = "customer", source = "featbench", processType = "satellite_load",
      processId = s"day$day", userId = "featbench", processTime = processTime(day),
      deleteIndicatorField = Some(("op", Seq("D"))))
  }

  def prepare(r: Runner): Unit = {
    val rows = (0 until Entities).map { _ =>
      val id = nextId; nextId += 1
      val c = fresh(); live(id) = c
      (id, c, "I")
    }
    val (df, cfg) = incoming(rows)
    states += live.toMap
    r.write("load.runLoad", rows.size.toLong)(store.runLoad(Table, df, cfg))
  }

  def epoch(r: Runner): Long = {
    // a seeded change set: disjoint updates and deletes of live
    // entities, and as many inserts as deletes (live count stays fixed)
    val ids = live.keysIterator.toArray
    val n = Changes
    var i = 0
    while (i < 2 * n) {
      val j = i + rnd.nextInt(ids.length - i)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i += 1
    }
    val updates = ids.take(n).toSeq.map { id =>
      val old = live(id)
      val c = old.copy(balance = math.round(old.balance * 100 + 1 + rnd.nextInt(10000)) / 100.0,
        score = 300 + (old.score - 300 + 1 + rnd.nextInt(549)) % 551)
      live(id) = c
      (id, c, "U")
    }
    val deletes = ids.slice(n, 2 * n).toSeq.map { id => (id, live.remove(id).get, "D") }
    val inserts = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val c = fresh(); live(id) = c
      (id, c, "I")
    }
    val rows = updates ++ deletes ++ inserts
    val (df, cfg) = incoming(rows)
    val day = states.size
    states += live.toMap
    r.write("load.runLoad", rows.size.toLong)(store.runLoad(Table, df, cfg))
    r.read("load.readCurrent")(store.readCurrent(Table))
    r.read("load.readSnapshotAsOf")(
      store.readSnapshotAsOf(Table, processTime(asOfDay(day))))
    r.op("dq.checkSuite", isWrite = false, 0L) {
      lastDq = Dq.checkSuite(store.readCurrent(Table), Checks).collect().toSeq
    }
    rows.size.toLong
  }

  private def asOfDay(day: Int): Int = math.max(0, day - 2)

  def inputBytes: Long = genBytes

  private def current: DataFrame = store.readCurrent(Table)
  private def asOf: DataFrame = {
    val day = states.size - 1
    store.readSnapshotAsOf(Table, processTime(asOfDay(day)))
      .filter(col(Meta.RecType) =!= Meta.Rec.Delete)
  }

  def gate(): Seq[String] =
    check(current, asOf, lastDq)

  def corruptedGates(): Seq[(String, Seq[String])] = {
    val victim = live.keysIterator.min
    Seq(
      "current: one balance altered" -> check(current.withColumn("balance",
        when(col("cust_id") === victim, col("balance") + 1).otherwise(col("balance"))),
        asOf, lastDq),
      "as-of snapshot: one entity dropped" -> check(current,
        asOf.filter(col("cust_id") =!= asOf.agg(min("cust_id")).head().getLong(0)),
        lastDq),
      "dq: one check reported failed" -> check(current, asOf,
        lastDq.zipWithIndex.map { case (row, i) =>
          if (i == 0) Row.fromSeq(row.toSeq.init :+ 0) else row }))
  }

  /** Current and as-of reads equal the generator's own live state for
    * that day, and every DQ check on current passed with no violations. */
  private def check(cur: DataFrame, snap: DataFrame, dq: Seq[Row]): Seq[String] = {
    def state(df: DataFrame): Map[Long, Cust] =
      df.select("cust_id", "segment", "balance", "score", "city").collect()
        .map(r => r.getLong(0) -> Cust(r.getString(1), r.getDouble(2), r.getInt(3),
          r.getString(4))).toMap
    def diff(what: String, got: Map[Long, Cust], want: Map[Long, Cust], rows: Long) = {
      val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
      if (bad == 0 && rows == want.size) Nil
      else Seq(s"$what: $bad entit(ies) differ from the generator state " +
        s"($rows rows, ${want.size} expected)")
    }
    val day = states.size - 1
    diff("current", state(cur), states(day), cur.count()) ++
      diff(s"as-of day ${asOfDay(day)}", state(snap), states(asOfDay(day)), snap.count()) ++
      (if (dq.size == Checks.size && dq.forall(r => r.getLong(3) == 0L && r.getInt(5) == 1)) Nil
      else Seq(s"dq: ${dq.count(r => r.getInt(5) != 1)} of ${dq.size} check(s) failed"))
  }
}

object VaultDaily {
  val Table = "customer_sat"
  val Entities = 5000
  /** Updates, deletes and inserts per day, each: 3 × 100 = 6% of entities. */
  val Changes = 100
  val Segments: Seq[String] = Seq("retail", "smb", "corporate", "private", "public")
  val Cities: Seq[String] = Seq("Auckland", "Berlin", "Cairo", "Denver", "Espoo",
    "Fukuoka", "Geneva", "Hanoi")

  final case class Cust(segment: String, balance: Double, score: Int, city: String)

  val IncomingSchema: StructType = StructType(Seq(
    StructField("cust_id", LongType, nullable = false),
    StructField("segment", StringType, nullable = false),
    StructField("balance", DoubleType, nullable = false),
    StructField("score", IntegerType, nullable = false),
    StructField("city", StringType, nullable = false),
    StructField("op", StringType, nullable = false)))

  val Checks: Seq[Dq.Check] = Seq(
    Dq.Complete("cust_id"),
    Dq.Between("balance", 0.0, 1.0e6),
    Dq.Between("score", 300.0, 850.0),
    Dq.InSet("segment", Segments),
    Dq.MatchesRegex("city", "^[A-Z][a-z]+$"),
    Dq.Unique(Seq("cust_id")))
}
