package graft

import graft.streaming.StreamingEvents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Batch-split parity of the streaming stores: one generated input, split
  * into 1–5 micro-batches the way the sink's contract allows, ingested
  * through the sink's own `xBatch` kernel with one batch replayed, must
  * give a view equal to the batch operator over the whole input.
  *
  * A micro-batch with no rows is skipped, as the sink starter skips it.
  * The cell stores take any split and any replayed batch. Stores with
  * cross-batch state keep their contract: TWA events of one entity reach
  * the store in time order, with same-timestamp events in one batch; line
  * dedup docs arrive in doc-id order, since the one-pass operator keeps
  * the lowest (doc_id, line) occurrence, and only the newest batch is
  * replayed, because Spark replays only the batch in flight; Friedman
  * blocks arrive whole.
  *
  * Inputs come from fixed seeds with bounded sizes. */
class StreamingPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Scenarios = 3
  private val Day = 86400L
  private val Jan1 = 1704067200L // 2024-01-01 00:00:00 UTC

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  private def utc(sec: Long) = java.time.LocalDateTime
    .ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).toString
    .replace('T', ' ')

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_split").toString

  /** A split of `rows` into batches, plus which batch to replay. */
  private final case class Split[T](rows: Seq[T], batchOf: Seq[Int],
      replay: Int)

  /** Batch ids for `n` units, each free to land in any of `nb` batches
    * (`ordered`: batch ids never decrease along the units). */
  private def assign(n: Int, nb: Int, ordered: Boolean): Gen[Seq[Int]] =
    Gen.listOfN(n, Gen.choose(0, nb - 1))
      .map(b => if (ordered) b.sorted else b)

  /** Splits `units` (groups of rows that must share a batch). */
  private def split[T](units: Seq[Seq[T]], ordered: Boolean): Gen[Split[T]] =
    for {
      nb <- Gen.choose(1, 5)
      b <- assign(units.size, nb, ordered)
      replay <- Gen.choose(0, nb - 1)
    } yield Split(units.flatten,
      units.zip(b).flatMap { case (u, i) => u.map(_ => i) }, replay)

  private def scenarios[T](g: Gen[Split[T]]): Seq[Split[T]] = {
    val all = (1 to Scenarios).map(i =>
      g.pureApply(Gen.Parameters.default, Seed(20261019L + i)))
    all.exists(_.batchOf.distinct.size > 1) shouldBe true
    all
  }

  /** Writes every non-empty batch through `kernel`, then replays one:
    * the newest one when `newestOnly`, else the generated pick. */
  private def ingest[T](s: Split[T], newestOnly: Boolean = false)(
      toDf: Seq[T] => DataFrame)(kernel: (DataFrame, Long) => Unit): Unit = {
    val batches = s.rows.zip(s.batchOf).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (b, rs) => (b.toLong, toDf(rs.map(_._1))) }
    batches.foreach { case (b, df) => kernel(df, b) }
    val (b, df) =
      if (newestOnly) batches.last
      else batches.minBy { case (id, _) => math.abs(id - s.replay) }
    kernel(df, b)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  it should "give the batch TWA over the union from any time-ordered split of the day/carry store" in {
    // per entity, a run of hourly event times (ties included) from a day
    // before the window through its end; values on the cent grid
    val events = for {
      k <- Gen.choose(1L, 4L)
      hours <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(-24, 96)))
      vals <- Gen.listOfN(hours.size, Gen.frequency(
        9 -> Gen.choose(-5000, 5000).map(c => Option(c / 100.0)),
        1 -> Gen.const(Option.empty[Double])))
    } yield hours.zip(vals).map { case (h, v) => (k, Jan1 + h * 3600L, v) }
    val gen = for {
      perKey <- Gen.listOfN(4, events).map(_.flatten.groupBy(_._1).values)
      units = perKey.toSeq.flatMap(_.groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2))
      nb <- Gen.choose(1, 5)
      // batch ids rise with time within each entity, and only there
      b <- Gen.sequence[Seq[Seq[Int]], Seq[Int]](perKey.toSeq.map(e =>
        assign(e.map(_._2).distinct.size, nb, ordered = true)))
      replay <- Gen.choose(0, nb - 1)
    } yield Split(units.flatten,
      units.zip(b.flatten).flatMap { case (u, i) => u.map(_ => i) },
      replay)
    for (s <- scenarios(gen)) {
      val dir = tmp()
      val toDf = (r: Seq[(Long, Long, Option[Double])]) =>
        r.map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "t", "v")
      ingest(s)(toDf)(StreamingEvents.twaCellBatch(_, _, "k", "t", "v", dir))
      for ((from, to) <- Seq((0, 1), (1, 4))) {
        val (ws, we) = (utc(Jan1 + from * Day), utc(Jan1 + to * Day))
        rows(StreamingEvents.twaView(spark, dir, "k", ws, we)) shouldBe
          rows(graft.events.EventFeatures.timeWeightedAverage(
            toDf(s.rows), "k", col("t"), col("v"), ws, we))
      }
    }
  }

  it should "rebuild the batch landing/exit report from session fragments of any split" in {
    val timeout = 1800L
    val gen = for {
      n <- Gen.choose(3, 14)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 3L)
        t <- Gen.oneOf("view", "cart", "purchase")
        m <- Gen.choose(0, 240)
      } yield (u, t, m))
      s <- split(evs.zipWithIndex.map { case ((u, t, m), i) =>
        Seq((u, t, Jan1 + m * 60L, i.toLong)) }, ordered = false)
    } yield s
    for (s <- scenarios(gen)) {
      val dir = tmp()
      val toDf = (r: Seq[(Long, String, Long, Long)]) =>
        r.map { case (u, t, sec, id) => (u, t, ts(sec), id) }
          .toDF("user_id", "event_type", "ts", "event_id")
      ingest(s)(toDf)(StreamingEvents.sessionStatsBatch(_, _, timeout, dir,
        graft.events.EventCols()))
      rows(StreamingEvents.landingExitView(spark, dir, timeout)) shouldBe
        rows(graft.events.EventFunctions.landingExitReport(toDf(s.rows),
          timeout))
    }
    graft.util.Caches.releaseAll(spark)
  }

  it should "give the batch CUSUM over the union from daily cells of any split" in {
    val gen = for {
      n <- Gen.choose(1, 20)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 3L)
        h <- Gen.choose(0, 10 * 24)
        c <- Gen.choose(-5000, 5000)
      } yield Seq((u, Jan1 + h * 3600L, c / 100.0)))
      s <- split(evs, ordered = false)
    } yield s
    for (s <- scenarios(gen)) {
      val dir = tmp()
      val toDf = (r: Seq[(Long, Long, Double)]) =>
        r.map { case (u, t, v) => (u, ts(t), v) }
          .toDF("user_id", "ts", "value")
      ingest(s)(toDf)(StreamingEvents.dailyAggBatch(_, _, "user_id", "ts",
        "value", dir))
      rows(StreamingEvents.cusumView(spark, dir, "user_id")) shouldBe
        rows(graft.events.Resample.cusumChangepoint(toDf(s.rows),
          "user_id", col("ts"), col("value")))
    }
  }

  it should "give the batch KS drift over the union from value cells of any split" in {
    val value = Gen.frequency(9 -> Gen.choose(0, 30).map(v => Option(v / 2.0)),
      1 -> Gen.const(Option.empty[Double]))
    val gen = for {
      n <- Gen.choose(1, 30)
      vs <- Gen.listOfN(n, value.map(Seq(_)))
      s <- split(vs, ordered = false)
    } yield s
    val reference = (0 until 40).map(i => (i % 13) * 1.25).toDF("v")
    for (s <- scenarios(gen)) {
      val dir = tmp()
      val toDf = (r: Seq[Option[Double]]) => r.toDF("v")
      ingest(s)(toDf)(StreamingEvents.valueCellBatch(_, _, "v", dir))
      rows(StreamingEvents.ksDriftView(spark, dir, reference, "v")) shouldBe
        rows(graft.dq.Dq.ksDrift(reference, toDf(s.rows), "v"))
    }
  }

  it should "dedup lines like the one-pass operator over docs split in id order" in {
    val line = Gen.oneOf("nav", "footer", "a b", "a  b ", "", " ", "x",
      "y", "z")
    val gen = for {
      n <- Gen.choose(1, 8)
      docs <- Gen.listOfN(n, Gen.choose(1, 5).flatMap(Gen.listOfN(_, line))
        .map(_.mkString("\n")))
      s <- split(docs.zipWithIndex.map { case (t, i) =>
        Seq((i.toLong + 1, t)) }, ordered = true)
    } yield s
    for (s <- scenarios(gen)) {
      val dir = tmp()
      val toDf = (r: Seq[(Long, String)]) => r.toDF("doc_id", "text")
      ingest(s, newestOnly = true)(toDf)(StreamingEvents.lineBatch(_, _,
        "doc_id", "text", s"$dir/index", s"$dir/out"))
      val cols = Seq("doc_id", "n_lines", "n_kept", "dedup_text").map(col)
      rows(spark.read.parquet(s"$dir/out").select(cols: _*)) shouldBe
        rows(graft.text.Dedup.lineDeduplicate(toDf(s.rows), "doc_id",
          "text").select(cols: _*))
    }
  }

  it should "give the batch Friedman test over the union from whole blocks in any split" in {
    val treatments = Seq("a", "b", "c")
    val gen = for {
      n <- Gen.choose(2, 8)
      blocks <- Gen.listOfN(n, Gen.listOfN(treatments.size, Gen.choose(0, 5)))
      s <- split(blocks.zipWithIndex.map { case (vs, b) =>
        treatments.zip(vs).map { case (t, v) => (b.toLong, t, v.toDouble) }
      }, ordered = false)
    } yield s
    for (s <- scenarios(gen)) {
      val dir = tmp()
      val toDf = (r: Seq[(Long, String, Double)]) => r.toDF("b", "t", "v")
      ingest(s)(toDf)(StreamingEvents.friedmanBatch(_, _, "b", "t", "v",
        treatments, s"$dir/cells"))
      rows(StreamingEvents.friedmanView(spark, s"$dir/cells",
        treatments)) shouldBe rows(graft.ml.RankTests.friedman(toDf(s.rows),
        col("b"), col("t"), col("v")))
    }
  }
}
