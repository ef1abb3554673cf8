package graft

import graft.load.{MergeConfig, Scd2Merge}
import graft.meta.Meta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style invariant checks over randomized (seeded) load
  * sequences — the SURVEY §5 recommendation: version monotonicity,
  * current = arg-max(version), idempotent re-load, branch-count
  * consistency. Each scenario applies a chain of random full loads
  * (mutations + drops + additions) and asserts the contract after every
  * merge. */
class Scd2PropertySpec extends SparkSpec {
  import spark.implicits._

  private def cfg(pid: String, pt: String = "2024-05-01 00:00:00") =
    MergeConfig(
      idFields = Seq("cid"), idType = "e", entityType = "e", source = "prop",
      processType = "full", processId = pid, userId = "t",
      processTime = pt, isDelta = false)

  private def randomBatch(rnd: Random, idSpace: Int): DataFrame = {
    val rows = (1 to idSpace).filter(_ => rnd.nextDouble() > 0.3)
      .map(i => (i, s"v${rnd.nextInt(3)}"))
    if (rows.isEmpty) Seq((1, "v0")).toDF("cid", "tier")
    else rows.toDF("cid", "tier")
  }

  private def checkInvariants(r: Scd2Merge.MergeResult,
      prevHistCount: Long): Unit = {
    val hist = r.history.cache()
    // one current row per entity, and it is the arg-max version
    val snap = Scd2Merge.snapshot(hist)
    snap.groupBy(col(Meta.EntityId)).count()
      .filter(col("count") > 1).count() shouldBe 0
    val maxV = hist.groupBy(col(Meta.EntityId))
      .agg(max(col(Meta.Version)).as("mv"))
    snap.join(maxV, Meta.EntityId)
      .filter(col(Meta.Version) =!= col("mv")).count() shouldBe 0
    // versions are contiguous 1..max per entity (no gaps, no dups)
    val perEntity = hist.groupBy(col(Meta.EntityId))
      .agg(count(lit(1)).as("n"), max(col(Meta.Version)).as("mv"),
        countDistinct(col(Meta.Version)).as("nv"))
    perEntity.filter(col("n") =!= col("mv") ||
      col("nv") =!= col("n")).count() shouldBe 0
    // history growth equals the emitted branch counts (append mode)
    val delta = r.inserted.count() + r.changed.count() + r.removed.count()
    hist.count() - prevHistCount shouldBe delta
    hist.unpersist()
    ()
  }

  it should "hold merge invariants across random load chains" in {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new Random(seed)
      var hist: Option[DataFrame] = None
      var histCount = 0L
      // per-step snapshots for the time-travel invariant below
      var stepSnaps: List[(String, DataFrame)] = Nil
      for (step <- 1 to 3) {
        val pt = s"2024-05-0$step 00:00:00"
        val r = Scd2Merge.merge(randomBatch(rnd, 12), hist,
          cfg(s"p$seed-$step", pt))
        checkInvariants(r, histCount)
        hist = Some(r.history.localCheckpoint(true))
        histCount = hist.get.count()
        stepSnaps ::= pt -> Scd2Merge.snapshot(hist.get).localCheckpoint(true)
      }
      // time travel: as-of each load's processTime reproduces that load's
      // snapshot EXACTLY (append-only history never mutates old rows)
      for ((pt, snapK) <- stepSnaps) {
        val asOf = Scd2Merge.snapshotAsOf(hist.get, pt)
        asOf.count() shouldBe snapK.count()
        asOf.exceptAll(snapK).count() shouldBe 0
        snapK.exceptAll(asOf).count() shouldBe 0
      }
      // idempotence: replaying the exact final state as a full load is a no-op
      val replay = Scd2Merge.snapshot(hist.get)
        .filter(col(Meta.RecType) =!= Meta.Rec.Delete)
        .select(col("cid"), col("tier"))
      val r = Scd2Merge.merge(replay, hist, cfg(s"p$seed-replay"))
      r.inserted.count() shouldBe 0
      r.changed.count() shouldBe 0
      r.removed.count() shouldBe 0
    }
  }

  it should "keep a stored load chain equal to the pure merge chain" in {
    // random chains of delta and full loads through Scd2Store.runLoad
    // (kernel against the stored current, delta appended to history)
    // against the same chain of pure merges over the in-memory history.
    // Batches carry delete flags, exact duplicate rows and live + flagged
    // rows of one key; entities dropped by one load come back in later
    // ones (delete-then-reinsert).
    def sorted(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    var reinserted = 0L
    for (seed <- Seq(3, 11, 29)) {
      val rnd = new Random(seed)
      val dir = java.nio.file.Files.createTempDirectory("scd2chain").toString
      val store = new graft.load.Scd2Store(spark, dir)
      var hist: Option[DataFrame] = None
      for (step <- 1 to 4) {
        val rows = (1 to 10).flatMap { i =>
          val live = (i, s"v${rnd.nextInt(3)}", "N")
          (if (rnd.nextDouble() < 0.7) Seq(live) else Nil) ++
            (if (rnd.nextDouble() < 0.15) Seq(live) else Nil) ++
            (if (rnd.nextDouble() < 0.15) Seq((i, "x", "Y")) else Nil)
        }
        val batch = (if (rows.isEmpty) Seq((1, "v0", "N")) else rows)
          .toDF("cid", "tier", "del")
        val c = cfg(s"c$seed-$step", s"2024-06-0$step 00:00:00").copy(
          isDelta = step > 1 && rnd.nextBoolean(),
          processType = "chain",
          deleteIndicatorField = Some(("del", Seq("Y"))))
        withClue(s"seed $seed step $step (delta=${c.isDelta}): ") {
          val counts = store.runLoad("t", batch, c)
          val r = Scd2Merge.merge(batch, hist, c)
          counts shouldBe Map("inserted" -> r.inserted.count(),
            "changed" -> r.changed.count(), "removed" -> r.removed.count())
          val stored = spark.read.parquet(s"$dir/t/history.parquet")
          sorted(stored) shouldBe sorted(r.history)
          sorted(store.readCurrent("t")) shouldBe
            sorted(r.current.filter(col(Meta.RecType) =!= Meta.Rec.Delete))
          hist = Some(r.history.localCheckpoint(true))
          r.unpersist()
        }
      }
      // the generator reached delete-then-reinsert: an I row above a D row
      val h = hist.get
      reinserted += h.filter(col(Meta.RecType) === Meta.Rec.Insert)
        .join(h.filter(col(Meta.RecType) === Meta.Rec.Delete)
          .select(col(Meta.EntityId), col(Meta.Version).as("dv")), Meta.EntityId)
        .filter(col(Meta.Version) > col("dv")).count()
    }
    reinserted should be > 0L
  }
}
