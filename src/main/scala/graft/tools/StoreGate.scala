package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE BATCH-COUNT SCALE GATE (r15 verdict item 5): the store-lifecycle
  * axis the sf-probe is structurally blind to. [[ScaleGate]] scales
  * ROWS at fixed batch count; a `batch_id=N`-partitioned store can
  * still grow one directory per micro-batch forever — the exact class
  * of physical-layout scale killer wave 37 caught on the data axis —
  * and its view's listing/merge cost then grows linearly in BATCHES at
  * constant data. This tool ingests the SAME corpus as B ∈ {1, …, max}
  * micro-batches through each store-backed sink's own batch kernel,
  * times the published view at every B with [[Harness.median]] (the
  * Bench discipline), reads the store's batches and data files
  * ([[graft.store.BatchStore.stats]]), and FAILS — nonzero exit — when
  * view time at max B exceeds [[viewGrowthGate]] × view time at B = 1,
  * or when any view run failed. Where the store has a compaction
  * operator the post-compaction view is re-timed as the documented fix.
  *
  * Covered stores: the X185 k-NN graph store (increments are genuinely
  * stateful — touched-cell recompute — so its B ladder is smaller),
  * the X20/X22 MinHash dedup index, the D7-family value-cell store,
  * and the E16-family daily-agg store (the four named in the r15
  * verdict; each stands in for its whole view family, since the views
  * share one cell directory per family).
  *
  * Usage:
  *   runMain graft.tools.StoreGate <sfDir> [knn,dedup,valuecell,daily]
  */
object StoreGate {

  /** The largest view-time growth from B = 1 to max B a store may show.
    * Small fixtures carry constant per-job overhead, so the bar is loose;
    * the structural signal is the FILE COUNT column growing ∝ B. */
  val viewGrowthGate: Double = 4.0

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StoreGate <sfDir> [store1,store2,...]")
    val sfDir = args(0)
    val wanted =
      if (args.length >= 2) args(1).split(",").map(_.trim).toSeq
      else Seq("knn", "dedup", "valuecell", "daily")
    val spark = Harness.session()
    import graft.streaming.StreamingEvents

    def viewMedian(view: String => DataFrame, dir: String): Double =
      Harness.median(spark, s"[storegate] $dir")(view(dir).collect())

    /** One store probe: build with B batches, return
      * (ingest sec, view median sec, store state, store dir). */
    case class Probe(b: Int, ingest: Double, view: Double,
      store: graft.store.BatchStore.Stats, dir: String)

    def probe(build: (Int, String) => Unit, viewOf: String => DataFrame,
        b: Int, prefix: String): Probe = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      val t0 = System.nanoTime()
      build(b, dir)
      val ingest = (System.nanoTime() - t0) / 1e9
      val view = viewMedian(viewOf, dir)
      Probe(b, ingest, view, graft.store.BatchStore.stats(spark, dir), dir)
    }

    // inputs are re-read per use, as every Bench query reads them: a
    // persist here would be dropped by the release between runs
    val emb = graft.Tables.t(spark, sfDir, "embeddings")
    val events = graft.Tables.t(spark, sfDir, "events")
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val cents = emb.filter(col("vec_id") % 50 === 0)
    val refValues = events.select(col("value"))

    // ---- store builders (each drives the sink's OWN batch kernel) ----
    val builders: Map[String, (Seq[Int], (Int, String) => Unit,
        String => DataFrame, Option[String => Unit])] = Map(
      "knn" -> ((Seq(1, 4, 16),
        (b: Int, dir: String) =>
          for (m <- 0 until b)
            graft.ann.Similarity.knnGraphIncrement(
              emb.filter(pmod(col("vec_id"), lit(b)) === m), "vec_id",
              "embedding", cents, 64, 4, s"$dir/store", m.toLong,
              probes = 2),
        (dir: String) => StreamingEvents.knnGraphView(spark,
          s"$dir/store"),
        Some((dir: String) => {
          graft.ann.Similarity.compactKnnStore(spark, s"$dir/store")
          ()
        }))),
      "dedup" -> ((Seq(1, 10, 100),
        (b: Int, dir: String) =>
          for (m <- 0 until b)
            StreamingEvents.dedupBatch(
              docs.filter(pmod(col("doc_id"), lit(b)) === m), m.toLong,
              "doc_id", "text", s"$dir/index", s"$dir/verdicts",
              shingleN = 3, k = 16, bands = 4, minMatch = 8),
        // the published read path: verdict a fixed probe batch against
        // the read-back index (the sink's own query shape)
        (dir: String) => graft.text.Dedup.incrementalDedupIndexed(
          graft.text.Dedup.readDedupIndex(spark, s"$dir/index"),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          3, 16, 4, 8),
        Some((dir: String) => {
          graft.text.Dedup.compactDedupIndex(spark, s"$dir/index")
          ()
        }))),
      "valuecell" -> ((Seq(1, 10, 100),
        (b: Int, dir: String) =>
          for (m <- 0 until b)
            StreamingEvents.valueCellBatch(
              events.filter(pmod(col("event_id"), lit(b)) === m),
              m.toLong, "value", s"$dir/cells"),
        (dir: String) => StreamingEvents.ksDriftView(spark,
          s"$dir/cells", refValues, "value"),
        None)),
      "daily" -> ((Seq(1, 10, 100),
        (b: Int, dir: String) =>
          for (m <- 0 until b)
            StreamingEvents.dailyAggBatch(
              events.filter(pmod(col("event_id"), lit(b)) === m),
              m.toLong, "user_id", "ts", "value", s"$dir/daily"),
        (dir: String) => StreamingEvents.cusumView(spark, s"$dir/daily",
          "user_id"),
        None)))

    val unknown = wanted.filterNot(builders.contains)
    require(unknown.isEmpty, s"unknown stores: ${unknown.mkString(",")}" +
      s" (have ${builders.keys.mkString(",")})")

    println(s"[storegate] stores ${wanted.mkString(",")}, " +
      s"gate $viewGrowthGate, repeats ${Harness.Repeats}")
    println("| store | B | ingest s | view s | batches | files | note |")
    println("|---|---|---|---|---|---|---|")
    def secs(t: Double): String = if (t < 0) "failed" else f"$t%.2f"
    val results = wanted.map { name =>
      val (bs, build, view, compact) = builders(name)
      val probes = bs.map { b =>
        val p = probe(build, view, b, s"graft_sg_$name")
        println(f"| $name | ${p.b} | ${p.ingest}%.2f | ${secs(p.view)} | " +
          f"${p.store.batches} | ${p.store.files} | " +
          s"${if (p.view < 0) "FAIL " else ""}|")
        p
      }
      // compaction = the documented fix: re-time the max-B store's view
      val compacted = compact.map { c =>
        val last = probes.last
        c(last.dir)
        val v = viewMedian(view, last.dir)
        val st = graft.store.BatchStore.stats(spark, last.dir)
        println(f"| $name | ${last.b} | — | ${secs(v)} | ${st.batches} | " +
          f"${st.files} | compacted${if (v < 0) " FAIL" else ""} |")
        v
      }
      // a failed view run has no ratio: the store fails
      val ratio =
        if ((probes.map(_.view) ++ compacted).exists(_ < 0)) None
        else Some(probes.last.view / probes.head.view)
      (name, probes, compacted, ratio)
    }
    val failed = results.filter(_._4.forall(_ > viewGrowthGate))
    val json = results.map { case (n, ps, c, r) =>
      val bjson = ps.map(p =>
        f""""b${p.b}":{"ingest":${p.ingest}%.3f,"view":${p.view}%.3f,"batches":${p.store.batches},"files":${p.store.files}}""")
        .mkString(",")
      val cj = c.map(v => f""","compacted_view":$v%.3f""").getOrElse("")
      val rj = r.fold("null")(x => f"$x%.3f")
      s""""$n":{$bjson,"ratio":$rj$cj,"ok":${r.exists(_ <= viewGrowthGate)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"storegate","gate":$viewGrowthGate,"failed":${failed.size},"stores":$json}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[storegate] FAIL: ${failed.map(f =>
        s"${f._1} (${f._4.fold("failed run")(r => f"$r%.2f×")})")
        .mkString(", ")} — a failed view run, or above ×$viewGrowthGate " +
        "view-time growth at max batch count")
      sys.exit(1)
    }
    println("[storegate] PASS")
  }
}
