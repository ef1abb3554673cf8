package graft

import graft.ann.Similarity
import graft.text.Dedup
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._

/** Plan-shape guards for the scale-critical operators: these assert the
  * STRUCTURE of the physical plan, so a regression that silently
  * re-introduces a known scale hazard (a window over a crossJoin, a lost
  * positional filter, a fact join that stopped broadcasting) fails a spec
  * instead of only showing up as a 100 TB incident. */
class PlanGuardSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(SimpleMode)

  private val vecs = (1L to 40L)
    .map(i => (i, Array.tabulate(8)(j => (i % 7 + j).toDouble)))
    .toDF("vec_id", "embedding")

  it should "assign IVF centroids without a window or a cartesian product" in {
    val plan = planOf(Similarity.ivfAssign(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") % 10 === 0), dim = 8))
    plan should not include "Window"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "keep the round-14 ANN family cell-keyed: no cartesian, no data-global window" in {
    val cents = vecs.filter(col("vec_id") % 10 === 0)
    // X181 halo LOF: the pair relation is a cell-keyed equi join over
    // the probe table — never a cross join — and every window the LOF
    // kernel runs is point-partitioned
    val haloPlan = planOf(Similarity.lofScoresHalo(vecs, "vec_id",
      "embedding", cents, dim = 8, k = 2, probes = 2))
    haloPlan should not include "CartesianProduct"
    haloPlan should not include "BroadcastNestedLoopJoin"
    // X182 k-NN graph: the cell-local kernel — one exchange on the cell
    // id feeds it, and no pair relation is ever joined or windowed
    val knnPlan = planOf(Similarity.knnGraph(vecs, "vec_id",
      "embedding", cents, dim = 8, k = 2, probes = 2))
    knnPlan should not include "CartesianProduct"
    knnPlan should not include "BroadcastNestedLoopJoin"
    knnPlan should include regex "Exchange hashpartitioning\\(centroid_id#\\d+L?, "
    knnPlan should not include "Window"
    knnPlan should not include "SortMergeJoin"
    // X183 mutual-kNN clusters: the reciprocity cut is an equi
    // intersect, the closure the CC propagation loop — still no
    // cartesian anywhere
    val mkPlan = planOf(Similarity.mutualKnnClusters(vecs, "vec_id",
      "embedding", cents, dim = 8, k = 2, probes = 2))
    mkPlan should not include "CartesianProduct"
    mkPlan should not include "BroadcastNestedLoopJoin"
    graft.util.Caches.releaseAll(spark)
  }

  it should "keep the audio decode family shuffle-free: no Exchange anywhere in the decode plans" in {
    // the ScaleGate `declaredComputeBound` contract, structurally
    // proven: m6/m7's whole plan is a row-parallel map over the
    // payload relation — a wall-time exponent ~1 at fixed cores is
    // linear WORK that scales out with executors, and that claim is
    // only honest while no Exchange sneaks in
    val payloads = Seq((1L, graft.multimodal.Multimodal.pcmWav(1L, 50)),
      (2L, graft.multimodal.Multimodal.pcmWav(2L, 60)))
      .toDF("doc_id", "content")
    val decodePlan = planOf(
      graft.multimodal.Multimodal.decodeWavFeatures(payloads, "doc_id"))
    decodePlan should not include "Exchange"
    val fpPlan = planOf(
      graft.multimodal.Multimodal.audioEnergyHash(payloads, "doc_id"))
    fpPlan should not include "Exchange"
  }

  it should "keep the PPJoin positional filter in the Jaccard candidate stage" in {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val plan = planOf(Dedup.jaccardSimilarityJoin(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5))
    // the candidate aggregate must carry the positional-filter state: max
    // matched prefix positions on both sides plus the match count
    plan should include("__pa")
    plan should include("__pb")
    plan should include("__m")
    // verify must be the overlap-count join, never full-array shipping
    plan should not include "array_intersect"
    // the cross-corpus variant shares the machinery and the same contract
    val planRS = planOf(Dedup.jaccardSimilarityJoinBetween(docs,
      Seq((7L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, threshold = 0.5))
    planRS should include("__pa")
    planRS should not include "array_intersect"
  }

  it should "reuse one exchange for both sides of the LSH band self-joins" in {
    // the signature projection (corpus-wide hashing) must be computed once:
    // both self-join sides are the identical subtree shuffled on the same
    // band key, which ReuseExchange collapses — a regression here doubles
    // the corpus scan instead of failing a test
    // duplicated texts so real pairs survive — an empty result lets AQE
    // propagate EmptyRelation and skip the shuffle entirely
    val docs = (1L to 30L)
      .map(i => (i, s"alpha beta gamma delta w${i % 3} epsilon zeta eta"))
      .toDF("doc_id", "text")
    def executedWithReuse(df: org.apache.spark.sql.DataFrame): Boolean = {
      // collect() (not count(), which builds a separate plan) so THIS
      // DataFrame's adaptive plan is finalized, then look for the reuse
      // node in the final plan
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
    }
    // force the shuffle-join path (the 100 TB shape): with tiny test data
    // AQE broadcasts one side instead, which precludes shuffle reuse
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(executedWithReuse(
        Dedup.minhashNearDuplicates(docs, "doc_id", "text")))
      assert(executedWithReuse(
        Dedup.simhashNearDuplicates(docs, "doc_id", "text")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  it should "band the 64-bit simhash join on 16-bit keys" in {
    // the whole point of the 64-bit variant is 2^16 buckets per band: the
    // band values must be built with the 65536 modulus / 16-bit shift, not
    // the 32-bit operator's 256-bucket bands
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val plan = planOf(Dedup.simhashNearDuplicates64(docs, "doc_id", "text"))
    plan should include("65536")
    plan should include("shiftright")
  }

  private def withStaticShufflePlans[T](f: => T): T = {
    // static plans make the structural asserts deterministic: AQE would
    // wrap stages and hide the tree shape from collect(), and tiny test
    // inputs would broadcast where the 100 TB shape shuffles
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  it should "run E10 and W17's frames as one entity-keyed exchange under the sliding-frame kernel, with no window" in {
    // the kernel's contract: one exchange keyed on the entity, a sort
    // within partitions and one mapPartitions pass — a regression back to
    // a range-frame window re-aggregates every frame as it slides
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.events.{EventFeatures, EventFunctions}
    withStaticShufflePlans {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val ev = Seq(
        (1L, 1L, "view", ts("2024-01-05 10:00:00"), 1.0),
        (2L, 1L, "purchase", ts("2024-01-05 10:10:00"), 5.0),
        (3L, 2L, "purchase", ts("2024-01-05 11:00:00"), 7.0))
        .toDF("event_id", "user_id", "event_type", "ts", "value")
      for (df <- Seq(EventFeatures.trailingWindow(ev, 3600),
          EventFunctions.touchPicks(ev, "purchase", Seq("view"), 3600))) {
        df.queryExecution.optimizedPlan
          .collect { case w: WindowNode => w } shouldBe empty
        val plan = df.queryExecution.executedPlan
        val kernel = plan.collect { case m: MapPartitionsExec => m }
        kernel should have size 1
        val below = kernel.head.collect { case e: ShuffleExchangeExec => e }
        below should have size 1
        below.head.outputPartitioning match {
          case HashPartitioning(Seq(a: AttributeReference), _) =>
            a.name shouldBe "user_id"
          case other => fail(s"kernel exchange is $other")
        }
        plan.collect { case e: ShuffleExchangeExec => e } should have size 1
      }
    }
  }

  it should "assemble a three-table point-in-time training set with one keyed exchange and one window" in {
    // the as-of kernel's contract: labels and every feature table meet in
    // one union, one exchange keyed on the join keys and one window; the
    // per-table fold it replaced stacked an exchange and a window per table
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.relational.Joins
    withStaticShufflePlans {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val labels = Seq((1L, "a", ts("2024-01-10 00:00:00"), 10L))
        .toDF("user", "shop", "ts", "label_id")
      def table(v: String) = Seq((1L, "a", ts("2024-01-09 00:00:00"), 1.0))
        .toDF("user", "shop", "ts", v)
      val features = Seq("f" -> table("x"), "g" -> table("y"), "h" -> table("z"))
      val df = Joins.pointInTimeTrainingSet(labels, features,
        Seq("user", "shop"), "ts", "ts")
      df.queryExecution.optimizedPlan
        .collect { case w: WindowNode => w } should have size 1
      val plan = df.queryExecution.executedPlan
      plan.collect { case w: WindowExec => w } should have size 1
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      exchanges should have size 1
      exchanges.head.outputPartitioning match {
        case HashPartitioning(keys, _) =>
          keys.map { case a: AttributeReference => a.name } shouldBe
            Seq("user", "shop")
        case other => fail(s"kernel exchange is $other")
      }
      // checkUnique over every table is one aggregate job
      jobsDuring(graft.ml.FeaturePrep.pointInTimeMatrix(labels,
        Seq("user", "shop"), "ts", features.map { case (n, t) => (n, t, "ts") },
        checkUnique = true)) shouldBe 1
    }
  }

  it should "probe the dedup index through broadcast joins with an unshuffled index side" in {
    // X20's contract: the corpus/index side is touched by pruned scans and
    // NEVER shuffled — the (small) batch is what broadcasts. A regression
    // to a shuffled join re-partitions the 100 TB side per delta batch.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    withStaticShufflePlans {
      val corpus = (1L to 20L)
        .map(i => (i, s"alpha beta gamma delta w${i % 4} epsilon"))
        .toDF("doc_id", "text")
      val batch = Seq((100L, "alpha beta gamma delta w1 epsilon"))
        .toDF("doc_id", "text")
      val plan = Dedup.incrementalDedup(corpus, batch, "doc_id", "text")
        .queryExecution.executedPlan
      val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
      // the index-probing joins: exact keys on the text hash, near on the
      // band hash (the final per-doc result joins are batch-sized and out
      // of scope — their streamed side legitimately contains aggregates)
      val probes = bhj.filter(_.leftKeys.map(_.toString).exists(k =>
        k.contains("__th") || k.contains("band_hash")))
      probes.size shouldBe 2
      // the streamed (index) side of those joins must carry no shuffle
      probes.foreach { j =>
        val streamed = if (j.buildSide.toString.contains("Right")) j.left
          else j.right
        streamed.collect { case e: ShuffleExchangeExec => e } shouldBe empty
      }
    }
  }

  it should "scan the dedup-pipeline corpus once, through the cache" in {
    // X18 composes exact dedup + clustering + a final join-back over the
    // same corpus: every consumer must read the single cached projection,
    // not re-scan the files
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    withStaticShufflePlans {
      val tmp = java.nio.file.Files.createTempDirectory("graft_guard").toString
      (1L to 20L)
        .map(i => (i, s"alpha beta gamma delta w${i % 3} epsilon zeta"))
        .toDF("doc_id", "text")
        .write.parquet(s"$tmp/docs_store")
      val docs = spark.read.parquet(s"$tmp/docs_store")
      val result = Dedup.dedupPipeline(docs, "doc_id", "text")
      val plan = result.queryExecution.executedPlan
      plan.collect { case f: FileSourceScanExec => f } shouldBe empty
      plan.collect { case m: InMemoryTableScanExec => m } should not be empty
      graft.util.Caches.releaseAll(spark)
      spark.catalog.clearCache()
    }
  }

  it should "scan the curation-pipeline corpus once, through the cache" in {
    // X34 composes normalize + quality + dedup + sampling: the dedup
    // aggregate and the verdict join-back must both read the single
    // cached normalized projection, not re-scan the files
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    withStaticShufflePlans {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cur").toString
      (1L to 20L)
        .map(i => (i, s"the a of and is w${i % 3} x y z " * 4))
        .toDF("doc_id", "text")
        .write.parquet(s"$tmp/docs_store")
      val docs = spark.read.parquet(s"$tmp/docs_store")
      val plan = graft.curate.Curation
        .curationPipeline(docs, "doc_id", "text", minWords = 5)
        .queryExecution.executedPlan
      plan.collect { case f: FileSourceScanExec => f } shouldBe empty
      plan.collect { case m: InMemoryTableScanExec => m } should not be empty
      graft.util.Caches.releaseAll(spark)
      spark.catalog.clearCache()
    }
  }

  it should "never re-exchange the checkpointed edge side of the CC propagation join" in {
    // the edge set is partitioned by the join key BEFORE its checkpoint,
    // and the label side inherits its aggregate's partitioning through its
    // own checkpoint (outputPartitioning rewrites through the v->b alias),
    // so the propagation join re-exchanges NEITHER side: a plain round
    // costs exactly one exchange (the closing aggregate); a jumping round
    // adds exactly one more — the aggregate's O(V) output re-keyed for
    // the pointer-jump lookup, whose label side is again exchange-free
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withStaticShufflePlans {
      val edges = (1L to 10L).map(i => (i, i + 1)).toDF("src", "dst")
      val sym = graft.graph.EntityResolution.symmetrized(edges, "src", "dst")
      val labels = sym.groupBy(col("a"))
        .agg(least(col("a"), min(col("b"))).as("component"))
        .select(col("a").as("v"), col("component"))
        .localCheckpoint(true)
      def exchanges(jump: Boolean): Int = graft.graph.EntityResolution
        .propagationPlan(sym, labels, jump)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      exchanges(jump = false) shouldBe 1
      exchanges(jump = true) shouldBe 2
      graft.util.Caches.releaseAll(spark)
    }
  }

  it should "keep TextRank's per-iteration plans constant-sized and its rank side checkpoint-truncated" in {
    // the X160 loop discipline (the r11 judge's one plan defect): edges
    // are src-repartitioned + localCheckpoint'ed ONCE and each
    // iteration's rank table is eagerly localCheckpoint'ed, so (a) the
    // returned plan bottoms out in checkpointed RDD scans — a persist
    // chain would instead carry the FULL nested join lineage, growing
    // one level per iteration (Catalyst re-analysis measured 9x by
    // iteration 5 on the HITS twin) — and (b) the analyzed-plan size is
    // IDENTICAL at 2 and at 6 iterations. Per-iteration exchanges are
    // node-sized by construction: the only shuffles touch pr (hash to
    // src), contrib (groupBy dst) and the vocabulary left join — the
    // edge-sized relation is pre-partitioned behind its checkpoint.
    val docs = Seq((1L, "alpha beta gamma alpha beta"),
      (2L, "gamma delta alpha gamma"), (3L, "beta delta epsilon beta"))
      .toDF("id", "text")
    def planNodes(iters: Int): Int = {
      val df = graft.text.TextRank.textRankKeywords(docs, "id", "text",
        iterations = iters, topK = 5)
      val n = df.queryExecution.analyzed.collect { case p => p }.size
      // the rank side must bottom out in a checkpointed LogicalRDD —
      // a persist chain would show the nested per-iteration joins here
      df.queryExecution.analyzed.toString should include ("LogicalRDD")
      graft.util.Caches.releaseAll(spark)
      spark.catalog.clearCache()
      n
    }
    planNodes(2) shouldBe planNodes(6)
  }

  it should "keep Katz centrality's per-iteration plans constant-sized (the X160 discipline)" in {
    // katzCentrality inherits the PageRank loop contract: edges are
    // src-repartitioned + localCheckpoint'ed once, each iteration's
    // rank table eagerly localCheckpoint'ed — analyzed-plan size must
    // not grow with the iteration count, and the rank side must bottom
    // out in checkpointed RDD scans.
    val edges = (1L to 60L).map(i => (i % 12, (i * 5 + 1) % 12))
      .filter(t => t._1 != t._2).toDF("src", "dst")
    def planNodes(iters: Int): Int = {
      val df = graft.graph.PageRank.katzCentrality(edges, "src", "dst",
        alphaInverse = 8, iterations = iters)
      val n = df.queryExecution.analyzed.collect { case p => p }.size
      df.queryExecution.analyzed.toString should include ("LogicalRDD")
      graft.util.Caches.releaseAll(spark)
      spark.catalog.clearCache()
      n
    }
    planNodes(2) shouldBe planNodes(6)
  }

  it should "shuffle the IVFADC index exactly once, on centroid_id only" in {
    // the composed index's contract: the encoded corpus pays ONE exchange
    // (the bucket layout on centroid_id) at build time, and search never
    // re-shuffles it — the only post-build exchange is the tiny q × k
    // partials window. A regression that re-partitions the corpus per
    // query batch is the 100 TB incident this guard exists for.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ann.ProductQuantization
    withStaticShufflePlans {
      val vecs8 = (1L to 20L)
        .map(i => (i, Array.tabulate(8)(j => (i % 5 + j).toDouble)))
        .toDF("vec_id", "embedding")
      val cents = vecs8.filter(col("vec_id") % 7 === 0)
      val books = (0 until 2).map(s => cents.select(
          lit(s).as("subspace"), col("vec_id").as("centroid_id"),
          slice(col("embedding"), s * 4 + 1, 4).as("centroid")))
        .reduce(_ unionByName _)
      val encoded = ProductQuantization.ivfEncode(vecs8, "vec_id",
        "embedding", cents, books, m = 2, dim = 8)
      val buildEx = encoded.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      buildEx.map(_.outputPartitioning.toString).filter(
        _.contains("centroid_id")) should have size 1
      buildEx should have size 1
      val search = ProductQuantization.ivfAdcTopK(
        vecs8.filter(col("vec_id") % 4 === 0), encoded, "vec_id",
        "embedding", cents, books, m = 2, k = 2, probes = 2)
      val searchEx = search.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      // index layout + partials window — nothing else
      searchEx should have size 2
    }
  }

  it should "merge a delta load against the stored current in one exchange" in {
    // the SCD2 kernel co-groups the stamped batch with the stored
    // snapshot in ONE entity_id exchange; its window and its duplicate
    // removal reuse that partitioning. Per-branch joins (inserts,
    // changes, deletes each joining the batch to current) would add
    // exchanges per branch — this bound keeps the kernel one pass.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.load.{MergeConfig, Scd2Merge, Scd2Store}
    withStaticShufflePlans {
      val dir = java.nio.file.Files.createTempDirectory("graft_kernel").toString
      val store = new Scd2Store(spark, dir)
      val cfg = MergeConfig(idFields = Seq("cid"), idType = "cust",
        entityType = "cust", source = "unit", processType = "load",
        processId = "p1", userId = "t",
        processTime = "2024-03-01 00:00:00", isDelta = true,
        deleteIndicatorField = Some(("del", Seq("Y"))))
      store.runLoad("k", (1 to 20).map(i => (i, s"v$i", "N"))
        .toDF("cid", "v", "del"), cfg)
      val delta = Scd2Merge.delta(
        Seq((1, "w1", "N"), (2, "v2", "Y"), (30, "v30", "N"))
          .toDF("cid", "v", "del"),
        Some(spark.read.parquet(s"$dir/k/current.parquet")),
        cfg.copy(processId = "p2", processTime = "2024-03-02 00:00:00"))
      val plan = delta.queryExecution.executedPlan
      plan.collect { case e: ShuffleExchangeExec => e } should have size 1
      planOf(delta) should not include "Join"
      delta.select("cid", "rectype", "version").as[(Int, String, Int)]
        .collect().sorted shouldBe Array((1, "U", 2), (2, "D", 2), (30, "I", 1))
    }
  }

  it should "run the SCD2 changed-detection join exchange-free on bucketed tables" in {
    // the publishBucketed layout: history/current published bucketed on
    // entity_id, a staged batch bucketed the same way — a join of the
    // two on entity_id shuffles neither side, load after load
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.load.{MergeConfig, Scd2Merge, Scd2Store}
    import graft.meta.Meta
    withStaticShufflePlans {
      val dir = java.nio.file.Files.createTempDirectory("graft_bkt").toString
      val store = new Scd2Store(spark, dir)
      val cfg = MergeConfig(idFields = Seq("cid"), idType = "cust",
        entityType = "cust", source = "unit", processType = "load",
        processId = "p1", userId = "t",
        processTime = "2024-03-01 00:00:00", isDelta = true)
      store.runLoad("bt", (1 to 20).map(i => (i, s"v$i")).toDF("cid", "v"),
        cfg)
      val (_, curT) = store.publishBucketed("bt", buckets = 4)
      // stage the next batch with the SAME stamp projection (a first-load
      // merge) into an identically-bucketed table
      val staged = Scd2Merge.merge(
        (1 to 20).map(i => (i, s"w$i")).toDF("cid", "v"), None,
        cfg.copy(processId = "p2", processTime = "2024-03-02 00:00:00"))
        .history
      graft.relational.Joins.writeBucketed(staged, "bt_staged",
        Seq(Meta.EntityId), buckets = 4)
      // incoming ⋈ current on entity_id with a change-hash mismatch
      val changed = spark.table("bt_staged").join(
        spark.table(curT).select(col(Meta.EntityId).as("__ex_id"),
          col(Meta.HashedValue).as("__ex_hash")),
        col(Meta.EntityId) === col("__ex_id") &&
          col(Meta.HashedValue) =!= col("__ex_hash"))
      changed.collect().length shouldBe 20 // every value changed
      changed.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e } shouldBe empty
    }
  }

  it should "bound substring-dedup at three key-partitioned exchanges with no cartesian stage" in {
    // exact-substring dedup is windows → dup-fingerprint agg (fp) →
    // probe join (fp, reusable exchange) → span merge (doc_id): every
    // exchange is key-partitioned and linear in corpus token count. A
    // cartesian/BNL stage or a window over the unaggregated fingerprint
    // stream would be the O(n²)/skew regression this guard exists for.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = (1L to 30L)
      .map(i => (i, ((1 to 12).map(j => s"t${(i * 31 + j) % 97}") ++
        Seq("shared", "licence", "line", "of", "eight", "tokens", "in",
          "total")).mkString(" ")))
      .toDF("doc_id", "text")
    // static plans: under AQE the executedPlan is one AdaptiveSparkPlanExec
    // leaf and a ShuffleExchangeExec collect() would vacuously count zero
    withStaticShufflePlans {
      val df = graft.text.SubstringDedup.duplicatedSpans(
        docs, "doc_id", "text", 8)
      df.collect().length should be > 0 // the guard must watch a live plan
      val plan = planOf(df)
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      val exchanges = df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      exchanges.size should be <= 3

      // the incremental form's INDEX side must never shuffle: it streams
      // through a broadcast hash join; the plan's exchanges (batch-fp
      // distinct, matched-fp distinct, span-merge window) are all
      // batch-sized
      val idx = graft.text.SubstringDedup.buildSpanIndex(docs, "doc_id",
        "text", 8)
      val inc = graft.text.SubstringDedup.incrementalDuplicatedSpans(idx,
        docs.limit(5), "doc_id", "text", 8)
      inc.collect().length should be > 0
      val incPlan = planOf(inc)
      incPlan should include("BroadcastHashJoin")
      // three batch-bounded exchanges: batch-fp distinct, matched-fp
      // distinct (partial-aggregated map-side, so its shuffle volume is
      // distinct-fps-per-partition even though the index scan feeds it),
      // and the doc_id span-merge window
      inc.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
        .size should be <= 3
    }
  }

  it should "keep the round-8 curation operators window-free and bounded" in {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // X45 line dedup: deliberately NOT a window over the line hash (a
    // hot boilerplate line would serialize through one task) — the plan
    // must be the groupBy+join form with bounded exchanges and no sort
    // of corpus-sized data by hash
    val docs = (1L to 30L)
      .map(i => (i, s"own line $i\nshared footer\n\ntail ${i % 5}"))
      .toDF("doc_id", "text")
    val ld = Dedup.lineDeduplicate(docs, "doc_id", "text")
    ld.collect().length shouldBe 30
    val ldPlan = planOf(ld)
    ldPlan should not include "Window"
    ldPlan should not include "CartesianProduct"
    ld.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e }
      .size should be <= 4

    // X44 SemDeDup: one pair shuffle keyed on centroid_id; never a
    // cartesian pair space, never a window
    graft.functions.DotProductExpr.register(spark)
    val sd = Similarity.semDeDup(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") % 10 === 0), 0.99, 8)
    sd.collect().length shouldBe 40
    val sdPlan = planOf(sd)
    sdPlan should not include "CartesianProduct"
    sdPlan should not include "BroadcastNestedLoopJoin"
    sdPlan should not include "Window"

    // X46 temperature mixing: the factor table joins back as a
    // BROADCAST — corpus-sized data must not shuffle for a
    // domain-count-sized mixture table
    val mix = graft.curate.Curation.temperatureMixture(
      docs.withColumn("src", concat(lit("d"), col("doc_id") % 3)),
      "doc_id", "text", "src", 0.5)
    mix.collect().length shouldBe 30
    val mixPlan = planOf(mix)
    mixPlan should include("BroadcastHashJoin")
    mixPlan should not include "SortMergeJoin"
    mixPlan should not include "Window"
  }

  it should "broadcast only model scalars in NB scoring and the query batch in BM25" in {
    // X50: priors + vocab are the broadcast side; the (class, token)
    // count table must arrive through a key-partitioned join (it is the
    // unbounded part of the model), and the corpus must never cartesian
    val docs = (1L to 40L)
      .map(i => (i, s"tok${i % 7} tok${i % 5} filler common", s"c${i % 3}"))
      .toDF("doc_id", "text", "lab")
    val model = graft.ml.TextClassifier.train(docs, "text", "lab")
    val scored = graft.ml.TextClassifier.score(model, docs, "doc_id", "text")
    scored.collect().length shouldBe 40
    val plan = planOf(scored)
    // scalar crosses (vocab size, doc total) are 1-row broadcast BNLJs —
    // fine; an unbroadcast CartesianProduct is the scale hazard
    plan should not include "CartesianProduct"
    plan should include("BroadcastHashJoin") // priors cross classes

    // X51: the postings probe is a broadcast semi-join on the query
    // terms — corpus-sized tf must not shuffle to meet 3 queries, and
    // the only window partitions by query_id
    val bm = graft.text.Retrieval.bm25TopK(spark, docs, "doc_id", "text",
      Seq("q1" -> "tok1 common", "q2" -> "tok3"), k = 3)
    bm.collect().length should be > 0
    val bmPlan = planOf(bm)
    bmPlan should not include "CartesianProduct"
    bmPlan should include("BroadcastHashJoin")
  }

  it should "resolve star fact FKs through broadcast joins only" in {
    val spec = graft.star.DimSpec("tier", Seq("tier"), Nil)
    val dim = graft.star.Star.mergeDim(None,
      graft.star.Star.loadDim(
        Seq((1L, "gold"), (2L, "silver")).toDF("k", "tier"),
        spec, "2024-03-01 00:00:00"),
      spec, "2024-03-01 00:00:00")
    val fact = Seq((1L, "gold", 10.0), (2L, "silver", 5.0))
      .toDF("k", "tier", "amount")
    val plan = planOf(graft.star.Star.loadFacts(fact,
      Seq(graft.star.Star.FactDim(spec, dim, Seq("tier"))),
      Seq("k", "amount")))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  it should "build Count-Min cells in exactly one map-side-combined exchange" in {
    // X68's contract: the depth-way expansion happens BEFORE the single
    // aggregate exchange, so the shuffle carries partially-combined
    // (group, r, c, n) rows — bounded by min(depth*width, depth*distinct)
    // per group — never the raw token stream.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withStaticShufflePlans {
      val toks = (1L to 100L).map(i => ("g", s"tok${i % 13}"))
        .toDF("grp", "tok")
      val plan = graft.sketch.Sketches.countMinCells(toks, "grp", "tok",
        4, 64).queryExecution.executedPlan
      plan.collect { case e: ShuffleExchangeExec => e } should have size 1
      planOf(graft.sketch.Sketches.countMinCells(toks, "grp", "tok",
        4, 64)) should include("partial_count")
    }
  }

  it should "materialize an epoch plan with zero shuffles of the corpus" in {
    // X70's contract: one broadcast join against the |domains|-row plan
    // plus a bounded explode — the corpus never moves.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withStaticShufflePlans {
      val docs = (1L to 50L).map(i => (i, "a b c", "d"))
        .toDF("doc_id", "text", "domain")
      val plan = Seq(("d", 1.5)).toDF("domain", "epochs")
      val out = graft.curate.Curation.materializePlan(docs, "doc_id",
        "text", "domain", plan, seed = 3L)
      out.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e } shouldBe empty
      planOf(out) should include("BroadcastHashJoin")
    }
  }

  it should "never shuffle chunk text in the CDC dedup report" in {
    // X69's contract: chunking itself is exchange-free (one UDF pass),
    // and every downstream exchange carries keys/counters only — the
    // chunk_text column is pruned before any shuffle, so the bytes that
    // cross the wire are a fixed multiple of the chunk COUNT, not the
    // corpus size.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withStaticShufflePlans {
      val docs = (1L to 30L).map(i => (i, "alpha beta gamma delta " * 3))
        .toDF("doc_id", "text")
      graft.text.CdcChunk.chunks(docs, "doc_id", "text")
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e } shouldBe empty
      val rep = graft.text.CdcChunk.chunkDedupReport(docs, "doc_id", "text")
      val exchanges = rep.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      exchanges should not be empty
      exchanges.foreach { e =>
        e.child.schema.fieldNames should not contain "chunk_text"
      }
    }
  }

  it should "keep the round-9 operators shuffle-minimal" in {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withStaticShufflePlans {
      // X73 HTML extraction and X75 chunking: pure projections, ZERO
      // exchanges — a shuffle appearing here means someone turned a
      // per-row transform into a keyed operation
      val docs = (1L to 20L)
        .map(i => (i, s"<p>alpha beta gamma delta epsilon $i</p>"))
        .toDF("doc_id", "html")
      graft.text.HtmlExtract.extractText(docs, "doc_id", "html")
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e } shouldBe empty
      val texts = docs.withColumnRenamed("html", "text")
      graft.text.TextStats.chunkTokens(texts, "doc_id", "text", 4, 3)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e } shouldBe empty

      // X77 context manifest: the two-phase prefix sum may exchange the
      // doc-id table (range repartition + pid window + totals agg) but
      // must NEVER plan a single-partition global-order window — that is
      // the exact scale-killer the operator exists to avoid
      val counts = (1L to 50L).map(i => (i, i % 9)).toDF("doc_id", "n")
      val m = graft.curate.Curation.contextManifest(counts, "doc_id",
        "n", 16L, 1L)
      m.collect().length should be > 0
      val mPlan = planOf(m)
      mPlan should not include "SinglePartition"
      mPlan should include("BroadcastHashJoin") // the prefix join

      // X76 index query: the index side streams through the broadcast
      // bucket join — candidate-side exchanges would re-shuffle the
      // (unbounded) index by bucket
      val emb = (1L to 40L)
        .map(i => (i, Array.tabulate(8)(j => (i % 7 + j).toDouble)))
        .toDF("vec_id", "embedding")
      val cents = emb.filter(col("vec_id") % 10 === 0)
      val idx = Similarity.buildIvfIndex(emb.filter(col("vec_id") % 4
        =!= 0), "vec_id", "embedding", cents, 8)
      val q = Similarity.ivfTopKFromIndex(idx,
        emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
        cents, 2, 8)
      q.collect().length should be > 0
      val qPlan = planOf(q)
      qPlan should include("BroadcastHashJoin")
      // the only exchange is the per-query rank window over join output
      val qEx = q.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      qEx.size should be <= 1
      graft.util.Caches.releaseAll(spark)
    }
  }

  it should "keep the ninth-wave operators free of cartesian products and unbounded shuffles" in {
    withStaticShufflePlans {
      // F17: the category stats must BROADCAST back onto rows — a
      // shuffled row-side join here re-exchanges the whole fact table
      val orders = (1L to 100L).map(i => (i, s"p${i % 5}", i % 2 == 0))
        .toDF("id", "cat", "y")
      val te = graft.ml.Stats.targetEncodeLoo(orders, col("cat"),
        col("y").cast("double"))
      planOf(te) should include("BroadcastHashJoin")

      // X99: wedge join + anti-join only — never a cartesian
      val e = (1L to 60L).map(i => (i, (i * 7) % 60 + 1)).toDF("s", "d")
      val aa = graft.graph.LinkPrediction.adamicAdar(e, "s", "d")
      planOf(aa) should not include "CartesianProduct"
      planOf(aa) should not include "BroadcastNestedLoopJoin"

      // X105: basket-keyed pair join + item-keyed window — no cartesian
      val b = (1L to 80L).map(i => (i % 20, i % 13)).toDF("bk", "it")
      val cf = graft.relational.Associations.itemCosineTopK(b, "bk", "it",
        minCount = 1, k = 3)
      planOf(cf) should not include "CartesianProduct"
      planOf(cf) should not include "BroadcastNestedLoopJoin"

      // D11: every check verdict must ride ONE aggregate over the scan
      // (plus the Unique Expand) — never one job per check
      val df = (1L to 50L).map(i => (i, s"s${i % 3}")).toDF("k", "s")
      val suite = graft.dq.Dq.checkSuite(df, Seq(
        graft.dq.Dq.Complete("k"), graft.dq.Dq.InSet("s", Seq("s0", "s1")),
        graft.dq.Dq.Unique(Seq("k"))))
      "HashAggregate".r.findAllIn(planOf(suite)).size should be <= 4

      // X101: band equi-join, no range cross product
      val keys = (1L to 60L).map(i => (i, s"key${i % 9}x")).toDF("id", "k")
      val fz = graft.text.Fuzzy.sortedNeighborhoodJoin(keys, "id",
        col("k"), window = 4, maxDist = 2)
      planOf(fz) should not include "CartesianProduct"
      planOf(fz) should not include "BroadcastNestedLoopJoin"
      graft.util.Caches.releaseAll(spark)
    }
  }

  it should "keep priority sampling TakeOrdered and PMI free of cartesian joins" in {
    withStaticShufflePlans {
      // X87: the top-k must plan as TakeOrderedAndProject (per-partition
      // prune to k before the merge) — a global Sort+Exchange here means
      // the whole corpus is sorted for a k-row sample
      val docs = (1L to 200L).map(i => (i, 1L + i % 11)).toDF("id", "w")
      val s = graft.curate.Curation.prioritySample(docs, "id", "w", 10,
        "pg")
      planOf(s) should include("TakeOrderedAndProject")

      // X88: both count lookups are equi-joins on the token key and the
      // final top-k is TakeOrdered — no cartesian/broadcast-nested-loop
      // stage may appear
      val texts = (1L to 30L)
        .map(i => (i, s"alpha beta gamma delta tok$i alpha beta"))
        .toDF("doc_id", "text")
      val p = graft.text.TextStats.pmiCollocations(texts, "text", 2, 5)
      val plan = planOf(p)
      plan should include("TakeOrderedAndProject")
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      graft.util.Caches.releaseAll(spark)
    }
  }

  // ---- global-window census -------------------------------------------

  /** Count of partition-less Window nodes in the optimized plan — each
    * one funnels its whole input through a single task, which is the
    * canonical 100 TB scale-killer UNLESS the input relation is bounded
    * by construction (a k-row top, a bucket grid, distinct day
    * durations). */
  private def globalWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.size

  /** The CI tripwire for operators whose input an adversary can grow
    * without bound: fails if ANY partition-less window survives
    * optimization. */
  private def assertNoUnboundedGlobalWindow(
      df: org.apache.spark.sql.DataFrame): Unit =
    withClue("partition-less Window over an unbounded relation:\n" +
      planOf(df)) { globalWindows(df) shouldBe 0 }

  it should "plan epochPlan with no partition-less window at any domain count" in {
    // millions of registrable web domains -> the water-filling order must
    // ride the two-phase Ranks prefix sums, never a global-order window
    val docs = (1L to 60L)
      .map(i => (i, s"dom${i % 7}", "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "domain", "text")
    val plan = graft.curate.Curation.epochPlan(docs, "text", "domain",
      budgetTokens = 100L, maxEpochs = 2.0, alpha = 0.5)
    assertNoUnboundedGlobalWindow(plan)
    plan.collect().length should be > 0
    graft.util.Caches.releaseAll(spark)
  }

  it should "keep every remaining global window on a relation bounded by construction" in {
    // CENSUS of the production call sites that legitimately window a
    // bounded table. Each entry asserts the op plans EXACTLY the
    // expected number of partition-less windows and records WHY the
    // window input is bounded. A new unbounded window in these operators
    // (or a new operator sneaking one in via epochPlan-like shapes above)
    // moves a count and fails here.
    val docs = (1L to 80L)
      .map(i => (i, 1L + i % 11, i % 2 == 0)).toDF("id", "w", "ok")

    // Eval.thresholdSweep / calibrationCurve: windows run over the
    // nBuckets-row grid join (constant 10-20 rows), never the scored rows
    val scored = docs.select(col("id"),
      (col("w") / 11.0).as("s"), col("ok"))
    // (2 nodes: precision consumes the suffix sums, so the same
    // grid-row spec plans twice rather than merging)
    globalWindows(graft.ml.Eval.thresholdSweep(spark, scored, "s", "ok",
      nBuckets = 20)) shouldBe 2
    // (2 nodes: the ECE window consumes __nt from the total window, so
    // the same 10-row spec plans twice rather than merging)
    globalWindows(graft.ml.Eval.calibrationCurve(spark, scored, "s", "ok",
      nBuckets = 10)) shouldBe 2
    // Eval.liftTable: the cumulative-capture window rides the
    // buckets-row aggregate (constant k), ranks come from two-phase sums
    globalWindows(graft.ml.Eval.liftTable(docs, col("w"),
      col("ok").cast("int"), col("id"), buckets = 4)) shouldBe 1
    // Resample.kmFromSpans (E19/E25): risk-set + survival windows run
    // over DISTINCT span durations — bounded by the observation span in
    // days, not by event volume
    val ev = (1L to 40L).map(i => (i % 5, new java.sql.Timestamp(
      86400000L * (19700 + i % 13)))).toDF("user_id", "ts")
    // (3 nodes: t-desc risk window, then the t-asc hit-zero and
    // ln-sum windows, the latter consuming the former)
    globalWindows(graft.events.Resample.kaplanMeier(ev, "user_id",
      col("ts"), "2024-02-01")) shouldBe 3
    // Curation.prioritySample: the rank window runs AFTER limit(k) — a
    // k-row relation by construction
    globalWindows(graft.curate.Curation.prioritySample(docs, "id", "w",
      10, "pg")) shouldBe 1
    graft.util.Caches.releaseAll(spark)
  }

  it should "keep the round-11 session-2 operators free of unbounded windows and cartesian data joins" in {
    import spark.implicits._
    val docs = (1L to 60L)
      .map(i => (i, s"w${i % 9} x${i % 7} y${i % 5} z", i % 3 == 0))
      .toDF("doc_id", "text", "en")

    // two-phase everywhere: curriculum, isotonic, BH-FDR plan NO
    // partition-less window at any input size
    assertNoUnboundedGlobalWindow(graft.curate.Curation.curriculumOrder(
      docs, "doc_id", org.apache.spark.sql.functions.length(col("text")), stages = 3))
    assertNoUnboundedGlobalWindow(graft.ml.Eval.isotonicCalibration(
      docs, org.apache.spark.sql.functions.length(col("text")), col("en").cast("int"), nBuckets = 5))
    assertNoUnboundedGlobalWindow(graft.dq.Stats.bhFdr(
      docs.select((col("doc_id") % 4).as("g"),
        (col("doc_id") % 2).cast("int").as("v"),
        col("en").cast("int").as("y")),
      Seq("g"), col("v"), col("y")))

    // pure-aggregate/join shapes: no window nodes at all
    assertNoUnboundedGlobalWindow(graft.dq.Dq.benfordTest(
      docs.select((col("doc_id") * 7).cast("double").as("v")), col("v")))
    assertNoUnboundedGlobalWindow(graft.dq.Dq.joinFanout(docs, docs,
      col("doc_id") % 5, col("doc_id") % 5))
    val pairs = docs.select(col("doc_id").as("k"), col("text").as("a"),
      reverse(col("text")).as("b"))
    assertNoUnboundedGlobalWindow(graft.text.TextStats.bleuPairs(pairs,
      col("k"), col("a"), col("b")))
    assertNoUnboundedGlobalWindow(graft.text.TextStats.rougePairs(pairs,
      col("k"), col("a"), col("b")))

    // bitemporal: the ONLY window is keyed by (entity, valid_from) —
    // one fact's correction chain
    val bt = graft.load.Bitemporal.fromAssertions(
      docs.select((col("doc_id") % 5).as("e"),
        lit("2024-01-01 00:00:00").as("vf"),
        lit("2024-01-02 00:00:00").as("tx"), col("doc_id").as("tie"),
        col("en").as("value")),
      col("e"), col("vf"), col("tx"), col("tie"), Seq("value"))
    assertNoUnboundedGlobalWindow(bt)

    // SRP LSH: band joins are equi-joins on signatures — no cartesian
    // product over DATA relations (the only nested-loop joins are
    // broadcast 1-row census/stat attachments)
    val emb = (1L to 30L).map(i =>
      (i, Array.fill(8)((i % 5).toDouble + 1.0))).toDF("vec_id", "v")
    val signs = {
      val r = new scala.util.Random(3L)
      Array.fill(8, 8)(if (r.nextBoolean()) 1.0 else -1.0)
    }
    val srp = graft.ann.Similarity.srpNearDuplicates(emb, "vec_id", "v",
      0.99, signs, bitsPerBand = 4)
    assertNoUnboundedGlobalWindow(srp)
    val cartesians = srp.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty &&
            j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty => j
    }
    // condition-free joins must all be the broadcast-hinted 1-row
    // attachments; a data-vs-data cross join would appear here
    cartesians.foreach { j =>
      val oneRowSide = Seq(j.left, j.right).exists(_.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty => a
      }.nonEmpty)
      withClue(s"condition-free join without a 1-row aggregate side:\n$j") {
        oneRowSide shouldBe true
      }
    }
    graft.util.Caches.releaseAll(spark)
  }

  it should "keep the round-11 session-3 operators free of unbounded windows" in {
    import spark.implicits._
    val docs = (1L to 60L)
      .map(i => (s"g${i % 3}", (i % 7).toDouble, (i % 5).toDouble))
      .toDF("g", "x", "y")

    // spearman/mannWhitney/theilSen/compaction: group-partitioned or
    // two-phase-Ranks windows only — no partition-less window at any
    // input size
    assertNoUnboundedGlobalWindow(graft.ml.RankTests.spearman(
      docs, col("g"), col("x"), col("y")))
    assertNoUnboundedGlobalWindow(graft.ml.RankTests.mannWhitney(
      docs.select((col("x") > 3).cast("int").as("v"), col("y")),
      col("v"), col("y")))
    assertNoUnboundedGlobalWindow(graft.ml.Stats.theilSen(
      docs, col("g"), col("x"), col("y")))
    assertNoUnboundedGlobalWindow(graft.relational.Compaction
      .compactionPlan(docs.select(monotonically_increasing_id()
        .as("id"), (col("x") * 10 + 1).cast("long").as("b")),
        "id", col("b"), 16L))
    assertNoUnboundedGlobalWindow(graft.ml.Matching.caliperMatch(
      docs.select((col("x") * 60).cast("long").as("id"),
        (col("x") / 7.0).as("score"), col("y")),
      docs.select((col("x") * 60 + 1000).cast("long").as("id"),
        (col("y") / 5.0).as("score"), col("x").as("y")), 0.05))
    assertNoUnboundedGlobalWindow(graft.dq.Stats.msprt(
      docs.select(col("g"), (col("x") > 3).cast("int").as("v"),
        (col("y") > 2).cast("int").as("c")),
      Seq("g"), col("v"), col("c")))

    // bounded global windows, each over a GROUP/STRATUM/DURATION-sized
    // relation (value-cardinality bound, not data bound): counts pinned
    globalWindows(graft.ml.RankTests.kruskalWallis(
      docs, col("g"), col("x"))) shouldBe 1 // k-row group terms
    // (2 nodes: the SSB cumulation consumes the grand-mean join that
    // the SSW cumulation also feeds, so the same k-row spec plans twice)
    globalWindows(graft.dq.Stats.oneWayAnova(
      docs, col("g"), col("y"))) shouldBe 2 // k-row SSB/SSW cumulation
    globalWindows(graft.dq.Stats.cmhTest(
      docs.select(col("g"), (col("x") > 3).cast("int").as("v"),
        (col("y") > 2).cast("int").as("c")),
      Seq("g"), col("v"), col("c"))) shouldBe 4 // strata-row cumulation
    // (4 nodes: the E/V/AD/BC running sums interleave with the
    // row_number pick, defeating CollapseWindow — all over the same
    // strata-bounded relation)
    val ev = (1L to 40L).map(i => (i % 5, new java.sql.Timestamp(
      86400000L * (19700 + i % 13)))).toDF("user_id", "ts")
    // distinct-duration windows, the kmFromSpans boundedness
    // (3 nodes: t-desc risk window, then the two t-asc hazard
    // cumulations — the variance consumes n_risk from the first)
    globalWindows(graft.events.Resample.nelsonAalen(ev, "user_id",
      col("ts"), "2024-02-01")) shouldBe 3
    globalWindows(graft.events.Resample.activationLogRank(
      ev.select(col("user_id"), col("ts"),
        when(col("user_id") % 2 === 0, "purchase").otherwise("view")
          .as("event_type")),
      col("user_id") % 2, "purchase", "2024-02-01")) shouldBe 1
    graft.util.Caches.releaseAll(spark)
  }

  it should "keep the labeling and causal operators free of unbounded windows" in {
    import spark.implicits._
    val votes = (1L to 60L).flatMap(i => Seq(
      (i, "A", s"l${i % 3}"), (i, "B", s"l${(i + 1) % 3}"),
      (i, "C", s"l${i % 3}"))).toDF("item", "rater", "label")

    // kappas and the causal estimators are pure aggregates + bounded
    // joins; majority vote / uncertainty windows partition by item
    // (label-alphabet-bounded partitions) — no partition-less window
    // at any input size
    assertNoUnboundedGlobalWindow(graft.ml.Labeling.cohenKappa(
      votes, col("item"), col("rater"), col("label"), "A", "B"))
    assertNoUnboundedGlobalWindow(graft.ml.Labeling.fleissKappa(
      votes, col("item"), col("rater"), col("label")))
    assertNoUnboundedGlobalWindow(graft.ml.Labeling.majorityVote(
      votes, col("item"), col("rater"), col("label")))
    val scores = (1L to 60L).flatMap(i => Seq(
      (i, "a", 0.25 + (i % 3) * 0.25), (i, "b", 0.75 - (i % 3) * 0.25)))
      .toDF("item", "cl", "p")
    assertNoUnboundedGlobalWindow(graft.ml.Labeling.uncertaintyScores(
      scores, col("item"), col("p")))
    val causal = (1L to 60L).map(i =>
      (i.toDouble, (i % 2).toInt, 0.2 + (i % 5) * 0.1))
      .toDF("y", "t", "e")
    assertNoUnboundedGlobalWindow(graft.ml.Matching.ipwAte(
      causal, col("y"), col("t"), col("e")))
    assertNoUnboundedGlobalWindow(graft.ml.Matching.aipwAte(
      causal.withColumn("m1", col("y") + 1).withColumn("m0", col("y")),
      col("y"), col("t"), col("e"), col("m1"), col("m0")))
    // uncertaintySample: ONE pinned global window — the pick_rank
    // row_number — planned AFTER the limit, so its input is k rows by
    // construction
    globalWindows(graft.ml.Labeling.uncertaintySample(
      scores, col("item"), col("p"), k = 5)) shouldBe 1
    graft.util.Caches.releaseAll(spark)
  }

  it should "plan the fairness/conformal/alpha/weighted-dedup tier with no partition-less window" in {
    import spark.implicits._
    val scored = (1L to 60L)
      .map(i => (s"g${i % 4}", (i % 13).toDouble, (i % 3 == 0)))
      .toDF("g", "s", "y")
    // groupedAuc: the cumulation window PARTITIONS BY GROUP — parallel
    // across groups, never a single-task global sort
    assertNoUnboundedGlobalWindow(graft.ml.Eval.groupedAuc(
      scored, "g", col("s"), col("y").cast("int")))
    // fairness: one cell aggregate + broadcast totals, zero windows
    assertNoUnboundedGlobalWindow(graft.ml.Eval.fairnessReport(
      scored, "g", (col("s") > 6).cast("int"), col("y").cast("int")))
    // conformal: distinct-score counts ride the two-phase Ranks prefix
    // sum (per-partition windows only) + a broadcast alpha-grid probe
    assertNoUnboundedGlobalWindow(graft.ml.Eval.conformalThresholds(
      spark, scored, col("s"), Seq(0.1, 0.2)))
    // grouped conformal: the cumulation window partitions by group
    assertNoUnboundedGlobalWindow(
      graft.ml.Eval.groupedConformalThresholds(
        scored, "g", col("s"), Seq(0.1, 0.2)))
    val votes = (1L to 60L).flatMap(i => Seq(
      (i, "A", s"l${i % 3}"), (i, "B", s"l${(i + 1) % 3}")))
      .toDF("item", "rater", "label")
    assertNoUnboundedGlobalWindow(graft.ml.Labeling.krippendorffAlpha(
      votes, col("item"), col("rater"), col("label")))
    val docs = (1L to 40L)
      .map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 7} end$i"))
      .toDF("doc_id", "text")
    assertNoUnboundedGlobalWindow(
      graft.text.Dedup.weightedMinhashNearDuplicates(
        docs, "doc_id", "text", minMatch = 1))
    assertNoUnboundedGlobalWindow(graft.text.TextStats
      .luhnCardCandidates(docs, "doc_id", "text"))
    graft.util.Caches.releaseAll(spark)
  }

  it should "decorrelate the TPC-H correlated-subquery family to joins/aggregates — no per-outer-row rescan" in {
    // q_a18 (Q2 scalar-min), q_a19 (Q17 avg), q_a20 (Q21 exists/not-
    // exists), q_a21 (Q22 scalar + anti). The guards pin the plan
    // family each one must decorrelate to; any shape that re-scans the
    // inner relation per outer row would surface as a cartesian or a
    // nested-loop join over non-trivial sides.
    val dir = "/root/testdata/sf0.001"
    def planOfQ(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // AQE: materialize so the final plan is decided
      df.queryExecution.executedPlan.toString
    }

    // Q2: ONE lineitem scan (the window-min fuses the per-part
    // aggregate with the join-back; the naive diamond scans twice),
    // window partitioned by partkey only, no cartesian anywhere.
    val a18 = planOfQ("q_a18_min_cost_supplier")
    val a18Final = a18.split("== Initial Plan ==").head
    a18Final.split("lineitem.parquet").length - 1 shouldBe 1
    a18 should include("Window")
    a18 should not include "CartesianProduct"
    a18 should not include "BroadcastNestedLoopJoin"

    // Q17: the correlated avg becomes ONE per-part aggregate joined
    // back on the partkey (equi hash/sort-merge join, never a loop).
    val a19 = planOfQ("q_a19_small_quantity_revenue")
    a19 should not include "CartesianProduct"
    a19 should not include "BroadcastNestedLoopJoin"
    a19 should include("HashAggregate")

    // Q21: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both equi-keyed
    // on the order key.
    val a20 = planOfQ("q_a20_waiting_orders")
    a20 should include("LeftSemi")
    a20 should include("LeftAnti")
    a20 should not include "CartesianProduct"
    a20 should not include "BroadcastNestedLoopJoin"

    // Q22: the uncorrelated scalar broadcasts as a 1-row build side
    // (the ONE legitimate nested-loop: its inner side is a single
    // aggregate row), plus a LeftAnti for NOT EXISTS.
    val a21 = planOfQ("q_a21_global_sales_opportunity")
    a21 should include("LeftAnti")
    a21 should not include "CartesianProduct"
    val a21Final = a21.split("== Initial Plan ==").head
    (a21Final.split("BroadcastNestedLoopJoin").length - 1) should be <= 1

    // Q20: nested IN + correlated HAVING scalar -> two aggregates, an
    // equi join-back, and a LeftSemi into the supplier dim.
    val a22 = planOfQ("q_a22_dominant_share_supplier")
    a22 should include("LeftSemi")
    a22 should include("HashAggregate")
    a22 should not include "CartesianProduct"
    a22 should not include "BroadcastNestedLoopJoin"
  }

  it should "keep the remaining TPC-H suite (Q4/Q6/Q9-16/Q18) on decorrelated single-pass plans" in {
    val dir = "/root/testdata/sf0.001"
    def planOfQ(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    def finalPlan(p: String): String = p.split("== Initial Plan ==").head

    // Q4: EXISTS -> ONE LeftSemi riding the orderkey equi join; the
    // lag conjunct stays a join residual, never a per-row rescan.
    val a23 = planOfQ("q_a23_priority_check")
    a23 should include("LeftSemi")
    a23 should not include "CartesianProduct"
    a23 should not include "BroadcastNestedLoopJoin"
    finalPlan(a23).split("lineitem.parquet").length - 1 shouldBe 1

    // Q6: the pure scan-aggregate — zero joins, zero windows, and the
    // date/discount/quantity predicates pushed to the parquet scan.
    val a24 = planOfQ("q_a24_forecast_revenue")
    a24 should not include "Join"
    a24 should not include "Window"
    a24.toLowerCase should include("pushedfilters: [isnotnull")

    // Q11/Q15: the scalar-on-aggregate is the ONE legitimate
    // 1-row-inner nested loop (like Q22); everything else equi.
    for (name <- Seq("q_a27_important_stock", "q_a31_top_supplier")) {
      val p = planOfQ(name)
      p should not include "CartesianProduct"
      (finalPlan(p).split("BroadcastNestedLoopJoin").length - 1) should be <= 1
    }

    // Q13: the zero-preserving LEFT outer join must survive (an inner
    // join here silently drops the zero-order customers), feeding the
    // two-level aggregate.
    val a29 = planOfQ("q_a29_customer_distribution")
    a29 should include("LeftOuter")
    a29 should not include "CartesianProduct"

    // Q18: the IN-on-grouped-HAVING decorrelates to ONE lineitem
    // aggregate reused for both the cut and the published sum — a
    // single lineitem scan (the textbook form pays two).
    val a33 = planOfQ("q_a33_large_orders")
    finalPlan(a33).split("lineitem.parquet").length - 1 shouldBe 1
    a33 should not include "CartesianProduct"
    a33 should not include "BroadcastNestedLoopJoin"

    // Q9/Q10/Q12/Q14/Q16: star joins with every dim broadcast or
    // equi-keyed; no cartesian, no nested loop anywhere.
    for (name <- Seq("q_a25_product_profit", "q_a26_returned_items",
        "q_a28_shipmode_priority", "q_a30_promo_effect",
        "q_a32_supplier_relationship")) {
      val p = planOfQ(name)
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoopJoin"
    }
  }

  /** Spark jobs started while `body` runs. A marker job afterwards
    * proves the asynchronous listener bus has delivered every earlier
    * job start. */
  private def jobsDuring(body: => Unit): Int = {
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.marker")))
          .getOrElse("job"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.marker", "marker")
      try spark.range(1).count()
      finally sc.setLocalProperty("graft.marker", null)
      Iterator.continually(Option(starts.poll(60,
          java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("the marker job never started")))
        .takeWhile(_ != "marker").size
    } finally sc.removeSparkListener(listener)
  }

  it should "open every tombstone-ledger store schema-pinned and anti-join its ledger by broadcast" in {
    import graft.streaming.StreamingEvents
    val tmp = java.nio.file.Files.createTempDirectory("graft_ledgers").toString
    val cents = vecs.filter(col("vec_id") % 10 === 0)
    val store = s"$tmp/knn"
    for (m <- 0 to 1)
      Similarity.knnGraphIncrement(vecs.filter(col("vec_id") % 2 === m),
        "vec_id", "embedding", cents, 8, 2, store, m.toLong)
    Similarity.knnGraphDelete(Seq(3L).toDF("vec_id"), "vec_id", store, 2L, 2)
    val streamed = s"$tmp/ivf_streamed"
    StreamingEvents.ivfIndexBatch(vecs, 0L, "vec_id", "embedding", cents,
      8, streamed)
    val flat = s"$tmp/ivf_flat"
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(vecs, "vec_id",
      "embedding", cents, 8), flat)
    for (d <- Seq(streamed, flat))
      Similarity.deleteFromIvfIndex(spark, d, Seq(3L).toDF("vec_id"),
        "vec_id", 0L)
    val idx = s"$tmp/dedup"
    Dedup.buildDedupIndex(Seq((1L, "a b c d"), (2L, "e f g h"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$idx/batch_id=0")
    Dedup.deleteFromDedupIndex(spark, idx, Seq(1L).toDF("doc_id"),
      "doc_id", 0L)
    // every tombstone-aware read plans its ledger as a broadcast anti-join
    def antiJoinsByBroadcast(df: org.apache.spark.sql.DataFrame) =
      planOf(df).linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
        l.contains("LeftAnti")) shouldBe true
    antiJoinsByBroadcast(Dedup.readDedupIndex(spark, idx))
    antiJoinsByBroadcast(Similarity.readIvfIndex(spark, streamed))
    antiJoinsByBroadcast(Similarity.readIvfIndex(spark, flat))
    antiJoinsByBroadcast(StreamingEvents.knnGraphView(spark, store))
    antiJoinsByBroadcast(Similarity.knnStoreCorpus(spark, store))
    // pinned schemas: opening a k-NN store, an IVF index or a ledger
    // infers nothing, so it starts no job (the dedup index's own data
    // schema is inferred: its doc_id type is the caller's)
    jobsDuring {
      Similarity.readKnnIndex(spark, store)
      StreamingEvents.knnGraphView(spark, store)
      Similarity.knnStoreCorpus(spark, store)
      Similarity.readIvfIndex(spark, streamed)
      Similarity.readIvfIndex(spark, flat)
      Seq(Dedup.dedupLedger(spark, idx), Similarity.ivfLedger(spark, flat),
        graft.store.Ledger.within(spark, store, "vec_id"))
        .foreach(_.read().isDefined shouldBe true)
    } shouldBe 0
    graft.util.Caches.releaseAll(spark)
  }

  /** Physical plans of the queries `body` runs, in order. A marker query
    * afterwards proves the listener bus has delivered every earlier one. */
  private def plansDuring(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.put(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = plans.put(qe.executedPlan.toString)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("graft_plan_marker").collect()
      Iterator.continually(Option(plans.poll(60,
          java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("the marker query never reported")))
        .takeWhile(!_.contains("graft_plan_marker")).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  private lazy val knnCents = vecs.filter(col("vec_id") % 10 === 0)
  // a third batch of new ids for the maintenance calls under test
  private lazy val knnMore = vecs.select((col("vec_id") + 100L).as("vec_id"),
    col("embedding")).filter(col("vec_id") % 3 === 0)

  /** A two-batch k-NN store over `vecs`. */
  private def knnStore(name: String): String = {
    val store = java.nio.file.Files.createTempDirectory(name).toString + "/knn"
    for (m <- 0 to 1)
      Similarity.knnGraphIncrement(vecs.filter(col("vec_id") % 2 === m),
        "vec_id", "embedding", knnCents, 8, 2, store, m.toLong)
    store
  }

  it should "slice the k-NN maintenance recompute by broadcast left-semi join, with no list of cell ids" in {
    val store = knnStore("graft_knn_slice")
    val cellList = "centroid_id#\\d+L? (IN \\(|INSET )".r
    def check(plans: Seq[String]): Unit = {
      plans.exists(_.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi") &&
          l.contains("__shard") && l.contains("centroid_id"))) shouldBe true
      plans.foreach(p => cellList.findFirstIn(p) shouldBe None)
      // shard pruning reaches the index scan as a partition filter
      plans.exists(_.linesIterator.exists(l => l.contains("FileScan") &&
        l.contains("index") && l.matches(".*PartitionFilters: \\[.*__shard.*"))) shouldBe true
    }
    check(plansDuring(Similarity.knnGraphIncrement(knnMore, "vec_id",
      "embedding", knnCents, 8, 2, store, 2L)))
    check(plansDuring(Similarity.knnGraphDelete(Seq(3L, 104L)
      .toDF("vec_id"), "vec_id", store, 3L, 2)))
    graft.util.Caches.releaseAll(spark)
  }

  it should "keep each k-NN maintenance call within its Spark job budget" in {
    // the budgets are the counts measured when the cell-local kernel and
    // the one-collect discovery landed (CHANGES.md; 26, 31 and 14 jobs
    // before them); a rise means a new job per call crept back in
    val store = knnStore("graft_knn_budget")
    val inc = jobsDuring(Similarity.knnGraphIncrement(knnMore, "vec_id",
      "embedding", knnCents, 8, 2, store, 2L))
    val del = jobsDuring(Similarity.knnGraphDelete(Seq(3L, 104L)
      .toDF("vec_id"), "vec_id", store, 3L, 2))
    val refresh = jobsDuring(Similarity.knnGraphRefresh(spark, store,
      vecs.filter(col("vec_id") % 10 === 5), "vec_id", "embedding", 8, 2))
    info(s"jobs: increment $inc, delete $del, refresh $refresh")
    inc should be <= 11
    del should be <= 13
    refresh should be <= 11
    graft.util.Caches.releaseAll(spark)
  }
}
