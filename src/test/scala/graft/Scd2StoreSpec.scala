package graft

import graft.load.{MergeConfig, Scd2Merge, Scd2Store}
import graft.meta.Meta
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** On-disk lifecycle of the SCD2 store: history/current/change tables,
  * counts, retention (reference contract: diamond/load/usage.md
  * "Files created"). */
class Scd2StoreSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(pid: String, delta: Boolean = true) = MergeConfig(
    idFields = Seq("cid"), idType = "cust", entityType = "cust",
    source = "unit", processType = "load", processId = pid, userId = "t",
    processTime = "2024-03-01 00:00:00", isDelta = delta)

  it should "persist history/current and survive successive loads" in {
    val dir = Files.createTempDirectory("scd2store").toString
    val store = new Scd2Store(spark, dir)
    val b1 = Seq((1, "a"), (2, "b")).toDF("cid", "v")
    val c1 = store.runLoad("t1", b1, cfg("p1"))
    c1("inserted") shouldBe 2
    store.readCurrent("t1").count() shouldBe 2

    val b2 = Seq((1, "a2"), (3, "c")).toDF("cid", "v")
    val c2 = store.runLoad("t1", b2, cfg("p2").copy(processTime = "2024-03-02 00:00:00"))
    c2("inserted") shouldBe 1
    c2("changed") shouldBe 1
    c2("removed") shouldBe 0
    val cur = store.readCurrent("t1")
    cur.count() shouldBe 3
    cur.filter(col("cid") === 1).select("v").as[String].head() shouldBe "a2"
    // full history retained
    spark.read.parquet(s"$dir/t1/history.parquet").count() shouldBe 4
    // no leftover staging/backup dirs after a successful publish
    hiddenDirs(s"$dir/t1") shouldBe empty
  }

  it should "write a first load's current as one file, not one per shuffle partition" in {
    val dir = Files.createTempDirectory("scd2first")
    val was = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try new Scd2Store(spark, dir.toString).runLoad("t1",
      (1 to 50).map(i => (i, s"v$i")).toDF("cid", "v"), cfg("p1"))
    finally spark.conf.set("spark.sql.shuffle.partitions", was)
    partFiles(dir.resolve("t1/current.parquet")) should have size 1
    spark.read.parquet(s"$dir/t1/current.parquet").count() shouldBe 50
  }

  private def hiddenDirs(table: String): Seq[String] =
    new java.io.File(table).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(".")).map(_.getName)

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally walk.close()
  }

  private def partFiles(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val l = Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSet
      finally l.close()
    }

  /** The store invariants a crash must never break: current is the
    * active snapshot of history, and no version was appended twice. */
  private def assertConsistent(store: Scd2Store, dir: String, table: String): Unit = {
    val hist = spark.read.parquet(s"$dir/$table/history.parquet")
    store.readCurrent(table).collect().map(_.toString).sorted shouldBe
      Scd2Merge.currentActive(hist).collect().map(_.toString).sorted
    hist.groupBy(Meta.EntityId, Meta.Version).count()
      .filter(col("count") > 1).count() shouldBe 0
    hiddenDirs(s"$dir/$table") shouldBe empty
  }

  it should "finish or undo a load publish cut at any step, and replay it as a no-op" in {
    val del = Some(("del", Seq("Y")))
    def load(store: Scd2Store, pid: String, day: Int,
        rows: Seq[(Int, String, String)]): Map[String, Long] =
      store.runLoad("t", rows.toDF("cid", "v", "del"), cfg(pid).copy(
        processTime = f"2024-04-$day%02d 00:00:00", deleteIndicatorField = del))
    val s0 = Files.createTempDirectory("scd2crash_s0")
    load(new Scd2Store(spark, s0.toString), "p1", 1,
      Seq((1, "a", "N"), (2, "b", "N"), (3, "c", "N"), (4, "d", "N")))
    load(new Scd2Store(spark, s0.toString), "p2", 2,
      Seq((4, "d", "Y"), (5, "e", "N")))
    // the load under test: an update, an insert, a delete flag and a
    // re-insert of the entity deleted by p2
    val batch = Seq((1, "a2", "N"), (6, "f", "N"), (2, "b", "Y"), (4, "d2", "N"))
    // reference: the same load run uninterrupted on a copy of the store
    val s1 = Files.createTempDirectory("scd2crash_s1")
    copyTree(s0.resolve("t"), s1.resolve("t"))
    val want = load(new Scd2Store(spark, s1.toString), "p3", 3, batch)
    want shouldBe Map("inserted" -> 2L, "changed" -> 1L, "removed" -> 1L)
    val changeTables = Seq("new", "changed", "removed")
    def snapshotOf(d: Path): Seq[Seq[String]] =
      ("history" +: changeTables).map(n => rows(s"$d/t/$n.parquet")) :+
        rows(s"$d/t/current.parquet")
    val reference = snapshotOf(s1)
    val day = "process_date=2024-04-03"
    // what the publish staged, recovered from the reference: its history
    // delta and its change-table files are the part files p3 added
    val deltaFiles = partFiles(s1.resolve("t/history.parquet")) --
      partFiles(s0.resolve("t/history.parquet"))
    deltaFiles should not be empty
    def stage(t: Path, committed: Boolean, deltaMoved: Int,
        changesMoved: Boolean): Unit = {
      Files.createDirectories(t.resolve(".load_delta"))
      deltaFiles.toSeq.sorted.zipWithIndex.foreach { case (f, i) =>
        copyTree(s1.resolve(s"t/history.parquet/$f"),
          if (i < deltaMoved) t.resolve(s"history.parquet/$f")
          else t.resolve(s".load_delta/$f"))
      }
      for (n <- changeTables) {
        val part = s1.resolve(s"t/$n.parquet/$day")
        val into =
          if (changesMoved) t.resolve(s"$n.parquet/$day")
          else t.resolve(s".load_changes/__change_table=$n/$day")
        copyTree(part, into)
      }
      if (committed) {
        Files.move(t.resolve("current.parquet"), t.resolve(".current_backup"))
        copyTree(s1.resolve("t/current.parquet"), t.resolve("current.parquet"))
      } else copyTree(s1.resolve("t/current.parquet"), t.resolve(".load_current"))
    }
    // every state the publish can be cut in, built by hand from the
    // pre-load store; `true` marks the states past the commit point
    val states: Seq[(String, Boolean, Path => Unit)] = Seq(
      ("staged, not committed", false,
        t => stage(t, committed = false, 0, changesMoved = false)),
      ("cut inside the current swap", false, { t =>
        stage(t, committed = false, 0, changesMoved = false)
        Files.move(t.resolve("current.parquet"), t.resolve(".current_backup"))
      }),
      ("committed, nothing moved", true,
        t => stage(t, committed = true, 0, changesMoved = false)),
      ("committed, delta partly moved", true,
        t => stage(t, committed = true, deltaFiles.size - 1, changesMoved = false)),
      ("committed, change tables pending", true,
        t => stage(t, committed = true, deltaFiles.size, changesMoved = false)),
      ("committed, only the backup left", true, { t =>
        stage(t, committed = true, deltaFiles.size, changesMoved = true)
        Files.delete(t.resolve(".load_delta"))
      }))
    for ((state, committed, build) <- states) withClue(s"$state: ") {
      val d = Files.createTempDirectory("scd2crash")
      copyTree(s0.resolve("t"), d.resolve("t"))
      build(d.resolve("t"))
      hiddenDirs(s"$d/t") should not be empty
      val store = new Scd2Store(spark, d.toString)
      // the replayed batch: recovery finishes a committed publish (the
      // replay then changes nothing) or undoes an uncommitted one (the
      // replay then is the load itself)
      load(store, "p3", 3, batch) shouldBe
        (if (committed) want.map { case (k, _) => k -> 0L } else want)
      snapshotOf(d) shouldBe reference
      assertConsistent(store, d.toString, "t")
      // a further replay is a no-op
      load(store, "p3", 3, batch).values.sum shouldBe 0
      snapshotOf(d) shouldBe reference
    }
  }

  it should "recover the states a cut full-history rewrite left behind" in {
    // the publish this store used before loads became append-only:
    // history rewritten to a staging dir, moved aside to
    // `.history_backup_<processId>`, the staging renamed in, then current
    // rewritten from history and the backup dropped
    def twoLoads(): (Path, Scd2Store) = {
      val dir = Files.createTempDirectory("scd2legacy")
      val store = new Scd2Store(spark, dir.toString)
      store.runLoad("t", Seq((1, "a"), (2, "b")).toDF("cid", "v"), cfg("p1"))
      copyTree(dir.resolve("t"), dir.resolve("after_p1"))
      store.runLoad("t", Seq((1, "a2")).toDF("cid", "v"),
        cfg("p2").copy(processTime = "2024-03-02 00:00:00"))
      (dir, store)
    }
    // the load after the crash, by another process: re-sends entity 1's
    // p2 value and adds entity 3
    def load3(store: Scd2Store) = store.runLoad("t",
      Seq((1, "a2"), (3, "c")).toDF("cid", "v"),
      cfg("p3").copy(processTime = "2024-03-03 00:00:00"))
    val expected = Map("inserted" -> 1L, "changed" -> 0L, "removed" -> 0L)

    // cut between the two renames: the history sits at the backup name,
    // nothing live — the load must merge onto the restored history, not
    // take the first-load path and orphan it
    val (d1, s1) = twoLoads()
    val before = rows(s"$d1/t/history.parquet")
    Files.move(d1.resolve("t/history.parquet"), d1.resolve("t/.history_backup_p2"))
    load3(s1) shouldBe expected
    rows(s"$d1/t/history.parquet").filterNot(before.contains) should have size 1
    assertConsistent(s1, d1.toString, "t")

    // cut after the history swap, before current was rewritten: the
    // backup holds p1's history beside p2's, and current is p1's — the
    // load must not merge against that stale current
    val (d2, s2) = twoLoads()
    copyTree(d2.resolve("after_p1/history.parquet"), d2.resolve("t/.history_backup_p2"))
    val stale = d2.resolve("t/current.parquet")
    val walk = Files.walk(stale)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
    finally walk.close()
    copyTree(d2.resolve("after_p1/current.parquet"), stale)
    load3(s2) shouldBe expected
    rows(s"$d2/t/history.parquet") should have size 4
    assertConsistent(s2, d2.toString, "t")
  }

  it should "compact history, current and change tables without changing read-backs" in {
    val dir = Files.createTempDirectory("scd2compact").toString
    val store = new Scd2Store(spark, dir)
    def load(pid: String, day: Int, rows: Seq[(Int, String)]): Unit =
      store.runLoad("t1", rows.toDF("cid", "v"),
        cfg(pid).copy(processTime = f"2024-03-$day%02d 00:00:00"))
    // five loads, three of them on one process_date so that partition
    // accumulates per-load part files; each load appends its delta to
    // history as new part files
    load("p1", 1, Seq(1 -> "a", 2 -> "b"))
    load("p2", 1, Seq(1 -> "a2", 3 -> "c"))
    load("p3", 1, Seq(4 -> "d"))
    load("p4", 2, Seq(1 -> "a3", 5 -> "e"))
    load("p5", 3, Seq(6 -> "f"))
    def files(sub: String): Int = {
      val f = new java.io.File(s"$dir/t1/$sub")
      if (!f.exists()) 0
      else f.listFiles().count(_.getName.startsWith("part-"))
    }
    def slurp(sub: String): Seq[String] =
      spark.read.parquet(s"$dir/t1/$sub")
        .collect().map(_.toString).sorted.toSeq
    val histBefore = slurp("history.parquet")
    val curBefore = slurp("current.parquet")
    val newBefore = slurp("new.parquet")
    files("history.parquet") should be > 2 // the small-file problem is live
    files("new.parquet/process_date=2024-03-01") should be > 1
    store.compactHistory("t1", targetFiles = 2)
    store.compactChangeTables("t1", targetFiles = 1)
    files("history.parquet") should be <= 2
    files("current.parquet") should be <= 2
    files("new.parquet/process_date=2024-03-01") shouldBe 1
    slurp("history.parquet") shouldBe histBefore
    slurp("current.parquet") shouldBe curBefore
    slurp("new.parquet") shouldBe newBefore
    // no leftover staging/backup dirs anywhere after the swaps
    def hidden(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        (if (c.getName.startsWith(".compact_")) Seq(c.getPath) else Nil) ++
          (if (c.isDirectory) hidden(c) else Nil))
    hidden(new java.io.File(s"$dir/t1")) shouldBe empty
    // compaction is invisible to the merge loop: a sixth load still works
    load("p6", 4, Seq(1 -> "a4"))
    store.readCurrent("t1").filter(col("cid") === 1)
      .select("v").as[String].head() shouldBe "a4"
    // crash-between-renames recovery: the live dir is gone, the backup
    // holds the data at its deterministic name — the next compaction
    // call restores it before doing anything else
    val histAfter = slurp("history.parquet")
    new java.io.File(s"$dir/t1/history.parquet").renameTo(
      new java.io.File(s"$dir/t1/.compact_backup_history.parquet")) shouldBe true
    store.compactHistory("t1", targetFiles = 2)
    slurp("history.parquet") shouldBe histAfter
  }

  it should "run merges against catalog tables (C6 variant)" in {
    val store = new graft.load.CatalogStore(spark)
    store.tableExists("cat_t1_history") shouldBe false
    val c1 = store.runLoad("cat_t1", Seq((1, "a"), (2, "b")).toDF("cid", "v"),
      cfg("p1"))
    c1("inserted") shouldBe 2
    store.readCurrent("cat_t1").count() shouldBe 2
    val c2 = store.runLoad("cat_t1", Seq((1, "a2"), (2, "b")).toDF("cid", "v"),
      cfg("p2").copy(processTime = "2024-03-02 00:00:00"))
    c2("changed") shouldBe 1
    spark.table("cat_t1_history").count() shouldBe 3
    store.readCurrent("cat_t1")
      .filter(col("cid") === 1).select("v").as[String].head() shouldBe "a2"
    // as-of between the two loads sees the first state
    store.readSnapshotAsOf("cat_t1", "2024-03-01 12:00:00")
      .filter(col("cid") === 1).select("v").as[String].head() shouldBe "a"
    store.readCurrentOrSnapshot("cat_t1").count() shouldBe 2
  }

  it should "orchestrate loadAll with proc and meta sinks" in {
    val dir = Files.createTempDirectory("scd2all").toString
    val store = new Scd2Store(spark, dir)
    val custs = Seq((1, "gold"), (1, "gold"), (2, "silver")).toDF("cid", "tier")
    val pairs = Seq((1, 10), (2, 20)).toDF("cid", "oid")
    val r = graft.load.Loaders.loadAll(store, Seq(
      graft.load.Loaders.TableLoad("sat_cust", custs, cfg("p1")),
      graft.load.Loaders.TableLoad("hub_cust", custs, cfg("p1"), kind = "hub"),
      graft.load.Loaders.TableLoad("lnk_cust_order", pairs,
        cfg("p1").copy(idFields = Seq("cid", "oid")), kind = "link",
        srcFields = Seq("cid"), srcIdType = "cust",
        dstFields = Seq("oid"), dstIdType = "order")))
    r("hub_cust")("inserted") shouldBe 2
    r("sat_cust")("inserted") shouldBe 2
    r("sat_cust")("read") shouldBe 3
    r("sat_cust")("duplicates") shouldBe 1
    r("lnk_cust_order")("inserted") shouldBe 2
    // proc + meta sinks exist with the audited line
    val proc = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/sat_cust/proc.csv")), "UTF-8")
    proc should include("p1,load,sat_cust,3,1,2,0,0")
    new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/hub_cust/meta.json")), "UTF-8") should
      include(""""id_type": "cust"""")
    // hub history carries only keys + metadata
    spark.read.parquet(s"$dir/hub_cust/history.parquet")
      .columns should not contain "tier"
  }

  it should "drive a multi-table loadAll from a HOCON config fixture" in {
    val dir = Files.createTempDirectory("scd2conf").toString
    Seq((1, "gold", "a@x.com"), (2, "silver", "b@x.com"))
      .toDF("cust_id", "tier", "email")
      .write.mode("overwrite").parquet(s"$dir/raw/customers.parquet")
    Seq((1, "a@x.com"), (2, "b@x.com")).toDF("cust_id", "email")
      .write.mode("overwrite").parquet(s"$dir/raw/email_map.parquet")
    // the reference data.conf shape: substitutions, unquoted strings with
    // spaces, dotted path keys, new-names, a constant mapping confidence
    val confText =
      s"""data {
         |  base-uri = "$dir"   // comment after a value
         |  raw {
         |    path = raw
         |    tables {
         |      demographics.path = $${data.base-uri}/$${data.raw.path}/customers.parquet
         |      email-mappings.path = $${data.base-uri}/$${data.raw.path}/email_map.parquet
         |    }
         |  }
         |  acquisition {
         |    hubs {
         |      customer {
         |        entity-type = customer
         |        delta = false
         |        id-fields = [cust_id]
         |        id-type = id1
         |        source = $${data.raw.tables.demographics.path}
         |        new-names { cust_id: customer_id }
         |      }
         |    }
         |    satellites {
         |      customer-demographics {
         |        table-name = customer_demo
         |        delta = false
         |        id-fields = [cust_id]
         |        id-type = id1
         |        source = $${data.raw.tables.demographics.path}
         |        write-change-tables = false
         |      }
         |    }
         |    mappings {
         |      email {
         |        entity-type = customer
         |        delta = false
         |        src-id-fields = [cust_id]
         |        src-id-type = Customer Number
         |        dst-id-fields = [email]
         |        dst-id-type = email
         |        confidence = 1.0
         |        source = $${data.raw.tables.email-mappings.path}
         |      }
         |    }
         |  }
         |}""".stripMargin
    val store = new Scd2Store(spark, s"$dir/store")
    val r = graft.load.LoadConfig.loadAll(store, confText,
      processId = "pc1", processTime = "2024-03-01 00:00:00")
    r.keySet shouldBe Set("customer", "customer_demo", "email")
    r("customer")("inserted") shouldBe 2
    r("customer_demo")("inserted") shouldBe 2
    r("email")("inserted") shouldBe 2
    // the hub renamed cust_id -> customer_id and kept only the key
    val hubCols = spark.read.parquet(s"$dir/store/customer/history.parquet").columns
    hubCols should contain("customer_id")
    hubCols should not contain "tier"
    // the mapping carries the constant confidence and hashed side keys
    val m = spark.read.parquet(s"$dir/store/email/history.parquet")
    m.columns should contain allOf ("confidence", "src_entity_id", "dst_entity_id")
    m.select("confidence").as[Double].collect().toSet shouldBe Set(1.0)
    // config-side metadata flowed into meta.json (incl. the unquoted
    // two-word id-type)
    new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/store/email/meta.json")), "UTF-8") should
      include("Customer Number|email")
    // write-change-tables = false suppressed the satellite's change
    // tables; the hub (unconfigured -> store default) kept its own
    Files.exists(java.nio.file.Paths.get(
      s"$dir/store/customer_demo/new.parquet")) shouldBe false
    Files.exists(java.nio.file.Paths.get(
      s"$dir/store/customer/new.parquet")) shouldBe true
  }

  it should "load tables of one phase concurrently with sequential-identical results" in {
    val dir = Files.createTempDirectory("scd2par").toString
    val store = new Scd2Store(spark, dir)
    val custs = Seq((1, "gold"), (2, "silver"), (3, "bronze")).toDF("cid", "tier")
    val pairs = Seq((1, 10), (2, 20)).toDF("cid", "oid")
    val r = graft.load.Loaders.loadAllParallel(store, Seq(
      graft.load.Loaders.TableLoad("sat_a", custs, cfg("pa")),
      graft.load.Loaders.TableLoad("sat_b", custs, cfg("pb")),
      graft.load.Loaders.TableLoad("hub_a", custs, cfg("pc"), kind = "hub"),
      graft.load.Loaders.TableLoad("lnk_a", pairs,
        cfg("pd").copy(idFields = Seq("cid", "oid")), kind = "link",
        srcFields = Seq("cid"), srcIdType = "cust",
        dstFields = Seq("oid"), dstIdType = "order")), maxConcurrent = 3)
    r("sat_a")("inserted") shouldBe 3
    r("sat_b")("inserted") shouldBe 3
    r("hub_a")("inserted") shouldBe 3
    r("lnk_a")("inserted") shouldBe 2
    // every table published its full store layout despite concurrency
    for (t <- Seq("sat_a", "sat_b", "hub_a", "lnk_a")) {
      spark.read.parquet(s"$dir/$t/history.parquet").count() should be > 0L
      Files.exists(java.nio.file.Paths.get(s"$dir/$t/proc.csv")) shouldBe true
    }
  }

  it should "read current-or-snapshot and as-of views" in {
    val dir = Files.createTempDirectory("scd2asof").toString
    val store = new Scd2Store(spark, dir)
    store.runLoad("t3", Seq((1, "a"), (2, "b")).toDF("cid", "v"), cfg("p1"))
    store.runLoad("t3", Seq((1, "a2")).toDF("cid", "v"),
      cfg("p2").copy(processTime = "2024-03-10 00:00:00"))
    // current prefers the materialized table
    store.readCurrentOrSnapshot("t3").count() shouldBe 2
    // as-of between the loads sees the first state
    val asOf = store.readSnapshotAsOf("t3", "2024-03-05 00:00:00")
    asOf.count() shouldBe 2
    asOf.filter(col("cid") === 1).select("v").as[String].head() shouldBe "a"
    // history-only fallback (simulate an externally-written table)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t3/current.parquet"), true)
    store.readCurrentOrSnapshot("t3").count() shouldBe 2
  }

  it should "expire old change-table partitions by directory" in {
    val dir = Files.createTempDirectory("scd2exp").toString
    val store = new Scd2Store(spark, dir)
    store.runLoad("t2", Seq((1, "a")).toDF("cid", "v"), cfg("p1"))
    store.runLoad("t2", Seq((1, "b")).toDF("cid", "v"),
      cfg("p2").copy(processTime = "2024-03-20 00:00:00"))
    store.expireChangeTables("t2", java.time.LocalDate.parse("2024-03-21"), 7)
    val parts = new java.io.File(s"$dir/t2/changed.parquet").listFiles()
      .map(_.getName).filter(_.startsWith("process_date="))
    parts should contain("process_date=2024-03-20")
    parts should not contain "process_date=2024-03-01"
  }
}
