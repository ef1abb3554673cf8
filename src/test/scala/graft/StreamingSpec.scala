package graft

import graft.streaming.StreamingEvents
import graft.streaming.StreamingEvents.{EventIn, Latest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{coalesce, col, count, date_format, explode, lit, sum, when}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  it should "sessionize a stream with session_window and watermark" in {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = in.toDF().toDF("user_id", "ts", "value")
    val q = StreamingEvents.sessionStats(events, 3600, "0 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:10:00"), 2.0),  // same session
        (1L, ts("2024-01-01 13:00:00"), 3.0))  // new session
      q.processAllAvailable()
      // advance the watermark far past both sessions so they close
      in.addData((99L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user_id", "n_events", "session_value")
        .as[(Long, Long, Double)].collect().filter(_._1 == 1L).sortBy(_._2)
      rows shouldBe Array((1L, 1L, 3.0), (1L, 2L, 3.0))
    } finally q.stop()
  }

  it should "dedup a stream against the persisted index and grow it with new docs" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    // seed the index from an existing corpus
    val corpus = Seq((1L, "the cat sat on the mat and then slept all day"))
      .toDF("doc_id", "text")
    graft.text.Dedup.buildDedupIndex(corpus, "doc_id", "text")
      .write.parquet(s"$tmp/index/batch_id=-1")
    val in = MemoryStream[(Long, String)]
    val q = StreamingEvents.incrementalDedupSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/index", s"$tmp/verdicts", s"$tmp/ckpt")
    try {
      in.addData(
        (10L, "the cat sat on the mat and then slept all day"), // exact of 1
        (11L, "totally novel content with fresh tokens here now"))
      q.processAllAvailable()
      in.addData( // exact copy of batch-1's NEW doc: only found if the
        (20L, "totally novel content with fresh tokens here now")) // index grew
      q.processAllAvailable()
      val verdicts = spark.read.parquet(s"$tmp/verdicts")
        .select("doc_id", "verdict", "exact_dup_of")
        .as[(Long, String, Option[Long])].collect().sortBy(_._1)
      verdicts.map(v => (v._1, v._2)) shouldBe
        Array((10L, "exact"), (11L, "new"), (20L, "exact"))
      verdicts.last._3 shouldBe Some(11L)
      // the index now carries rows for corpus + both new docs
      spark.read.parquet(s"$tmp/index")
        .select("doc_id").distinct().as[Long].collect().sorted shouldBe
        Array(1L, 11L)
    } finally q.stop()
  }

  it should "reproduce identical verdicts and index when a dedup micro-batch replays" in {
    // foreachBatch is at-least-once: a batch that committed its writes but
    // not the streaming checkpoint re-runs with the same batchId. The
    // replay must not verdict docs against their own half-committed index
    // rows, and the partition overwrite must leave no duplicates.
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay").toString
    graft.text.Dedup.buildDedupIndex(
        Seq((1L, "the cat sat on the mat and then slept all day"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$tmp/index/batch_id=-1")
    val batch = Seq(
      (10L, "the cat sat on the mat and then slept all day"), // exact of 1
      (11L, "totally novel content with fresh tokens here now"))
      .toDF("doc_id", "text")
    def snapshot(): (Seq[String], Seq[String]) = (
      spark.read.parquet(s"$tmp/verdicts")
        .select("doc_id", "verdict", "exact_dup_of", "batch_id")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$tmp/index")
        .select("doc_id", "band", "band_hash", "batch_id")
        .collect().map(_.toString).sorted.toSeq)
    StreamingEvents.dedupBatch(batch, 7L, "doc_id", "text",
      s"$tmp/index", s"$tmp/verdicts", 3, 16, 4, 8)
    val first = snapshot()
    // replay the SAME batch (the index now already holds doc 11's rows)
    StreamingEvents.dedupBatch(batch, 7L, "doc_id", "text",
      s"$tmp/index", s"$tmp/verdicts", 3, 16, 4, 8)
    snapshot() shouldBe first
    // and the verdicts are the original ones — doc 11 stayed 'new'
    first._1.count(_.contains("new")) shouldBe 1
  }

  it should "detect cross-batch shared spans replay-idempotently in the span sink" in {
    import graft.text.SubstringDedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_spans").toString
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    def run(id: Long, text: String, b: Long): Unit =
      StreamingEvents.spanBatch(Seq((id, text)).toDF("doc_id", "text"),
        b, "doc_id", "text", s"$tmp/index", s"$tmp/spans", 8)
    run(1L, s"c1 c2 $shared c3", 0L)
    run(2L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10", 1L)
    run(3L, s"n1 n2 $shared n3", 2L) // shares batch 0's span
    def spans(): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(s"$tmp/spans")
        .select("doc_id", "span_start", "span_end", "batch_id")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val before = spans()
    before.filter(_._1 == 3L) shouldBe Seq((3L, 2L, 10L, 2L))
    before.map(_._1) shouldBe Seq(3L) // earlier batches saw nothing
    // the index accumulated every batch's windows
    spark.read.parquet(s"$tmp/index").select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 3L)
    // at-least-once replay of batch 2: identical outputs — the anti-join
    // keeps doc 3's own already-appended windows from matching itself
    // (without it, the replay would also report the n1/n2/n3 context)
    run(3L, s"n1 n2 $shared n3", 2L)
    spans() shouldBe before
  }

  it should "stream IVF index appends query-identical to a batch build" in {
    import graft.ann.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfs").toString
    val emb = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") % 40 === 0)
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    // two streamed batches
    StreamingEvents.ivfIndexBatch(
      emb.filter(col("vec_id") % 4 === 1 || col("vec_id") % 4 === 2)
        .toDF(), 0L, "vec_id", "embedding", cents, 64, s"$tmp/idx")
    StreamingEvents.ivfIndexBatch(
      emb.filter(col("vec_id") % 4 === 3).toDF(), 1L, "vec_id",
      "embedding", cents, 64, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") % 4 === 0)
    val streamed = Similarity.ivfTopKFromIndex(
      spark.read.parquet(s"$tmp/idx"), queries, "vec_id", "embedding",
      cents, 3, 64).collect().toSet
    val batchIdx = Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", cents, 64)
    val direct = Similarity.ivfTopKFromIndex(batchIdx, queries, "vec_id",
      "embedding", cents, 3, 64).collect().toSet
    streamed shouldBe direct
    streamed should not be empty
    // at-least-once replay of batch 1 overwrites with identical rows
    val before = spark.read.parquet(s"$tmp/idx")
      .select("vec_id", "centroid_id").as[(Long, Long)]
      .collect().sorted.toSeq
    StreamingEvents.ivfIndexBatch(
      emb.filter(col("vec_id") % 4 === 3).toDF(), 1L, "vec_id",
      "embedding", cents, 64, s"$tmp/idx")
    spark.read.parquet(s"$tmp/idx")
      .select("vec_id", "centroid_id").as[(Long, Long)]
      .collect().sorted.toSeq shouldBe before
    graft.util.Caches.releaseAll(spark)
  }

  it should "preserve IVF query answers and bound files across index compaction" in {
    import graft.ann.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfc").toString
    val emb = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") % 40 === 0)
    for (b <- 0L to 3L)
      StreamingEvents.ivfIndexBatch(
        emb.filter(col("vec_id") % 4 === (b + 1) % 4).toDF(), b,
        "vec_id", "embedding", cents, 64, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") % 7 === 0)
    def answer() = Similarity.ivfTopKFromIndex(
      spark.read.parquet(s"$tmp/idx"), queries, "vec_id", "embedding",
      cents, 3, 64).collect().toSet
    val before = answer()
    before should not be empty
    val cid = Similarity.compactIvfIndex(spark, s"$tmp/idx")
    cid shouldBe -1L // counts DOWN from min stream id (0)
    answer() shouldBe before
    // one batch dir left, one file per bucket inside it
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/idx"))
      .filter(_.isDirectory).map(_.getPath)
    dirs.map(_.getName) shouldBe Array("batch_id=-1")
    fs.listStatus(dirs.head).filter(_.isDirectory).foreach { bucket =>
      fs.listStatus(bucket.getPath)
        .count(_.getPath.getName.startsWith("part-")) shouldBe 1
    }
    // idempotent: a second compaction is a no-op on a compact index
    Similarity.compactIvfIndex(spark, s"$tmp/idx") shouldBe -1L
    answer() shouldBe before
    graft.util.Caches.releaseAll(spark)
  }

  it should "tombstone-delete vectors from the IVF index, query-identical to an index without them" in {
    // X191: the retrieval-store delete leg — a taken-down embedding
    // must stop surfacing as a neighbor; ledger anti-joined by the
    // canonical read, applied + cleared by compaction, resurrection
    // fails loud until then
    import graft.ann.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfd").toString
    val emb = graft.Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") % 40 === 0)
    for (b <- 0L to 3L)
      StreamingEvents.ivfIndexBatch(
        emb.filter(col("vec_id") % 4 === (b + 1) % 4).toDF(), b,
        "vec_id", "embedding", cents, 64, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") % 7 === 0)
    val dying = emb.filter(col("vec_id") % 9 === 2)
    def answer(index: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKFromIndex(index, queries, "vec_id",
        "embedding", cents, 3, 64).collect().toSet
    val before = answer(Similarity.readIvfIndex(spark, s"$tmp/idx"))
    before should not be empty
    Similarity.deleteFromIvfIndex(spark, s"$tmp/idx",
      dying.select(col("vec_id")), "vec_id", batchId = 0L)
    // the tombstone-aware read equals an index that never held them
    val want = answer(Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 9 =!= 2), "vec_id", "embedding",
      cents, 64))
    want should not be before
    answer(Similarity.readIvfIndex(spark, s"$tmp/idx")) shouldBe want
    // replay idempotence
    Similarity.deleteFromIvfIndex(spark, s"$tmp/idx",
      dying.select(col("vec_id")), "vec_id", batchId = 0L)
    answer(Similarity.readIvfIndex(spark, s"$tmp/idx")) shouldBe want
    // resurrection fails loud pre-compaction
    intercept[IllegalArgumentException] {
      StreamingEvents.ivfIndexBatch(dying.limit(1).toDF(), 9L,
        "vec_id", "embedding", cents, 64, s"$tmp/idx")
    }
    // compaction applies + clears the ledger, answers unchanged
    Similarity.compactIvfIndex(spark, s"$tmp/idx") shouldBe -1L
    answer(Similarity.readIvfIndex(spark, s"$tmp/idx")) shouldBe want
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/idx__tombstones")) shouldBe false
    // the loop continues: the deleted vectors may return, restoring
    // the original answers
    StreamingEvents.ivfIndexBatch(dying.toDF(), 10L, "vec_id",
      "embedding", cents, 64, s"$tmp/idx")
    answer(Similarity.readIvfIndex(spark, s"$tmp/idx")) shouldBe before
    graft.util.Caches.releaseAll(spark)
  }

  it should "dedup lines across batches replay-idempotently in the line sink" in {
    import graft.text.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_lines").toString
    def run(rows: Seq[(Long, String)], b: Long): Unit =
      StreamingEvents.lineBatch(rows.toDF("doc_id", "text"), b,
        "doc_id", "text", s"$tmp/index", s"$tmp/out")
    def out(): Map[Long, (Long, Long, String)] =
      spark.read.parquet(s"$tmp/out")
        .select("doc_id", "n_lines", "n_kept", "dedup_text")
        .as[(Long, Long, Long, String)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // batch 0: in-batch dedup only — parity with the batch operator
    val b0 = Seq(1L -> "one\nshared footer\n\ntwo",
      2L -> "shared footer\nown line")
    run(b0, 0L)
    val direct = Dedup.lineDeduplicate(b0.toDF("doc_id", "text"),
        "doc_id", "text")
      .select("doc_id", "n_lines", "n_kept", "dedup_text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    out() shouldBe direct
    // batch 1: a line claimed in batch 0 is dropped; new lines survive
    run(Seq(3L -> "shared footer\nthree\n\nown line"), 1L)
    val r = out()
    r(3L) shouldBe ((4L, 2L, "three\n"))
    // the index holds one claimant per distinct line, never re-claimed
    val idx = spark.read.parquet(s"$tmp/index")
      .select("h", "doc_id").as[(String, Long)].collect()
    idx.map(_._1).distinct.length shouldBe idx.length
    // at-least-once replay of batch 1: byte-identical verdicts + index
    run(Seq(3L -> "shared footer\nthree\n\nown line"), 1L)
    out() shouldBe r
    spark.read.parquet(s"$tmp/index")
      .select("h", "doc_id").as[(String, Long)].collect()
      .sorted.toSeq shouldBe idx.sorted.toSeq
  }

  it should "preserve dedup verdicts and bound file count across index compaction" in {
    import graft.text.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    Dedup.buildDedupIndex(
        Seq((1L, "the cat sat on the mat and then slept all day"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(s"$tmp/index/batch_id=-1")
    // three micro-batches, each indexing one fresh doc → 4 partition dirs
    val texts = Seq(
      10L -> "totally novel content with fresh tokens here now",
      11L -> "another quite different document about distant topics",
      12L -> "yet more unique words nobody has used before today")
    texts.zipWithIndex.foreach { case ((id, txt), b) =>
      StreamingEvents.dedupBatch(Seq((id, txt)).toDF("doc_id", "text"),
        b.toLong, "doc_id", "text", s"$tmp/index", s"$tmp/verdicts",
        3, 16, 4, 8)
    }
    val probe = Seq(
      (100L, "the cat sat on the mat and then slept all day"), // seed dup
      (101L, "yet more unique words nobody has used before today"), // b2 dup
      (102L, "completely new probe text matching nothing else at all"))
      .toDF("doc_id", "text")
    def verdicts(): Seq[String] = Dedup.incrementalDedupIndexed(
      spark.read.parquet(s"$tmp/index"), probe, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    def indexRows(): Seq[String] = spark.read.parquet(s"$tmp/index")
      .select("doc_id", "text_md5", "sig", "band", "band_hash")
      .collect().map(_.toString).sorted.toSeq
    def batchDirs(): Seq[String] = new java.io.File(s"$tmp/index").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    def partFiles(): Int = batchDirs().map(d =>
      new java.io.File(s"$tmp/index/$d").listFiles()
        .count(_.getName.startsWith("part-"))).sum
    val (vBefore, iBefore) = (verdicts(), indexRows())
    vBefore.count(_.contains("exact")) shouldBe 2
    batchDirs() should have size 4
    // compact: one partition (ids count DOWN from the seed), bounded files
    Dedup.compactDedupIndex(spark, s"$tmp/index", targetFiles = 2) shouldBe -2L
    batchDirs() shouldBe Seq("batch_id=-2")
    partFiles() should be <= 2
    verdicts() shouldBe vBefore
    indexRows() shouldBe iBefore
    // idempotent: a second run finds a single partition and leaves it
    Dedup.compactDedupIndex(spark, s"$tmp/index") shouldBe -2L
    batchDirs() shouldBe Seq("batch_id=-2")
    // a crash between write and delete leaves duplicate rows — simulate
    // by re-appending the full consolidated content as a stale partition;
    // the next compaction's distinct must absorb them (storage recovers)
    spark.read.parquet(s"$tmp/index").drop("batch_id")
      .write.parquet(s"$tmp/index/batch_id=7")
    spark.read.parquet(s"$tmp/index").count() shouldBe 2 * iBefore.size
    Dedup.compactDedupIndex(spark, s"$tmp/index", targetFiles = 2) shouldBe -3L
    indexRows() shouldBe iBefore // duplicates collapsed, content intact
    verdicts() shouldBe vBefore
    // the ingest loop continues cleanly against the compacted index
    StreamingEvents.dedupBatch(
      Seq((20L, "totally novel content with fresh tokens here now"))
        .toDF("doc_id", "text"),
      3L, "doc_id", "text", s"$tmp/index", s"$tmp/verdicts", 3, 16, 4, 8)
    spark.read.parquet(s"$tmp/verdicts").filter(col("doc_id") === 20L)
      .select("verdict", "exact_dup_of").as[(String, Option[Long])]
      .head() shouldBe (("exact", Some(10L)))
  }

  it should "accumulate streaming vocabulary stats identical to the batch operator" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_svocab").toString
    val b1 = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat quietly"))
    val b2 = Seq(
      (3L, "a cat and a dog sat together"),
      (4L, "the mat stayed empty"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingEvents.vocabularySink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.select("token", "term_freq", "doc_freq")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val streamed = rows(StreamingEvents.vocabularyView(spark, s"$tmp/stats"))
    val batch = rows(graft.text.TextStats.vocabulary(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text"))
    streamed shouldBe batch
    // replay safety: re-running a batch rewrites its partition in place —
    // the published view is unchanged
    StreamingEvents.vocabularyBatch(b2.toDF("doc_id", "text"), 1L,
      "doc_id", "text", s"$tmp/stats")
    rows(StreamingEvents.vocabularyView(spark, s"$tmp/stats")) shouldBe batch
  }

  it should "keep every true heavy hitter in the merged sketch view" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_shh").toString
    // skewed stream: 'hot' dominates across batches, tail words rotate
    def batchRows(seed: Int): Seq[(String, String)] =
      (1 to 30).map(i => ("en",
        if (i % 3 == 0) "hot hot common" else s"w${seed}_$i rare$i"))
    val in = MemoryStream[(String, String)]
    val q = StreamingEvents.heavyHitterSink(
      in.toDF().toDF("lang", "text"), "lang", "text", k = 8,
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
      in.addData(batchRows(3): _*); q.processAllAvailable()
    } finally q.stop()
    val view = StreamingEvents.heavyHitterView(spark, s"$tmp/stats",
      "lang", k = 8).collect()
    val all = (1 to 3).flatMap(batchRows)
    val toks = all.flatMap(_._2.split("\\s+"))
    val n = toks.size
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.size }
    val mustKeep = exact.collect { case (t, c) if c.toLong * 8 > n => t }
    mustKeep should not be empty // 'hot' and 'common' qualify
    val candidates = view.map(_.getString(1)).toSet
    mustKeep.foreach(t => candidates should contain(t))
    view.length should be <= 8
    view.map(_.getLong(3)).toSet shouldBe Set(n.toLong) // Σ n_tokens survives
    // replay safety: rewriting batch 1's partition leaves the view's
    // guarantee intact (same summary overwrites the same directory)
    StreamingEvents.heavyHitterBatch(batchRows(2).toDF("lang", "text"),
      1L, "lang", "text", 8, s"$tmp/stats")
    val again = StreamingEvents.heavyHitterView(spark, s"$tmp/stats",
      "lang", k = 8).collect().map(_.getString(1)).toSet
    mustKeep.foreach(t => again should contain(t))
  }

  it should "merge streamed Count-Min cells into the one-pass sketch of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_scm").toString
    def batchRows(seed: Int): Seq[(String, String)] =
      (1 to 20).map(i => ("en",
        if (i % 4 == 0) "hot hot stable" else s"w${seed}_$i filler"))
    val in = MemoryStream[(String, String)]
    val q = StreamingEvents.countMinSink(
      in.toDF().toDF("lang", "text"), "lang", "text",
      depth = 3, width = 64, s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    val all = (1 to 2).flatMap(batchRows).toDF("lang", "text")
    val toks = all.select(col("lang"),
      explode(graft.text.Dedup.words(col("text"))).as("tok"))
    val onePass = graft.sketch.Sketches.countMinCells(
      toks, "lang", "tok", 3, 64)
      .orderBy("lang", "r", "c").collect().toSeq
    def viewRows() = StreamingEvents.countMinView(spark,
      s"$tmp/cells", "lang")
      .orderBy("lang", "r", "c").collect().toSeq
    viewRows() shouldBe onePass
    // point queries over the merged view behave like the batch sketch:
    // overestimate-only vs the exact stream-wide counts
    val probes = Seq(("en", "hot"), ("en", "stable"), ("en", "filler"))
      .toDF("lang", "tok")
    val est = graft.sketch.Sketches.countMinEstimate(
      StreamingEvents.countMinView(spark, s"$tmp/cells", "lang"),
      probes, "lang", "tok", 3, 64)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val exact = (1 to 2).flatMap(batchRows).flatMap(_._2.split("\\s+"))
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    Seq("hot", "stable", "filler").foreach { t =>
      est(t) should be >= exact(t)
    }
    // replay safety: rewriting batch 1's partition in place leaves the
    // merged view identical
    StreamingEvents.countMinBatch(batchRows(2).toDF("lang", "text"), 1L,
      "lang", "text", 3, 64, s"$tmp/cells")
    viewRows() shouldBe onePass
  }

  it should "maintain daily aggregates whose CUSUM view equals the batch changepoint operator" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sda").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1 shifts level mid-month; events split across two batches
    val all = (1 to 20).map { d =>
      (1L, ts(f"2024-01-$d%02d 10:00:00"), if (d <= 10) 5.0 else 40.0)
    }
    val (b1, b2) = all.splitAt(12)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingEvents.dailyAggSink(
      in.toDF().toDF("user_id", "ts", "value"), "user_id", "ts",
      "value", s"$tmp/daily", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .select(col("user_id"), col("day"), col("cusum"),
        col("is_changepoint"))
      .as[(Long, String, Double, Int)].collect().sortBy(_._2).toSeq
    val batch = rows(graft.events.Resample.cusumChangepoint(
      all.toDF("user_id", "ts", "value"), "user_id", col("ts"),
      col("value")))
    rows(StreamingEvents.cusumView(spark, s"$tmp/daily",
      "user_id")) shouldBe batch
    // the shift day is flagged
    batch.find(_._4 == 1).get._2 shouldBe "2024-01-10"
    // replay: rewriting batch 1's partition leaves the view identical
    StreamingEvents.dailyAggBatch(b1.toDF("user_id", "ts", "value"), 0L,
      "user_id", "ts", "value", s"$tmp/daily")
    rows(StreamingEvents.cusumView(spark, s"$tmp/daily",
      "user_id")) shouldBe batch
    // the SAME daily store feeds the whole changepoint/trend family:
    // each view must equal its batch operator over the full input
    val allDf = all.toDF("user_id", "ts", "value")
    def pettittRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, String, Double, Int)].collect().toSeq
    pettittRows(StreamingEvents.pettittView(spark, s"$tmp/daily",
      "user_id")) shouldBe
      pettittRows(graft.events.Resample.pettittChangepoint(
        allDf, "user_id", col("ts"), col("value")))
    def mkRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Double, Option[Double])].collect().toSeq
    mkRows(StreamingEvents.mannKendallView(spark, s"$tmp/daily",
      "user_id")) shouldBe
      mkRows(graft.events.Resample.mannKendall(
        allDf, "user_id", col("ts"), col("value")))
    def phRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Double, Option[String], Int)].collect().toSeq
    val phView = phRows(StreamingEvents.pageHinkleyView(spark,
      s"$tmp/daily", "user_id", delta = 0.0, lambda = 50.0))
    phView shouldBe phRows(graft.events.Resample.pageHinkley(
      allDf, "user_id", col("ts"), col("value"),
      delta = 0.0, lambda = 50.0))
    phView.head._5 shouldBe 1 // the level shift fires the monitor
    def smkRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Double, Option[Double])]
      .collect().toSeq
    smkRows(StreamingEvents.seasonalMannKendallView(spark,
      s"$tmp/daily", "user_id")) shouldBe
      smkRows(graft.events.Resample.seasonalMannKendall(
        allDf, "user_id", col("ts"), col("value")))
    def stsRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq
    stsRows(StreamingEvents.seasonalTheilSenView(spark,
      s"$tmp/daily", "user_id")) shouldBe
      stsRows(graft.events.Resample.seasonalTheilSen(
        allDf, "user_id", col("ts"), col("value")))
    def adRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, String, Double, Option[Double], Int)].collect().toSeq
    adRows(StreamingEvents.anomalousDaysView(spark, s"$tmp/daily",
      "user_id", nSigma = 1.5, maxIter = 2)) shouldBe
      adRows(graft.events.Resample.anomalousDays(
        allDf, "user_id", col("ts"), col("value"), nSigma = 1.5,
        maxIter = 2))
    def rtRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Long, Option[Double])]
      .collect().toSeq
    rtRows(StreamingEvents.runsTestView(spark, s"$tmp/daily",
      "user_id")) shouldBe
      rtRows(graft.events.Resample.runsTest(
        allDf, "user_id", col("ts"), col("value")))
    def acfRows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Option[Double])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    acfRows(StreamingEvents.acfView(spark, s"$tmp/daily",
      "user_id", maxLag = 4)) shouldBe
      acfRows(graft.events.Resample.seriesAutocorrelation(
        allDf, "user_id", col("ts"), col("value"), maxLag = 4))
    graft.util.Caches.releaseAll(spark)
  }

  it should "score streaming category cells against a frozen reference equal to the batch D30 operator" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ccd").toString
    val reference = (Seq.fill(40)("en") ++ Seq.fill(30)("de") ++
      Seq.fill(30)("fr")).toDF("lang")
    // the stream drifts toward en; category "es" is stream-only and
    // "fr" is reference-only after batch 1 — the full-outer edge
    val b1 = Seq.fill(30)("en") ++ Seq.fill(10)("de")
    val b2 = Seq.fill(25)("en") ++ Seq.fill(5)("es")
    val in = MemoryStream[String]
    val q = StreamingEvents.categoryCellSink(
      in.toDF().toDF("lang"), "lang", s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    val view = rows(StreamingEvents.categoricalDriftView(spark,
      s"$tmp/cells", reference, "lang"))
    val batch = rows(graft.dq.Dq.categoricalDrift(reference,
      (b1 ++ b2).toDF("lang"), "lang"))
    view shouldBe batch
    view._1 shouldBe 100L
    view._2 shouldBe 70L
    view._3 shouldBe 4L // en, de, fr (ref-only), es (stream-only)
    // replay: rewriting batch 0's partition leaves the view identical
    StreamingEvents.categoryCellBatch(b1.toDF("lang"), 0L, "lang",
      s"$tmp/cells")
    rows(StreamingEvents.categoricalDriftView(spark, s"$tmp/cells",
      reference, "lang")) shouldBe batch
    // NULL categories fail loud on the sink path too
    an[Exception] should be thrownBy
      StreamingEvents.categoryCellBatch(
        Seq(Some("en"), None).toDF("lang"), 9L, "lang", s"$tmp/cells")
  }

  it should "reconstruct session-spanning sequential rules equal to the batch W14 operator" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ssr").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val timeout = 1800L
    // user 1: one session SPANNING the batch boundary (10:20 -> 10:40 =
    // 1200s <= timeout), then a separate late session; user 2: batch 1
    // alone sees TWO fragments (09:00, 09:40 - gap 2400 > timeout) that
    // batch 2's out-of-order 09:20 event GLUES into one true session -
    // the interleaving/telescoping case a naive per-batch union breaks
    val b1 = Seq(
      (1L, "view", ts("2024-01-05 10:00:00"), 1L),
      (1L, "click", ts("2024-01-05 10:20:00"), 2L),
      (2L, "view", ts("2024-01-05 09:00:00"), 3L),
      (2L, "purchase", ts("2024-01-05 09:40:00"), 4L))
    val b2 = Seq(
      (1L, "purchase", ts("2024-01-05 10:40:00"), 5L),
      (1L, "view", ts("2024-01-05 12:00:00"), 6L),
      (2L, "click", ts("2024-01-05 09:20:00"), 7L))
    val in = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val q = StreamingEvents.sequentialRuleSink(
      in.toDF().toDF("user_id", "event_type", "ts", "event_id"),
      timeout, s"$tmp/frags", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("antecedent"), col("consequent"), col("support"),
        col("confidence"), col("lift"))
      .as[(String, String, Long, Double, Double)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = rows(graft.events.EventFunctions.sequentialRules(
      (b1 ++ b2).toDF("user_id", "event_type", "ts", "event_id"),
      timeout))
    val view = rows(StreamingEvents.sequentialRulesView(spark,
      s"$tmp/frags", timeout))
    view shouldBe batch
    // the glued user-2 session must support view -> purchase (09:00 <
    // 09:40 in ONE session only after the out-of-order merge)
    view.map(t => (t._1, t._2)) should contain(("view", "purchase"))
    // replay: rewriting batch 0's partition leaves the view identical
    StreamingEvents.sequentialRuleBatch(
      b1.toDF("user_id", "event_type", "ts", "event_id"), 0L, timeout,
      s"$tmp/frags", graft.events.EventCols())
    rows(StreamingEvents.sequentialRulesView(spark, s"$tmp/frags",
      timeout)) shouldBe batch
    graft.util.Caches.releaseAll(spark)
  }

  it should "rebuild LTV curves from merged weekly value sums" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sltv").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1's week-1 spend is SPLIT across batches (sums must merge);
    // u2 joins in week 2 (second cohort)
    val b1 = Seq((1L, ts("2024-01-01 09:00:00"), 10.0),
      (1L, ts("2024-01-08 09:00:00"), 4.0))
    val b2 = Seq((1L, ts("2024-01-02 18:00:00"), 2.5),
      (2L, ts("2024-01-09 12:00:00"), 7.0))
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingEvents.cohortValueSink(
      in.toDF().toDF("user_id", "ts", "value"), s"$tmp/vals",
      s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = rows(graft.events.EventFeatures.ltvCurves(
      (b1 ++ b2).toDF("user_id", "ts", "value")))
    rows(StreamingEvents.ltvView(spark, s"$tmp/vals")) shouldBe batch
    // u1 cohort week 0 merged across batches: 10 + 2.5
    batch.find(t => t._1 == "2024-01-01" && t._2 == 0L).get._4 shouldBe
      12.5
    // replay: rewriting batch 0's partition leaves the view identical
    StreamingEvents.cohortValueBatch(
      b1.toDF("user_id", "ts", "value"), 0L, s"$tmp/vals",
      graft.events.EventCols())
    rows(StreamingEvents.ltvView(spark, s"$tmp/vals")) shouldBe batch
    graft.util.Caches.releaseAll(spark)
  }

  it should "rebuild the growth ledger from distinct user-week pairs" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sgw").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 weeks 1,2 split across batches (retained); u2 in both batches
    // within the SAME week (set semantics must dedupe); u2 churns
    val b1 = Seq((1L, ts("2024-01-01 09:00:00")),
      (2L, ts("2024-01-02 09:00:00")))
    val b2 = Seq((1L, ts("2024-01-08 09:00:00")),
      (2L, ts("2024-01-03 18:00:00")))
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingEvents.userWeekSink(
      in.toDF().toDF("user_id", "ts"), s"$tmp/weeks", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1).toSeq
    val batch = rows(graft.events.EventFeatures.growthAccounting(
      (b1 ++ b2).toDF("user_id", "ts")))
    rows(StreamingEvents.growthView(spark, s"$tmp/weeks")) shouldBe batch
    // week 1: both new; week 2: u1 retained, u2 churned
    batch.find(_._1 == "2024-01-08").get shouldBe
      (("2024-01-08", 1L, 0L, 1L, 0L, 1L))
    // replay: rewriting batch 0's partition leaves the view identical
    StreamingEvents.userWeekBatch(b1.toDF("user_id", "ts"), 0L,
      s"$tmp/weeks", graft.events.EventCols())
    rows(StreamingEvents.growthView(spark, s"$tmp/weeks")) shouldBe batch
    graft.util.Caches.releaseAll(spark)
  }

  it should "rebuild the landing/exit matrix from session fragments, incl. an out-of-order prepend" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ssx").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val timeout = 1800L
    // user 1: session spans batches (landing view, exit purchase);
    // user 2: batch 1 sees only [09:40 purchase]; batch 2 PREPENDS
    // [09:15 view] (gap 1500 <= timeout) -> the merged session's
    // landing must flip to view (first/last compose under merge)
    val b1 = Seq(
      (1L, "view", ts("2024-01-05 10:00:00"), 1L),
      (2L, "purchase", ts("2024-01-05 09:40:00"), 2L))
    val b2 = Seq(
      (1L, "purchase", ts("2024-01-05 10:20:00"), 3L),
      (2L, "view", ts("2024-01-05 09:15:00"), 4L))
    val in = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val q = StreamingEvents.sessionStatsSink(
      in.toDF().toDF("user_id", "event_type", "ts", "event_id"),
      timeout, s"$tmp/frags", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, String, Long, Long, Long, Double)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = rows(graft.events.EventFunctions.landingExitReport(
      (b1 ++ b2).toDF("user_id", "event_type", "ts", "event_id"),
      timeout))
    val view = rows(StreamingEvents.landingExitView(spark,
      s"$tmp/frags", timeout))
    view shouldBe batch
    // both users: landing view, exit purchase, no bounces
    view.map(t => (t._1, t._2, t._3)) shouldBe
      Seq(("view", "purchase", 2L))
    // replay: rewriting batch 0's partition leaves the view identical
    StreamingEvents.sessionStatsBatch(
      b1.toDF("user_id", "event_type", "ts", "event_id"), 0L, timeout,
      s"$tmp/frags", graft.events.EventCols())
    rows(StreamingEvents.landingExitView(spark, s"$tmp/frags",
      timeout)) shouldBe batch
    graft.util.Caches.releaseAll(spark)
  }

  it should "maintain PCA moments whose covariance view equals the one-pass batch covariance" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_smo").toString
    val d = 6
    val rnd = new scala.util.Random(3)
    def vecs(n: Int): Seq[(Long, Seq[Float])] =
      (1 to n).map(i => (i.toLong,
        Seq.tabulate(d)(_ => rnd.nextGaussian().toFloat)))
    val (b1, b2) = (vecs(30), vecs(25))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingEvents.momentSink(
      in.toDF().toDF("id", "vec"), "vec", d,
      s"$tmp/moments", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val union = (b1 ++ b2).toDF("id", "vec")
    val batchCov = graft.ml.Pca.covarianceMatrix(union, "vec", d)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3)
      .toMap
    def viewCov() = StreamingEvents.covarianceView(spark,
      s"$tmp/moments", d)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3)
      .toMap
    val got = viewCov()
    got.keySet shouldBe batchCov.keySet
    got.foreach { case (k, v) => v shouldBe batchCov(k) +- 1e-12 }
    // replay: rewriting batch 1's partition in place changes nothing
    StreamingEvents.momentBatch(b2.toDF("id", "vec"), 1L, "vec", d,
      s"$tmp/moments")
    viewCov().foreach { case (k, v) => v shouldBe batchCov(k) +- 1e-12 }
  }

  it should "maintain a stream-wide priority sample identical to the batch sampler" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sps").toString
    val b1 = (1L to 40L).map(i => (i, 1L + i % 9))
    val b2 = (41L to 90L).map(i => (i, 1L + i % 9))
    val in = MemoryStream[(Long, Long)]
    val q = StreamingEvents.prioritySampleSink(
      in.toDF().toDF("id", "w"), "id", "w", k = 12, "sps",
      s"$tmp/sample", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("id", "sample_rank").as[(Long, Long)]
        .collect().sortBy(_._2).toSeq
    val streamed = rows(StreamingEvents.prioritySampleView(spark,
      s"$tmp/sample", "id", k = 12))
    // mergeability: top-k of the stored per-batch top-ks == the batch
    // operator over everything ingested
    val batch = rows(graft.curate.Curation.prioritySample(
      (b1 ++ b2).toDF("id", "w"), "id", "w", k = 12, "sps"))
    streamed shouldBe batch
    streamed.map(_._2) shouldBe (1L to 12L)
    // replay safety: re-running batch 1 rewrites its partition in place
    StreamingEvents.prioritySampleBatch(b2.toDF("id", "w"), 1L,
      "id", "w", 12, "sps", s"$tmp/sample")
    rows(StreamingEvents.prioritySampleView(spark,
      s"$tmp/sample", "id", k = 12)) shouldBe batch
  }

  it should "score per-batch drift identically to the batch PSI operator" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdrift").toString
    val ref = (1 to 200).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    val edges = graft.dq.Dq.quantileEdges(ref, "v", "id", bins = 10)
    val refCounts = ref
      .groupBy(graft.dq.Dq.binOf(col("v"), edges).as("bin"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_ref"))
    val b1 = (1 to 200).map(i => (i.toLong, i.toDouble)) // in-dist
    val b2 = (1 to 100).map(i => (i.toLong, 500.0 + i)) // shifted
    val in = MemoryStream[(Long, Double)]
    val q = StreamingEvents.driftMonitorSink(
      in.toDF().toDF("id", "v"), "v", edges, s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def view() = StreamingEvents.driftMonitorView(spark, s"$tmp/stats",
        refCounts, bins = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = view()
    def batchPsi(rows: Seq[(Long, Double)]): Double =
      graft.dq.Dq.psiDrift(ref,
        rows.toDF("id", "v").select(col("v"), col("id")), "v", "id", 10)
        .select(col("psi")).head().getDouble(0)
    got(0L) shouldBe batchPsi(b1) +- 1e-6
    got(1L) shouldBe batchPsi(b2) +- 1e-6
    got(1L) should be > 0.25 // the shifted batch alarms
    got(0L) should be < 0.05 // the in-distribution batch does not
    // replay safety: re-running batch 1 rewrites its partition
    StreamingEvents.driftMonitorBatch(b2.toDF("id", "v"), 1L, "v",
      edges, s"$tmp/stats")
    view() shouldBe got
  }

  it should "score and route micro-batches identically to the batch classifier" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sclf").toString
    val model = graft.ml.TextClassifier.train(
      Seq(("good clean text words", "good"), ("bad noisy junk spam", "bad"))
        .toDF("text", "lab"), "text", "lab")
    val b1 = Seq((1L, "clean text words here"), (2L, "noisy junk spam"))
    val b2 = Seq((3L, "good clean words"), (4L, "junk junk spam"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingEvents.classifierSink(
      in.toDF().toDF("doc_id", "text"), model, "doc_id", "text",
      acceptLabel = "good", minMargin = 0.0,
      s"$tmp/out", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "verdict").as[(Long, String)].collect().toMap
    val streamed = verdicts(spark.read.parquet(s"$tmp/out"))
    // batch equivalent: same scorer, same routing rule, all rows at once
    val batch = graft.ml.TextClassifier.score(model,
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .withColumn("verdict",
        when(col("label") === "good" &&
          coalesce(col("margin"), lit(0.0)) >= 0.0, "keep")
          .otherwise("quarantine"))
    streamed shouldBe verdicts(batch)
    streamed(1L) shouldBe "keep"
    streamed(2L) shouldBe "quarantine"
    // replay: a redelivered micro-batch overwrites its own directory —
    // verdicts unchanged
    StreamingEvents.classifierBatch(b2.toDF("doc_id", "text"), 1L, model,
      "doc_id", "text", "good", 0.0, s"$tmp/out")
    verdicts(spark.read.parquet(s"$tmp/out")) shouldBe streamed
  }

  it should "suppress exact duplicates within the watermark on ingest" in {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingEvents.dedupStream(docs, "doc_id", "text", "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (1L, "the quick brown fox", ts("2024-01-01 10:00:00")),
        (2L, "another document", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // byte-identical text inside the watermark window → dropped
      in.addData((3L, "the quick brown fox", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().sorted
      ids shouldBe Array(1L, 2L)
    } finally q.stop()
  }

  it should "run streaming micro-batches through the batch SCD2 merge" in {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scd2stream").toString
    val store = new graft.load.Scd2Store(spark, s"$dir/store")
    val in = MemoryStream[(Int, String)]
    val cfgFor = (batchId: Long) => graft.load.MergeConfig(
      idFields = Seq("cid"), idType = "cust", entityType = "cust",
      source = "stream", processType = "delta", processId = s"b$batchId",
      userId = "t", processTime = "2024-03-01 00:00:00", isDelta = true)
    val q = StreamingEvents.scd2Sink(in.toDF().toDF("cid", "tier"),
      store, "cust", cfgFor, s"$dir/ckpt")
    try {
      in.addData((1, "gold"), (2, "silver"))
      q.processAllAvailable()
      in.addData((1, "plat"), (3, "bronze")) // update + insert
      q.processAllAvailable()
      val hist = spark.read.parquet(s"$dir/store/cust/history.parquet")
      hist.count() shouldBe 4 // 2 inserts + 1 update + 1 insert
      hist.filter(col("rectype") === "U").count() shouldBe 1
      val cur = store.readCurrent("cust")
      cur.count() shouldBe 3
      cur.filter(col("cid") === 1).select("tier").as[String]
        .head() shouldBe "plat"
    } finally q.stop()
  }

  it should "keep the running latest value per key with state" in {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventIn]
    val q = StreamingEvents.runningLatest(in.toDS())
      .writeStream.format("memory").queryName("latest_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(EventIn(1L, "view", ts("2024-01-01 10:00:00"), 5.0))
      q.processAllAvailable()
      // out-of-order older event must NOT override the newer state
      in.addData(EventIn(1L, "view", ts("2024-01-01 09:00:00"), 1.0))
      q.processAllAvailable()
      in.addData(EventIn(1L, "view", ts("2024-01-01 11:00:00"), 9.0))
      q.processAllAvailable()
      val last = spark.table("latest_out").as[Latest].collect()
        .filter(_.entity == 1L).maxBy(_.updates)
      last.value shouldBe 9.0
      last.updates shouldBe 3L
      val afterOld = spark.table("latest_out").as[Latest].collect()
        .find(_.updates == 2L).get
      afterOld.value shouldBe 5.0 // stale event ignored
    } finally q.stop()
  }

  it should "report stream-wide lift/gains identically to the batch kernel over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_slift").toString
    // scores 1..40 with positives concentrated at the top (score > 30)
    val mk = (r: Range) => r.map(i =>
      (i.toLong, i.toDouble, if (i > 30) 1 else 0))
    val b1 = mk(1 to 20)
    val b2 = mk(21 to 40)
    val edges = Array(10.0, 20.0, 30.0) // frozen quartile yardstick
    val in = MemoryStream[(Long, Double, Int)]
    val q = StreamingEvents.liftMonitorSink(
      in.toDF().toDF("id", "score", "label"), "score", "label", edges,
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("bucket"))
      .as[(Long, Long, Long, Double, Long, Option[Double], Option[Double])]
      .collect().toSeq
    val streamed = rows(StreamingEvents.liftMonitorView(spark, s"$tmp/stats"))
    // mergeability: the view == the same kernel over the one-pass
    // binned counts of everything ingested
    val union = (b1 ++ b2).toDF("id", "score", "label")
    val bucket = lit(edges.length + 2) -
      graft.dq.Dq.binOf(col("score"), edges)
    val batchCounts = union
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("n_pos"))
    streamed shouldBe rows(graft.ml.Eval.liftFromCounts(batchCounts))
    // hand-check: bucket 1 = scores 31..40, all 10 positives of 40 rows
    val top = streamed.head
    top._1 shouldBe 1L
    top._2 shouldBe 10L
    top._3 shouldBe 10L
    top._4 shouldBe 1.0  // pos_rate
    top._6.get shouldBe 1.0 // capture: top bucket catches ALL positives
    top._7.get shouldBe 4.0 // lift: 100% vs 25% base rate
    // replay safety: re-running batch 1 rewrites its partition in place
    StreamingEvents.liftMonitorBatch(b2.toDF("id", "score", "label"),
      1L, "score", "label", edges, s"$tmp/stats")
    rows(StreamingEvents.liftMonitorView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "audit stream-wide split balance identically to the batch audit over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ssplit").toString
    val b1 = Seq(("train", "en"), ("train", "en"), ("train", "de"),
      ("test", "en"))
    val b2 = Seq(("train", "en"), ("test", "de"), ("test", "de"),
      ("val", "en"))
    val in = MemoryStream[(String, String)]
    val q = StreamingEvents.splitBalanceSink(
      in.toDF().toDF("split", "stratum"), "split", "stratum",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("split"), col("stratum"))
      .as[(String, String, Long, Double)].collect().toSeq
    val streamed = rows(StreamingEvents.splitBalanceView(spark,
      s"$tmp/stats"))
    // parity: the q_x125 batch audit expression over the union
    val union = (b1 ++ b2).toDF("split", "stratum")
    val per = union.groupBy(col("split"), col("stratum"))
      .agg(count(lit(1)).as("n"))
    val tot = union.groupBy(col("split"))
      .agg(count(lit(1)).as("__t"))
    val batch = rows(per.join(tot, "split")
      .select(col("split"), col("stratum"), col("n"),
        (col("n").cast("double") / col("__t").cast("double"))
          .as("share")))
    streamed shouldBe batch
    // hand-check: train = 3 en + 1 de -> shares 0.75 / 0.25
    streamed.find(t => t._1 == "train" && t._2 == "en").get._4 shouldBe 0.75
    streamed.find(t => t._1 == "train" && t._2 == "de").get._4 shouldBe 0.25
    // replay safety: re-running batch 0 rewrites its partition in place
    StreamingEvents.splitBalanceBatch(b1.toDF("split", "stratum"), 0L,
      "split", "stratum", s"$tmp/stats")
    rows(StreamingEvents.splitBalanceView(spark,
      s"$tmp/stats")) shouldBe streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "monitor stream-wide key skew identically to the batch report over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sskew").toString
    val b1 = Seq.fill(6)("a") ++ Seq.fill(2)("b")
    val b2 = Seq.fill(1)("b") ++ Seq.fill(1)("c")
    val in = MemoryStream[String]
    val q = StreamingEvents.keySkewSink(
      in.toDF().toDF("k"), "k", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("rank"))
      .as[(Long, String, Long, Double, Double, Long, Long, Double)]
      .collect().toSeq
    val streamed = rows(StreamingEvents.keySkewView(spark,
      s"$tmp/stats", k = 3))
    val batch = rows(graft.dq.Stats.keySkewReport(
      (b1 ++ b2).map(Tuple1(_)).toDF("k"), col("k"), k = 3))
    streamed shouldBe batch
    // hand-check: a=6 of 10 rows over 3 keys -> skew 6/(10/3) = 1.8
    streamed.head._2 shouldBe "a"
    streamed.head._8 shouldBe 1.8
    // replay safety: re-running batch 1 rewrites its partition
    StreamingEvents.keySkewBatch(b2.map(Tuple1(_)).toDF("k"), 1L, "k",
      s"$tmp/stats")
    rows(StreamingEvents.keySkewView(spark, s"$tmp/stats", k = 3)) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "track stream-wide null rates against a frozen reference" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_snull").toString
    // reference: a is never null, b is 50% null
    val ref = Seq(("a", 0.0), ("b", 0.5)).toDF("column", "ref_rate")
    val b1: Seq[(Option[Long], Option[String])] =
      Seq((Some(1L), Some("x")), (Some(2L), None))
    val b2: Seq[(Option[Long], Option[String])] =
      Seq((Some(3L), None), (None, None))
    val in = MemoryStream[(Option[Long], Option[String])]
    val q = StreamingEvents.nullRateSink(
      in.toDF().toDF("a", "b"), Seq("a", "b"), s"$tmp/stats",
      s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def view() = StreamingEvents.nullRateView(spark, s"$tmp/stats", ref)
      .orderBy(col("column"))
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    val got = view()
    // union: 4 rows; a null 1/4, b null 3/4
    got shouldBe Seq(("a", 4L, 0.25, 0.0, 0.25),
      ("b", 4L, 0.75, 0.5, 0.25))
    // replay safety: re-running batch 1 rewrites its partition
    StreamingEvents.nullRateBatch(b2.toDF("a", "b"), 1L, Seq("a", "b"),
      s"$tmp/stats")
    view() shouldBe got
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a stream-wide UCB1 board identical to the batch snapshot over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sucb").toString
    val b1 = Seq(("a", 1), ("a", 1), ("a", 0), ("b", 1))
    val b2 = Seq(("a", 1), ("a", 1), ("a", 1), ("a", 0), ("b", 0))
    val in = MemoryStream[(String, Int)]
    val q = StreamingEvents.ucbSink(
      in.toDF().toDF("arm", "r"), "arm", "r", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("arm"))
      .as[(String, Long, Double, Double, Int)].collect().toSeq
    val streamed = rows(StreamingEvents.ucbView(spark, s"$tmp/stats"))
    val batch = rows(graft.dq.Stats.ucbSnapshot(
      (b1 ++ b2).toDF("arm", "r"), col("arm"), col("r")))
    streamed shouldBe batch
    streamed.head._2 shouldBe 7L // arm a: 7 pulls over both batches
    // replay safety
    StreamingEvents.ucbBatch(b2.toDF("arm", "r"), 1L, "arm", "r",
      s"$tmp/stats")
    rows(StreamingEvents.ucbView(spark, s"$tmp/stats")) shouldBe streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a stream-wide Welch test identical to the batch test over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_swelch").toString
    val b1 = Seq((0, 1.0), (0, 2.0), (1, 2.0), (1, 4.0))
    val b2 = Seq((0, 3.0), (1, 6.0), (1, 8.0))
    val in = MemoryStream[(Int, Double)]
    val q = StreamingEvents.welchSink(
      in.toDF().toDF("v", "x"), "v", "x", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Double, Double, Double, Double, Double, Double)]
      .collect().toSeq
    val streamed = rows(StreamingEvents.welchView(spark, s"$tmp/stats"))
    val batch = rows(graft.dq.Stats.welchT((b1 ++ b2).toDF("v", "x"),
      col("v"), col("x")))
    streamed shouldBe batch
    streamed.head._1 shouldBe 3L // arm0 = [1,2,3]
    streamed.head._3 shouldBe 2.0 // its mean
    // replay safety
    StreamingEvents.welchBatch(b2.toDF("v", "x"), 1L, "v", "x",
      s"$tmp/stats")
    rows(StreamingEvents.welchView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a stream-wide BH-FDR board identical to the batch step-up, admitting groups as they become testable" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sbh").toString
    def arm(g: String, v: Int, n: Int, c: Int) =
      Seq.fill(c)((g, v, 1)) ++ Seq.fill(n - c)((g, v, 0))
    // batch 1 gives group B only arm 0 — untestable until batch 2
    val b1 = arm("A", 0, 200, 20) ++ arm("A", 1, 200, 60) ++
      arm("B", 0, 100, 10)
    val b2 = arm("B", 1, 100, 12)
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingEvents.bhFdrSink(
      in.toDF().toDF("g", "v", "y"), Seq("g"), "v", "y",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // with only batch 1 ingested, group B has one arm -> untestable
    StreamingEvents.bhFdrBatch(b1.toDF("g", "v", "y"), 0L, Seq("g"),
      "v", "y", s"$tmp/stats_b1only")
    StreamingEvents.bhFdrView(spark, s"$tmp/stats_b1only", Seq("g"))
      .select("g").as[String].collect() shouldBe Array("A")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("rank"))
      .select("g", "p", "rank", "m", "significant")
      .as[(String, Double, Long, Long, Int)].collect().toSeq
    val streamed = rows(StreamingEvents.bhFdrView(spark,
      s"$tmp/stats", Seq("g")))
    val batch = rows(graft.dq.Stats.bhFdr((b1 ++ b2).toDF("g", "v", "y"),
      Seq("g"), col("v"), col("y")))
    streamed shouldBe batch
    streamed.map(_._1) shouldBe Seq("A", "B") // B admitted after merge
    streamed.head._5 shouldBe 1               // the planted A effect
    // replay safety
    StreamingEvents.bhFdrBatch(b2.toDF("g", "v", "y"), 1L, Seq("g"),
      "v", "y", s"$tmp/stats")
    rows(StreamingEvents.bhFdrView(spark, s"$tmp/stats",
      Seq("g"))) shouldBe streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "monitor stream-wide Benford digits identically to the batch test over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sbenford").toString
    val b1 = Seq(123.45, 150.0, 199.99, 950.0)
    val b2 = Seq(100.0, 250.0, 275.5, 0.004)
    val in = MemoryStream[Double]
    val q = StreamingEvents.benfordSink(
      in.toDF().toDF("v"), "v", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("digit"))
      .as[(Int, Long, Double, Double, Double, Double, Long, Long)]
      .collect().toSeq
    val streamed = rows(StreamingEvents.benfordView(spark, s"$tmp/stats"))
    val batch = rows(graft.dq.Dq.benfordTest(
      (b1 ++ b2).map(Tuple1(_)).toDF("v"), col("v")))
    streamed shouldBe batch
    streamed.map(_._2).sum shouldBe 7L // the sub-cent row is skipped
    streamed.head._8 shouldBe 1L       // and censused
    // replay safety: re-running batch 0 rewrites its partition
    StreamingEvents.benfordBatch(b1.map(Tuple1(_)).toDF("v"), 0L, "v",
      s"$tmp/stats")
    rows(StreamingEvents.benfordView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a stream-wide confusion scorecard identical to the batch suite over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sconf").toString
    val b1 = Seq((1, 1), (1, 1), (1, 0), (0, 0))
    val b2 = Seq((1, 1), (0, 0), (0, 1), (0, 1))
    val in = MemoryStream[(Int, Int)]
    val q = StreamingEvents.confusionSink(
      in.toDF().toDF("p", "y"), "p", "y", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Double, Double, Double, Double,
        Double, Double, Double)].collect().toSeq
    val streamed = rows(StreamingEvents.confusionView(spark,
      s"$tmp/stats"))
    val batch = rows(graft.ml.Eval.confusionSuite(
      (b1 ++ b2).toDF("p", "y"), col("p") === 1, col("y") === 1))
    streamed shouldBe batch
    streamed.head._1 shouldBe 3L // tp
    streamed.head._4 shouldBe 2L // fn
    // replay safety: re-running batch 1 rewrites its partition
    StreamingEvents.confusionBatch(b2.toDF("p", "y"), 1L, "p", "y",
      s"$tmp/stats")
    rows(StreamingEvents.confusionView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish an always-valid mSPRT over everything ingested, batch-identically and replay-safely" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_smsprt").toString
    // (segment, arm, converted): planted lift in segment A across batches
    val b1 = (1 to 40).map(i => ("A", i % 2, if (i % 2 == 1 && i % 3 != 0) 1 else if (i % 5 == 0) 1 else 0)) ++
      (1 to 20).map(i => ("B", i % 2, if (i % 7 == 0) 1 else 0))
    val b2 = (1 to 40).map(i => ("A", (i + 1) % 2, if (i % 4 == 0) 1 else 0)) ++
      (1 to 20).map(i => ("B", (i + 1) % 2, if (i % 6 == 0) 1 else 0))
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingEvents.msprtSink(
      in.toDF().toDF("g", "v", "y"), Seq("g"), "v", "y",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("g"))
      .as[(String, Long, Long, Long, Long, Option[Double],
        Option[Double], Option[Double], Option[Double])].collect().toSeq
    val streamed = rows(StreamingEvents.msprtView(spark,
      s"$tmp/stats", Seq("g")))
    val batch = rows(graft.dq.Stats.msprt((b1 ++ b2).toDF("g", "v", "y"),
      Seq("g"), col("v"), col("y")))
    streamed shouldBe batch
    streamed.map(_._1) shouldBe Seq("A", "B")
    // replay safety
    StreamingEvents.bhFdrBatch(b2.toDF("g", "v", "y"), 1L, Seq("g"),
      "v", "y", s"$tmp/stats")
    rows(StreamingEvents.msprtView(spark, s"$tmp/stats",
      Seq("g"))) shouldBe streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a pooled CMH test over ingested strata, batch-identically and replay-safely" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_scmh").toString
    val b1 = (1 to 10).map(i => ("s1", 0, if (i <= 2) 1 else 0)) ++
      (1 to 10).map(i => ("s1", 1, if (i <= 5) 1 else 0))
    val b2 = (1 to 20).map(i => ("s2", 0, if (i <= 4) 1 else 0)) ++
      (1 to 10).map(i => ("s2", 1, if (i <= 5) 1 else 0))
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingEvents.cmhSink(
      in.toDF().toDF("seg", "v", "y"), Seq("seg"), "v", "y",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Double, Double, Option[Double], Option[Double],
        Option[Double], Option[Double])].collect().toSeq
    val streamed = rows(StreamingEvents.cmhView(spark, s"$tmp/stats",
      Seq("seg")))
    val batch = rows(graft.dq.Stats.cmhTest(
      (b1 ++ b2).toDF("seg", "v", "y"), Seq("seg"), col("v"), col("y")))
    streamed shouldBe batch
    // the CompactionCmhSpec fixture arrived one stratum per batch
    streamed.head._1 shouldBe 2L
    streamed.head._3 shouldBe 6.5 +- 1e-9
    // replay safety
    StreamingEvents.bhFdrBatch(b2.toDF("seg", "v", "y"), 1L, Seq("seg"),
      "v", "y", s"$tmp/stats")
    rows(StreamingEvents.cmhView(spark, s"$tmp/stats",
      Seq("seg"))) shouldBe streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a stream-wide Cohen kappa identical to the batch operator over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sagree").toString
    // union = the LabelingSpec fixture: po 3/5, pe 0.52, kappa 1/6
    val b1 = Seq(("x", "x"), ("x", "y"), ("y", "y"))
    val b2 = Seq(("x", "x"), ("y", "x"))
    val in = MemoryStream[(String, String)]
    val q = StreamingEvents.agreementSink(
      in.toDF().toDF("la", "lb"), "la", "lb", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Double, Double, Option[Double])].collect().toSeq
    val streamed = rows(StreamingEvents.agreementView(spark,
      s"$tmp/stats"))
    val longForm = (b1 ++ b2).zipWithIndex.flatMap {
      case ((a, b), i) => Seq((i, "A", a), (i, "B", b))
    }.toDF("item", "rater", "label")
    val batch = rows(graft.ml.Labeling.cohenKappa(longForm, col("item"),
      col("rater"), col("label"), "A", "B"))
    streamed shouldBe batch
    streamed.head._1 shouldBe 5L
    streamed.head._2 shouldBe 3L
    streamed.head._5.get shouldBe 0.166667 +- 1e-9
    // replay safety: re-running batch 1 rewrites its own partition
    StreamingEvents.agreementBatch(b2.toDF("la", "lb"), 1L, "la", "lb",
      s"$tmp/stats")
    rows(StreamingEvents.agreementView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a stream-wide Krippendorff alpha identical to the batch operator over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_skrip").toString
    // u2's votes arrive ACROSS batches (cells must merge, not collide);
    // u3 has a single vote (excluded by definition, not an error)
    val b1 = Seq(("u1", "r1", "a"), ("u1", "r2", "a"), ("u2", "r1", "a"))
    val b2 = Seq(("u2", "r2", "b"), ("u2", "r3", "b"), ("u3", "r1", "a"))
    val in = MemoryStream[(String, String, String)]
    val q = StreamingEvents.krippendorffSink(
      in.toDF().toDF("item", "rater", "label"), "item", "rater", "label",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    val streamed = rows(StreamingEvents.krippendorffView(spark,
      s"$tmp/stats"))
    val batch = rows(graft.ml.Labeling.krippendorffAlpha(
      (b1 ++ b2).toDF("item", "rater", "label"),
      col("item"), col("rater"), col("label")))
    streamed shouldBe batch
    streamed.head._1 shouldBe 2L // u1, u2 pairable; u3 excluded
    streamed.head._2 shouldBe 5L // their pairable vote total
    // replay safety: re-running batch 1 rewrites its own partition
    StreamingEvents.krippendorffBatch(
      b2.toDF("item", "rater", "label"), 1L, "item", "rater", "label",
      s"$tmp/stats")
    rows(StreamingEvents.krippendorffView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish a stream-wide confident-learning census identical to the batch operator over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_scj").toString
    // class thresholds are GLOBAL means: batch 2's low-confidence
    // given-a example pulls t_a down, so a per-batch census would gate
    // batch 1 differently than the view must
    val b1 = Seq((1L, "a", "a", 0.9), (1L, "a", "b", 0.1),
      (2L, "a", "a", 0.4), (2L, "a", "b", 0.6),
      (3L, "b", "a", 0.2), (3L, "b", "b", 0.8))
    val b2 = Seq((4L, "a", "a", 0.5), (4L, "a", "b", 0.5),
      (5L, "b", "a", 0.7), (5L, "b", "b", 0.3))
    val in = MemoryStream[(Long, String, String, Double)]
    val q = StreamingEvents.confidentJointSink(
      in.toDF().toDF("id", "given", "cls", "p"), "id", "given", "cls",
      "p", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, Option[String], Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._2.getOrElse("")))
    val streamed = rows(StreamingEvents.confidentJointView(spark,
      s"$tmp/stats"))
    val batch = rows(graft.ml.Labeling.confidentJoint(
      (b1 ++ b2).toDF("id", "given", "cls", "p"),
      col("id"), col("given"), col("cls"), col("p")))
    streamed shouldBe batch
    streamed.map(_._3).sum shouldBe 5L // every example censused
    // replay safety: re-running batch 1 rewrites its own partition
    StreamingEvents.confidentJointBatch(
      b2.toDF("id", "given", "cls", "p"), 1L, "id", "given", "cls", "p",
      s"$tmp/stats")
    rows(StreamingEvents.confidentJointView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "audit stream-wide fairness identically to the batch report over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sfair").toString
    // group A selects 2/4 with both positives caught; group B selects
    // 1/4 catching neither positive — split so each batch sees both
    val b1 = Seq(("A", 1, 1), ("A", 1, 1), ("B", 0, 1), ("B", 1, 0))
    val b2 = Seq(("A", 0, 0), ("A", 0, 0), ("B", 0, 1), ("B", 0, 0))
    val in = MemoryStream[(String, Int, Int)]
    val q = StreamingEvents.fairnessSink(
      in.toDF().toDF("g", "p", "y"), "g", "p", "y",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("group"))
      .as[(String, Long, Long, Double, Double, Option[Double],
        Option[Double], Double, Option[Double], Option[Double],
        Option[Double])]
      .collect().toSeq
    val streamed = rows(StreamingEvents.fairnessView(spark,
      s"$tmp/stats"))
    val batch = rows(graft.ml.Eval.fairnessReport(
      (b1 ++ b2).toDF("g", "p", "y"), "g", col("p"), col("y")))
    streamed shouldBe batch
    // hand-check: A sel 0.5 tpr 1.0; B sel 0.25 tpr 0.0; max sel 0.5
    val a = streamed.head; val b = streamed(1)
    a._4 shouldBe 0.5; a._6.get shouldBe 1.0
    b._4 shouldBe 0.25; b._6.get shouldBe 0.0
    b._9.get shouldBe 0.5 // di_ratio = 0.25 / 0.5
    // replay safety: re-running batch 1 rewrites its own partition
    StreamingEvents.fairnessBatch(b2.toDF("g", "p", "y"), 1L,
      "g", "p", "y", s"$tmp/stats")
    rows(StreamingEvents.fairnessView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "publish stream-wide conformal thresholds identically to the batch table over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sconf").toString
    val b1 = (1 to 5).map(_.toDouble)
    val b2 = (6 to 9).map(_.toDouble) :+ 5.0 // duplicate score across batches
    val in = MemoryStream[Double]
    val q = StreamingEvents.conformalSink(
      in.toDF().toDF("s"), "s", s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("alpha"))
      .as[(Double, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    val alphas = Seq(0.05, 0.2)
    val streamed = rows(StreamingEvents.conformalView(spark,
      s"$tmp/stats", alphas))
    val batch = rows(graft.ml.Eval.conformalThresholds(spark,
      (b1 ++ b2).toDF("s"), col("s"), alphas))
    streamed shouldBe batch
    // n = 10: alpha .2 -> k = ceil(11 * .8) = 9 -> 9th smallest = 8.0
    val a2 = streamed.find(_._1 == 0.2).get
    a2._2 shouldBe 10L
    a2._3 shouldBe 9L
    a2._4 shouldBe Some(8.0)
    // replay safety: re-running batch 1 rewrites its own partition
    StreamingEvents.conformalBatch(b2.toDF("s"), 1L, "s", s"$tmp/stats")
    rows(StreamingEvents.conformalView(spark, s"$tmp/stats",
      alphas)) shouldBe streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "track the stream-wide script mix identically to the batch census over the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_smix").toString
    val b1 = Seq((1L, "hello world"), (2L, "привет мир"))
    val b2 = Seq((3L, "你好"), (4L, "abc 123"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingEvents.scriptMixSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/stats", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Long, Long, Long, Long, Long,
        Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    val streamed = rows(StreamingEvents.scriptMixView(spark,
      s"$tmp/stats"))
    // mergeability: the view == per-doc census of everything ingested,
    // reduced through the same sums
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val batchRow = rows {
      val prof = graft.text.TextStats.scriptProfile(all, "doc_id", "text")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_latin")).as("n_latin"),
          sum(col("n_cyrillic")).as("n_cyrillic"),
          sum(col("n_cjk")).as("n_cjk"),
          sum(col("n_arabic")).as("n_arabic"),
          sum(col("n_digit")).as("n_digit"),
          sum(col("n_space")).as("n_space"),
          sum(col("n_chars")).as("n_chars"))
      val t = col("n_chars").cast("double")
      prof.select(col("n_docs"), col("n_latin"), col("n_cyrillic"),
        col("n_cjk"), col("n_arabic"), col("n_digit"), col("n_space"),
        col("n_chars"),
        graft.functions.q6(when(col("n_chars") > 0,
          col("n_latin").cast("double") / t)).as("latin_share"),
        graft.functions.q6(when(col("n_chars") > 0,
          col("n_cyrillic").cast("double") / t)).as("cyrillic_share"),
        graft.functions.q6(when(col("n_chars") > 0,
          col("n_cjk").cast("double") / t)).as("cjk_share"))
    }
    streamed shouldBe batchRow
    streamed.head._1 shouldBe 4L // docs
    streamed.head._4 shouldBe 2L // two CJK codepoints
    // replay safety
    StreamingEvents.scriptMixBatch(b2.toDF("doc_id", "text"), 1L,
      "doc_id", "text", s"$tmp/stats")
    rows(StreamingEvents.scriptMixView(spark, s"$tmp/stats")) shouldBe
      streamed
    graft.util.Caches.releaseAll(spark)
  }
  it should "publish a stream-wide boilerplate report identical to X158 over the union, replay-safely" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sboil").toString
    val b1 = Seq((1L, "unique one\ncommon footer"),
      (2L, "unique two\ncommon footer"))
    val b2 = Seq((3L, "unique three\ncommon footer\nother line"),
      (4L, "   \n"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingEvents.lineIndexSink(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/index", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    val streamed = rows(StreamingEvents.boilerplateView(spark,
      s"$tmp/index", minDocs = 2))
    val batch = rows(graft.text.Dedup.boilerplateShare(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", minDocs = 2))
    streamed shouldBe batch
    streamed.map(_._1) shouldBe Seq(1L, 2L, 3L) // doc 4 has no content
    streamed.head._4 shouldBe 0.5 // doc 1: 1 of 2 lines is shared
    // replay safety: re-running batch 1 rewrites its partition
    StreamingEvents.lineIndexBatch(b2.toDF("doc_id", "text"), 1L,
      "doc_id", "text", s"$tmp/index")
    rows(StreamingEvents.boilerplateView(spark, s"$tmp/index",
      minDocs = 2)) shouldBe streamed
    graft.util.Caches.releaseAll(spark)
  }

  it should "merge streamed AMS F2 cells into the one-pass sketch of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sams").toString
    def batchRows(seed: Int): Seq[(String, String)] =
      (1 to 15).map(i => ("en",
        if (i % 3 == 0) "hot hot again" else s"w${seed}_$i filler"))
    val in = MemoryStream[(String, String)]
    val q = StreamingEvents.amsF2Sink(in.toDF().toDF("lang", "text"),
      "lang", "text", counters = 9, s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    val all = (1 to 2).flatMap(batchRows).toDF("lang", "text")
    val toks = all.select(col("lang"),
      explode(graft.text.Dedup.words(col("text"))).as("tok"))
    val onePass = graft.sketch.Sketches.amsF2Cells(toks, "lang", "tok",
      counters = 9).orderBy("lang", "j")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq
    def merged() = spark.read.parquet(s"$tmp/cells")
      .groupBy(col("lang"), col("j"))
      .agg(sum(col("counter")).as("counter"))
      .orderBy("lang", "j")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq
    merged() shouldBe onePass
    // the view's estimate equals the batch estimator over the union
    val batchEst = graft.sketch.Sketches.amsF2EstimateFromCells(
      graft.sketch.Sketches.amsF2Cells(toks, "lang", "tok", 9), "lang")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq
    val viewEst = StreamingEvents.amsF2View(spark, s"$tmp/cells", "lang")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq
    viewEst shouldBe batchEst
    // replay safety: rewriting batch 1's partition in place is a no-op
    StreamingEvents.amsF2Batch(batchRows(2).toDF("lang", "text"), 1L,
      "lang", "text", 9, s"$tmp/cells")
    merged() shouldBe onePass
  }

  it should "solve the streamed Bradley-Terry leaderboard identically to the batch kernel" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sbt").toString
    def batchVotes(seed: Int): Seq[(String, String)] =
      (1 to 30).map { i =>
        val pair = (i + seed) % 3 match {
          case 0 => ("A", "B"); case 1 => ("A", "C"); case _ => ("B", "C")
        }
        if (i % 5 == 0) pair.swap else pair // minority upsets
      }
    val in = MemoryStream[(String, String)]
    val q = StreamingEvents.bradleyTerrySink(
      in.toDF().toDF("winner", "loser"), "winner", "loser",
      s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchVotes(1): _*); q.processAllAvailable()
      in.addData(batchVotes(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("item")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq
    val batch = rows(graft.ml.Preference.bradleyTerry(
      (1 to 2).flatMap(batchVotes).toDF("winner", "loser"),
      col("winner"), col("loser")))
    val view = rows(StreamingEvents.bradleyTerryView(spark,
      s"$tmp/cells"))
    view shouldBe batch
    // replay safety: rewriting batch 1's partition leaves the
    // leaderboard identical
    StreamingEvents.bradleyTerryBatch(
      batchVotes(2).toDF("winner", "loser"), 1L, "winner", "loser",
      s"$tmp/cells")
    rows(StreamingEvents.bradleyTerryView(spark, s"$tmp/cells")) shouldBe
      view
  }

  it should "merge streamed Hosmer-Lemeshow fixed-bin cells into the batch test of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_shl").toString
    def batchRows(seed: Int): Seq[(Double, Int)] =
      (1 to 40).map { i =>
        val p = ((i * 7 + seed * 3) % 20) / 20.0 + 0.024
        (math.min(p, 1.0), if ((i + seed) % 3 == 0) 1 else 0)
      }
    val in = MemoryStream[(Double, Int)]
    val q = StreamingEvents.hosmerLemeshowSink(
      in.toDF().toDF("p", "y"), "p", "y", buckets = 5,
      s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getDouble(5), r.getInt(6))).toSeq
    val union = (1 to 2).flatMap(batchRows).toDF("p", "y")
    val batch = rows(graft.ml.Eval.hosmerLemeshowFixedBins(union,
      col("p"), col("y"), buckets = 5))
    val view = rows(StreamingEvents.hosmerLemeshowView(spark,
      s"$tmp/cells", buckets = 5))
    view shouldBe batch
    // replay safety: rewriting batch 1's partition in place is a no-op
    StreamingEvents.hosmerLemeshowBatch(batchRows(2).toDF("p", "y"),
      1L, "p", "y", 5, s"$tmp/cells")
    rows(StreamingEvents.hosmerLemeshowView(spark, s"$tmp/cells",
      5)) shouldBe view
  }

  it should "merge streamed Spiegelhalter moments into the batch z of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ssz").toString
    def batchRows(seed: Int): Seq[(Double, Int)] =
      (1 to 35).map { i =>
        val p = ((i * 11 + seed * 5) % 18) / 18.0 + 0.027
        (math.min(p, 1.0), if ((i * seed) % 4 == 0) 1 else 0)
      }
    val in = MemoryStream[(Double, Int)]
    val q = StreamingEvents.spiegelhalterSink(in.toDF().toDF("p", "y"),
      "p", "y", s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def row(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).head
    val union = (1 to 2).flatMap(batchRows).toDF("p", "y")
    val batch = row(graft.ml.Eval.spiegelhalterZ(union, col("p"),
      col("y")))
    row(StreamingEvents.spiegelhalterView(spark,
      s"$tmp/cells")) shouldBe batch
    // replay safety
    StreamingEvents.spiegelhalterBatch(batchRows(2).toDF("p", "y"),
      1L, "p", "y", s"$tmp/cells")
    row(StreamingEvents.spiegelhalterView(spark,
      s"$tmp/cells")) shouldBe batch
  }

  it should "merge streamed Jonckheere value cells into the batch trend test of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sjt").toString
    val gs = Seq(0L, 1L, 2L)
    def batchRows(seed: Int): Seq[(Long, Double)] =
      (1 to 45).map { i =>
        val g = (i % 3).toLong
        (g, g * 10.0 + ((i * 13 + seed * 7) % 9).toDouble)
      }
    val in = MemoryStream[(Long, Double)]
    val q = StreamingEvents.jonckheereSink(in.toDF().toDF("g", "v"),
      "g", "v", gs, s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def row(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).head
    val union = (1 to 2).flatMap(batchRows).toDF("g", "v")
    val batch = row(graft.ml.RankTests.jonckheereTerpstra(union,
      col("g"), col("v")))
    row(StreamingEvents.jonckheereView(spark, s"$tmp/cells",
      gs)) shouldBe batch
    // replay safety
    StreamingEvents.jonckheereBatch(batchRows(2).toDF("g", "v"), 1L,
      "g", "v", gs, s"$tmp/cells")
    row(StreamingEvents.jonckheereView(spark, s"$tmp/cells",
      gs)) shouldBe batch
    // an undeclared group level fails loud instead of widening cells
    an[Exception] should be thrownBy
      StreamingEvents.jonckheereBatch(
        Seq((5L, 1.0)).toDF("g", "v"), 9L, "g", "v", gs, s"$tmp/cells")
    graft.util.Caches.releaseAll(spark)
  }

  it should "feed KS, Wasserstein and Anderson-Darling views from ONE value-cell store, batch-identically and replay-safely" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_svc").toString
    // a frozen reference and a drifting current stream (level shift +
    // a planted far-tail value so AD has something KS undersees)
    val reference = (1 to 60).map(i => (i % 12).toDouble).toDF("v")
    def batchRows(seed: Int): Seq[Double] =
      (1 to 40).map(i => ((i * 7 + seed * 3) % 12).toDouble + 0.5) :+
        (seed * 100.0)
    val in = MemoryStream[Double]
    val q = StreamingEvents.valueCellSink(in.toDF().toDF("v"), "v",
      s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    val union = (1 to 2).flatMap(batchRows).toDF("v")
    def one(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).head
    val ksB = one(graft.dq.Dq.ksDrift(reference, union, "v"))
    val w1B = one(graft.dq.Dq.wassersteinDrift(reference, union, "v"))
    val adB = one(graft.dq.Dq.andersonDarlingDrift(reference, union,
      "v"))
    val cvB = one(graft.dq.Dq.cramerVonMisesDrift(reference, union,
      "v"))
    def five(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).head
    val kuB = five(graft.dq.Dq.kuiperDrift(reference, union, "v"))
    val jsB = one(graft.dq.Dq.jsdDrift(reference, union, "v"))
    one(StreamingEvents.ksDriftView(spark, s"$tmp/cells", reference,
      "v")) shouldBe ksB
    one(StreamingEvents.wassersteinView(spark, s"$tmp/cells",
      reference, "v")) shouldBe w1B
    one(StreamingEvents.andersonDarlingView(spark, s"$tmp/cells",
      reference, "v")) shouldBe adB
    one(StreamingEvents.cramerVonMisesView(spark, s"$tmp/cells",
      reference, "v")) shouldBe cvB
    five(StreamingEvents.kuiperView(spark, s"$tmp/cells",
      reference, "v")) shouldBe kuB
    one(StreamingEvents.jsdView(spark, s"$tmp/cells",
      reference, "v")) shouldBe jsB
    // PSI (the seventh view off the same store): frozen reference
    // quantile edges, cell counts binned like rows
    val refP = (1 to 60).map(i => ((i % 12).toDouble, i.toLong))
      .toDF("v", "id")
    val unionId = (1 to 2).flatMap(batchRows).zipWithIndex
      .map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
    def psiRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("bin")).collect().map(r => (r.getInt(0),
        r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).toSeq
    val psiB = psiRows(graft.dq.Dq.psiDrift(refP, unionId, "v", "id"))
    psiRows(StreamingEvents.psiView(spark, s"$tmp/cells", refP,
      "v", "id")) shouldBe psiB
    // replay safety: re-writing a batch's cells changes nothing
    StreamingEvents.valueCellBatch(batchRows(2).toDF("v"), 1L, "v",
      s"$tmp/cells")
    one(StreamingEvents.ksDriftView(spark, s"$tmp/cells", reference,
      "v")) shouldBe ksB
    one(StreamingEvents.wassersteinView(spark, s"$tmp/cells",
      reference, "v")) shouldBe w1B
    one(StreamingEvents.andersonDarlingView(spark, s"$tmp/cells",
      reference, "v")) shouldBe adB
    one(StreamingEvents.cramerVonMisesView(spark, s"$tmp/cells",
      reference, "v")) shouldBe cvB
    five(StreamingEvents.kuiperView(spark, s"$tmp/cells",
      reference, "v")) shouldBe kuB
    one(StreamingEvents.jsdView(spark, s"$tmp/cells",
      reference, "v")) shouldBe jsB
    psiRows(StreamingEvents.psiView(spark, s"$tmp/cells", refP,
      "v", "id")) shouldBe psiB
    graft.util.Caches.releaseAll(spark)
  }

  it should "merge streamed Friedman treatment cells into the batch test of the union, blocks arriving whole" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sfr").toString
    val ts = Seq("a", "b", "c")
    // complete blocks per batch (the block-grain ingest contract),
    // with ties inside some blocks to exercise the midrank path
    def batchRows(seed: Int): Seq[(Long, String, Double)] =
      (1 to 8).flatMap { b =>
        val blk = (seed * 100 + b).toLong
        ts.zipWithIndex.map { case (t, j) =>
          (blk, t, ((b * 5 + j * (seed + j) + seed) % 7).toDouble)
        }
      }
    val in = MemoryStream[(Long, String, Double)]
    val q = StreamingEvents.friedmanSink(in.toDF().toDF("b", "t", "v"),
      "b", "t", "v", ts, s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def one(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).head
    val union = (1 to 2).flatMap(batchRows).toDF("b", "t", "v")
    val batch = one(graft.ml.RankTests.friedman(union, col("b"),
      col("t"), col("v")))
    one(StreamingEvents.friedmanView(spark, s"$tmp/cells",
      ts)) shouldBe batch
    // replay safety
    StreamingEvents.friedmanBatch(batchRows(2).toDF("b", "t", "v"),
      1L, "b", "t", "v", ts, s"$tmp/cells")
    one(StreamingEvents.friedmanView(spark, s"$tmp/cells",
      ts)) shouldBe batch
    // an undeclared treatment fails loud
    an[Exception] should be thrownBy
      StreamingEvents.friedmanBatch(
        Seq((1L, "zz", 1.0), (1L, "a", 2.0), (1L, "b", 3.0))
          .toDF("b", "t", "v"), 9L, "b", "t", "v", ts, s"$tmp/cells")
    // a block arriving split (missing treatment c) fails loud
    an[Exception] should be thrownBy
      StreamingEvents.friedmanBatch(
        Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("b", "t", "v"),
        9L, "b", "t", "v", ts, s"$tmp/cells")
    // a view declared NARROWER than the store fails loud too: the
    // stored ranks were assigned among 3 treatments — dropping c's
    // cells would not be a Friedman statistic of anything
    an[Exception] should be thrownBy
      StreamingEvents.friedmanView(spark, s"$tmp/cells",
        Seq("a", "b")).collect()
    // CROSS-batch redelivery: the same blocks arriving whole in a
    // SECOND batch pass every within-batch guard but would double-
    // count the treatment cells — the block ledger makes the view
    // fail loud instead of silently merging an extra block copy
    StreamingEvents.friedmanBatch(batchRows(2).toDF("b", "t", "v"),
      5L, "b", "t", "v", ts, s"$tmp/cells")
    an[Exception] should be thrownBy
      StreamingEvents.friedmanView(spark, s"$tmp/cells", ts)
    graft.util.Caches.releaseAll(spark)
  }

  it should "merge streamed Cochran-Armitage level counts into the batch trend test of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sca").toString
    val doses = Seq(0L, 1L, 2L)
    def batchRows(seed: Int): Seq[(Long, Long)] =
      (1 to 60).map { i =>
        val g = (i % 3).toLong
        (g, if ((i * (seed + 2)) % 10 < 2 + g * 2) 1L else 0L)
      }
    val in = MemoryStream[(Long, Long)]
    val q = StreamingEvents.cochranArmitageSink(
      in.toDF().toDF("g", "y"), "g", "y", doses, s"$tmp/cells",
      s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def one(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).head
    val union = (1 to 2).flatMap(batchRows).toDF("g", "y")
    val batch = one(graft.dq.Stats.cochranArmitage(union, col("g"),
      col("y"), doses))
    one(StreamingEvents.cochranArmitageView(spark,
      s"$tmp/cells")) shouldBe batch
    // replay safety
    StreamingEvents.cochranArmitageBatch(batchRows(2).toDF("g", "y"),
      1L, "g", "y", doses, s"$tmp/cells")
    one(StreamingEvents.cochranArmitageView(spark,
      s"$tmp/cells")) shouldBe batch
    // undeclared level and non-binary outcome fail loud
    an[Exception] should be thrownBy
      StreamingEvents.cochranArmitageBatch(Seq((9L, 1L)).toDF("g", "y"),
        9L, "g", "y", doses, s"$tmp/cells")
    an[Exception] should be thrownBy
      StreamingEvents.cochranArmitageBatch(Seq((1L, 5L)).toDF("g", "y"),
        9L, "g", "y", doses, s"$tmp/cells")
    graft.util.Caches.releaseAll(spark)
  }

  it should "merge streamed Kendall tau-b cells into the batch test of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_skt").toString
    def batchRows(seed: Int): Seq[(String, Long, Long)] =
      (1 to 50).map { i =>
        val g = s"g${i % 2}"
        (g, (i % 9).toLong, ((i * (3 + seed) + seed) % 11).toLong)
      }
    val in = MemoryStream[(String, Long, Long)]
    val q = StreamingEvents.kendallTauSink(
      in.toDF().toDF("g", "x", "y"), "g", "x", "y", s"$tmp/cells",
      s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("g")).collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    val union = (1 to 2).flatMap(batchRows).toDF("g", "x", "y")
    val batch = rows(graft.ml.RankTests.kendallTau(union, col("g"),
      col("x"), col("y")))
    rows(StreamingEvents.kendallTauView(spark,
      s"$tmp/cells")) shouldBe batch
    // replay safety
    StreamingEvents.kendallTauBatch(batchRows(2).toDF("g", "x", "y"),
      1L, "g", "x", "y", s"$tmp/cells")
    rows(StreamingEvents.kendallTauView(spark,
      s"$tmp/cells")) shouldBe batch
    // the eager cell cap guards the view's quadratic join too
    an[Exception] should be thrownBy
      StreamingEvents.kendallTauView(spark, s"$tmp/cells",
        maxCellsPerGroup = 3).collect()
    graft.util.Caches.releaseAll(spark)
  }

  it should "tombstone-delete docs from the dedup index, verdict-identical to an index without them" in {
    // X190: a takedown must stop verdicting future batches as dups of
    // the removed docs — tombstones anti-joined by the canonical read,
    // applied + cleared by compaction, resurrection fails loud until
    import graft.text.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_sddel").toString
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id"), col("text"))
    val dying = corpus.filter(col("doc_id") % 5 === 1)
    val idx = s"$tmp/index"
    Dedup.buildDedupIndex(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text").write.parquet(s"$idx/batch_id=0")
    Dedup.buildDedupIndex(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text").write.parquet(s"$idx/batch_id=1")
    // the probe batch clones exactly the docs we are about to delete
    val probe = dying.select((col("doc_id") + 200000).as("doc_id"),
      col("text"))
    def verdicts(index: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalDedupIndexed(index, probe, "doc_id", "text",
        3, 16, 4, 8).collect()
        .map(r => (r.getLong(0), r.getString(4))).sorted.toSeq
    // before the takedown every clone is an exact dup of its original
    val before = verdicts(Dedup.readDedupIndex(spark, idx))
    before.nonEmpty shouldBe true
    all(before.map(_._2)) shouldBe "exact"
    Dedup.deleteFromDedupIndex(spark, idx,
      dying.select(col("doc_id")), "doc_id", batchId = 2L)
    // the tombstone-aware read equals a fresh index built WITHOUT them
    val want = verdicts(Dedup.buildDedupIndex(
      corpus.filter(col("doc_id") % 5 =!= 1), "doc_id", "text"))
    want should not be before
    verdicts(Dedup.readDedupIndex(spark, idx)) shouldBe want
    // replay idempotence: the same delete batch re-applied
    Dedup.deleteFromDedupIndex(spark, idx,
      dying.select(col("doc_id")), "doc_id", batchId = 2L)
    verdicts(Dedup.readDedupIndex(spark, idx)) shouldBe want
    // the sink fails loud on resurrecting a tombstoned id pre-compaction
    intercept[IllegalArgumentException] {
      StreamingEvents.dedupBatch(dying.limit(1), 3L, "doc_id", "text",
        idx, s"$tmp/verdicts", 3, 16, 4, 8)
    }
    // compaction applies + clears the ledger, verdicts unchanged
    Dedup.compactDedupIndex(spark, idx) shouldBe -1L
    verdicts(Dedup.readDedupIndex(spark, idx)) shouldBe want
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"${idx}__tombstones")) shouldBe false
    // the loop continues: a previously deleted doc may return now (the
    // sink's dedup-on-ingest appends the "new" ones and, correctly,
    // not those that near-match a surviving doc) — so no clone can
    // verdict "new" anymore
    want.count(_._2 == "new") should be > 0 // the takedown orphaned some
    StreamingEvents.dedupBatch(dying, 4L, "doc_id", "text", idx,
      s"$tmp/verdicts", 3, 16, 4, 8)
    verdicts(Dedup.readDedupIndex(spark, idx))
      .count(_._2 == "new") shouldBe 0
    graft.util.Caches.releaseAll(spark)
  }

  it should "merge streamed event-type cells into the batch W22 entropy of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sw22").toString
    // per-batch type mixes that differ (entity 1 diversifies in batch
    // 2; entity 3 stays single-purpose; NULL types must drop)
    def batchRows(seed: Int): Seq[(Long, String)] =
      (1 to 40).map { i =>
        val u = (i % 3 + 1).toLong
        val t = if (u == 3) "only"
          else s"t${(i * seed) % (2 + seed)}"
        (u, if (i % 13 == 0 && seed == 1) null else t)
      }
    val in = MemoryStream[(Long, String)]
    val q = StreamingEvents.eventTypeCellSink(
      in.toDF().toDF("user_id", "event_type"), s"$tmp/cells",
      s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("user_id")).collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    val union = (1 to 2).flatMap(batchRows)
      .toDF("user_id", "event_type")
    val batch = rows(graft.events.EventFeatures.eventTypeEntropy(union))
    batch.nonEmpty shouldBe true
    // the single-purpose entity pins the H = 0 / NULL-norm edge
    batch.find(_._1 == 3L).get._4 shouldBe Some(0.0)
    batch.find(_._1 == 3L).get._5 shouldBe None
    rows(StreamingEvents.eventTypeEntropyView(spark,
      s"$tmp/cells")) shouldBe batch
    // replay safety: re-writing a batch's cells changes nothing
    StreamingEvents.eventTypeCellBatch(
      batchRows(2).toDF("user_id", "event_type"), 1L, s"$tmp/cells")
    rows(StreamingEvents.eventTypeEntropyView(spark,
      s"$tmp/cells")) shouldBe batch
    graft.util.Caches.releaseAll(spark)
  }

  it should "merge streamed null-rate cells into the batch D33 drift test of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_snr").toString
    val cols = Seq("a", "b")
    // per-column null patterns that differ by batch AND from the
    // frozen reference (b's null rate triples in the stream)
    def batchRows(seed: Int): Seq[(Option[Long], Option[String])] =
      (1 to 50).map { i =>
        (if ((i + seed) % 10 == 0) None else Some(i.toLong),
          if ((i * seed) % 5 == 0) None else Some(s"v$i"))
      }
    val reference = (1 to 80).map { i =>
      (if (i % 20 == 0) None else Some(i.toLong),
        if (i % 25 == 0) None else Some(s"r$i"))
    }.toDF("a", "b")
    val in = MemoryStream[(Option[Long], Option[String])]
    val q = StreamingEvents.nullRateCellSink(in.toDF().toDF("a", "b"),
      cols, s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(batchRows(1): _*); q.processAllAvailable()
      in.addData(batchRows(2): _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("column")).collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(8)) None else Some(r.getDouble(8)),
        if (r.isNullAt(9)) None else Some(r.getDouble(9)))).toSeq
    val union = (1 to 2).flatMap(batchRows).toDF("a", "b")
    val batch = rows(graft.dq.Dq.nullRateDriftTest(reference, union,
      cols))
    rows(StreamingEvents.nullRateDriftView(spark, s"$tmp/cells",
      reference, cols)) shouldBe batch
    // replay safety: re-writing a batch's cells changes nothing
    StreamingEvents.nullRateCellBatch(batchRows(2).toDF("a", "b"), 1L,
      cols, s"$tmp/cells")
    rows(StreamingEvents.nullRateDriftView(spark, s"$tmp/cells",
      reference, cols)) shouldBe batch
    // a declared column missing from the stream fails loud
    an[Exception] should be thrownBy
      StreamingEvents.nullRateCellBatch(
        Seq(1L).toDF("a"), 9L, cols, s"$tmp/cells")
    // a view declared NARROWER than the store fails loud (stored
    // column not in the declared list), and wider fails loud too
    an[Exception] should be thrownBy
      StreamingEvents.nullRateDriftView(spark, s"$tmp/cells",
        reference, Seq("a"))
    an[Exception] should be thrownBy
      StreamingEvents.nullRateDriftView(spark, s"$tmp/cells",
        reference, Seq("a", "b", "zz"))
    graft.util.Caches.releaseAll(spark)
  }

  it should "merge streamed TWA day/carry cells into the batch LOCF time-weighted average of the union" in {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_stwa").toString
    // entities exercising every cross-batch semantic: e1 spans days
    // with an in-batch same-ts tie; e2 carries a pre-window value IN;
    // e3 appears only mid-stream; e4 stops early (open carry to the
    // window end); e5 has an event past the window end (census only);
    // one NULL value drops like the batch kernel
    val b1: Seq[(Long, java.sql.Timestamp, Option[Double])] = Seq(
      (1L, ts("2024-01-01 06:00:00"), Some(2.0)),
      (1L, ts("2024-01-01 06:00:00"), Some(3.0)),   // tie: 3.0 holds
      (1L, ts("2024-01-02 12:00:00"), Some(5.5)),
      (2L, ts("2023-12-30 00:00:00"), Some(10.0)),  // pre-window LOCF
      (2L, ts("2023-12-31 18:00:00"), Some(20.0)),  // carried into Jan 1
      (4L, ts("2024-01-01 00:30:00"), Some(7.25)),  // open to window end
      (5L, ts("2024-01-01 09:00:00"), Some(1.0)),
      (5L, ts("2024-01-02 09:00:00"), None))        // NULL drops
    val b2: Seq[(Long, java.sql.Timestamp, Option[Double])] = Seq(
      (1L, ts("2024-01-03 00:00:00"), Some(4.0)),
      (2L, ts("2024-01-02 06:00:00"), Some(30.0)),
      (3L, ts("2024-01-03 12:00:00"), Some(100.0)), // new entity
      (5L, ts("2024-01-03 18:00:00"), Some(2.0)),
      (5L, ts("2024-01-05 00:00:00"), Some(9.0)))   // past end: census only
    val in = MemoryStream[(Long, java.sql.Timestamp, Option[Double])]
    val q = StreamingEvents.twaCellSink(in.toDF().toDF("k", "t", "v"),
      "k", "t", "v", s"$tmp/cells", s"$tmp/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val (ws, we) = ("2024-01-01 00:00:00", "2024-01-04 00:00:00")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("k")).collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    val union = (b1 ++ b2).toDF("k", "t", "v")
    val batch = rows(graft.events.EventFeatures.timeWeightedAverage(
      union, "k", col("t"), col("v"), ws, we))
    batch.map(_._1) shouldBe Seq(1L, 2L, 3L, 4L, 5L)
    rows(StreamingEvents.twaView(spark, s"$tmp/cells", "k", ws,
      we)) shouldBe batch
    // a different day-aligned window over the SAME store also matches
    val (ws2, we2) = ("2024-01-02 00:00:00", "2024-01-03 00:00:00")
    rows(StreamingEvents.twaView(spark, s"$tmp/cells", "k", ws2,
      we2)) shouldBe rows(graft.events.EventFeatures.timeWeightedAverage(
      union, "k", col("t"), col("v"), ws2, we2))
    // replay safety: re-writing the last batch changes nothing
    StreamingEvents.twaCellBatch(b2.toDF("k", "t", "v"), 1L, "k", "t",
      "v", s"$tmp/cells")
    rows(StreamingEvents.twaView(spark, s"$tmp/cells", "k", ws,
      we)) shouldBe batch
    // cross-batch out-of-order (or duplicate-timestamp) delivery
    // fails loud: e1's "new" event is not after its batch-2 carry
    an[Exception] should be thrownBy
      StreamingEvents.twaCellBatch(
        Seq((1L, ts("2024-01-03 00:00:00"), Some(8.0)))
          .toDF("k", "t", "v"), 9L, "k", "t", "v", s"$tmp/cells")
    // a non-day-aligned window fails loud (the store is day-grain)
    an[Exception] should be thrownBy
      StreamingEvents.twaView(spark, s"$tmp/cells", "k",
        "2024-01-01 00:00:00", "2024-01-04 12:00:00")
    // out-of-grid values fail loud instead of silently skewing twa
    an[Exception] should be thrownBy
      StreamingEvents.twaCellBatch(
        Seq((7L, ts("2024-01-06 00:00:00"), Some(1e13)))
          .toDF("k", "t", "v"), 9L, "k", "t", "v", s"$tmp/cells")
    graft.util.Caches.releaseAll(spark)
  }

  /** Starts `sink` on a parquet file source and feeds it `batches`, each
    * as one new file and one micro-batch, waiting for each with
    * `processAllAvailable`. Every batch is staged outside the source
    * directory and moved in, so the source never lists a half-written
    * file. */
  private def streamFiles(batches: Seq[DataFrame])(
      sink: DataFrame => StreamingQuery): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val src = Files.createTempDirectory("graft_src")
    val stage = Files.createTempDirectory("graft_stage")
    def feed(df: DataFrame, i: Int): Unit = {
      val out = stage.resolve(s"b$i")
      df.coalesce(1).write.parquet(out.toString)
      out.toFile.listFiles().filter(_.getName.startsWith("part-"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"b$i-${f.getName}"),
          StandardCopyOption.ATOMIC_MOVE))
    }
    feed(batches.head, 0)
    val q = sink(spark.readStream.schema(batches.head.schema)
      .parquet(src.toString))
    try {
      q.processAllAvailable()
      batches.zipWithIndex.tail.foreach { case (b, i) =>
        feed(b, i)
        q.processAllAvailable()
      }
      q.recentProgress.count(_.numInputRows > 0) shouldBe batches.size
    } finally q.stop()
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  it should "stream the span sink from files: spans and index equal the batch operators over the union" in {
    import graft.text.SubstringDedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_spansink").toString
    val (s1, s2) = ("alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine")
    // batch 1 shares nothing inside itself; each batch-2 doc shares a
    // span with one batch-1 doc and none with the other batch-2 doc
    val b1 = Seq((1L, s"a1 $s1 a2"), (2L, s"b1 b2 $s2"))
    val b2 = Seq((3L, s"c1 c2 $s1"), (4L, s"$s2 d1"))
    streamFiles(Seq(b1.toDF("doc_id", "text"), b2.toDF("doc_id", "text"))) {
      docs => StreamingEvents.spanDedupSink(docs, "doc_id", "text",
        s"$tmp/index", s"$tmp/spans", s"$tmp/ckpt")
    }
    val union = (b1 ++ b2).toDF("doc_id", "text")
    val spanCols = Seq("doc_id", "span_start", "span_end", "span_tokens")
    val spans = sorted(spark.read.parquet(s"$tmp/spans")
      .select(spanCols.map(col): _*))
    // the sink reports a batch's spans against earlier batches: over
    // this input, the union's duplicated spans of the batch-2 docs
    spans shouldBe sorted(SubstringDedup.duplicatedSpans(union, "doc_id",
      "text", 8).filter(col("doc_id") >= 3).select(spanCols.map(col): _*))
    spans should have size 2
    sorted(spark.read.parquet(s"$tmp/index").select("doc_id", "pos", "fp")) shouldBe
      sorted(SubstringDedup.buildSpanIndex(union, "doc_id", "text", 8))
    graft.util.Caches.releaseAll(spark)
  }

  it should "stream the line sink from files: deduped docs equal the one-pass operator over the union" in {
    import graft.text.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_linesink").toString
    val b1 = Seq(1L -> "nav\nshared footer\n\none", 2L -> "shared footer\ntwo")
    val b2 = Seq(3L -> "nav\nthree\nshared footer", 4L -> "four\nthree")
    streamFiles(Seq(b1.toDF("doc_id", "text"), b2.toDF("doc_id", "text"))) {
      docs => StreamingEvents.lineDedupSink(docs, "doc_id", "text",
        s"$tmp/index", s"$tmp/out", s"$tmp/ckpt")
    }
    val cols = Seq("doc_id", "n_lines", "n_kept", "dedup_text").map(col)
    val out = sorted(spark.read.parquet(s"$tmp/out").select(cols: _*))
    out shouldBe sorted(Dedup.lineDeduplicate((b1 ++ b2).toDF("doc_id",
      "text"), "doc_id", "text").select(cols: _*))
    out should have size 4
    // one claimant per distinct line across both batches
    val idx = spark.read.parquet(s"$tmp/index").select("h")
    idx.count() shouldBe idx.distinct().count()
  }

  it should "stream the IVF sink from files: the index equals a batch build over the union" in {
    import graft.ann.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfsink").toString
    val vecs = (1L to 30L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toDouble)))
    val cents = vecs.filter(_._1 % 10 == 0).toDF("vec_id", "embedding")
    val (b1, b2) = vecs.partition(_._1 <= 14)
    streamFiles(Seq(b1.toDF("vec_id", "embedding"),
        b2.toDF("vec_id", "embedding"))) {
      embs => StreamingEvents.ivfIndexSink(embs, "vec_id", "embedding",
        cents, 8, s"$tmp/idx", s"$tmp/ckpt")
    }
    val streamed = spark.read.parquet(s"$tmp/idx")
    streamed.select("batch_id").distinct().count() shouldBe 2
    val cols = Seq("vec_id", "centroid_id", "embedding").map(col)
    sorted(streamed.select(cols: _*)) shouldBe sorted(Similarity
      .buildIvfIndex(vecs.toDF("vec_id", "embedding"), "vec_id",
        "embedding", cents, 8).select(cols: _*))
    graft.util.Caches.releaseAll(spark)
  }
}
