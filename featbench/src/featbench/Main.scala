package featbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `featbench/run.py` builds and launches it.
  *
  * {{{
  *   featbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   featbench.Main --gate-test --seed <n> --work <dir>
  *   featbench.Main --train --seed <n> --work <dir>
  * }}}
  *
  * A run times a fixed number of epochs (`Workload.timedEpochs`);
  * `--seconds` is recorded but never changes the work, so every run
  * measures the same calls.
  * Prints a `{"detail": …}` line, then the result object as the last
  * line of stdout. Exits non-zero, without a result, on a leak or a
  * harness error. */
object Main {
  /** The pinned execution shape; nothing is derived from the host. */
  val Master = "local[3]"
  val ShufflePartitions = 3
  /** C_ref: the frozen canary reference, in seconds. Normalized times
    * are raw × CanaryRef / (mean canary of the run). */
  val CanaryRef = 0.30
  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, work: String = "",
      gateTest: Boolean = false, train: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--gate-test" :: t => parse(t, a.copy(gateTest = true))
    case "--train" :: t => parse(t, a.copy(train = true))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val jvmMain = System.nanoTime()
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work <dir> is required")
    require(a.gateTest || a.train || Workload.Names.contains(a.workload),
      s"--workload must be one of ${Workload.Names.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(Master)
      .appName("featbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", ShufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - jvmMain) / 1e9
    try {
      if (a.gateTest) gateTest(spark, a)
      else if (a.train) train(spark, a)
      else bench(spark, a, sessionS)
    } finally spark.stop()
  }

  private def bench(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    val tracer = new Tracer(spark)
    val r = new Runner(spark, tracer)
    (1 to 3).foreach(_ => Canary.once(spark)) // the canary's own warm-up, untimed
    val w = Workload(a.workload, spark, s"${a.work}/data", a.seed)
    // set-up: inputs, base store and warm-up, with canaries interleaved
    val t0 = System.nanoTime()
    r.settingUp = true
    r.setupCanary()
    w.prepare(r)
    w.warmup(r)
    r.setupCanary()
    r.settingUp = false
    val setupS = (System.nanoTime() - t0) / 1e9 - r.setupPauseS
    r.recording = true
    r.tracing = a.trace
    if (a.trace) tracer.attach()
    val t1 = System.nanoTime()
    val rows = (1 to w.timedEpochs).map(_ => w.epoch(r)).sum
    val measuredS = (System.nanoTime() - t1) / 1e9
    if (a.trace) tracer.drainAndDetach()
    r.recording = false
    r.tracing = false
    val storeBytes = Workload.bytesUnder(spark, w.storeDir)
    val t2 = System.nanoTime()
    val gateFailures = w.gate()
    val gateS = (System.nanoTime() - t2) / 1e9
    gateFailures.foreach(f => System.err.println(s"[featbench] GATE FAILED: $f"))
    val rep = new Report(r, a, sessionS, setupS, rows, storeBytes, w.inputBytes, measuredS)
    val correct = gateFailures.isEmpty && r.failed == 0
    println(Json.obj(Seq("detail" -> Json.obj(rep.detail ++ Seq(
      "gate_s" -> Json.num(gateS),
      "gate_failures" -> Json.arr(gateFailures.map(Json.str)))))))
    val metrics = if (a.trace) rep.perLayer else rep.endToEnd
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (name, v, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
    Workload.delete(spark, w.dir)
  }

  /** The class-data-sharing archive's training run: every workload's
    * set-up and one epoch, so the archive holds the classes a benchmark
    * run loads before its gate. */
  private def train(spark: SparkSession, a: Args): Unit = {
    val r = new Runner(spark, new Tracer(spark))
    Canary.once(spark)
    Workload.Names.foreach { name =>
      val w = Workload(name, spark, s"${a.work}/$name", a.seed)
      w.prepare(r)
      w.epoch(r)
      Workload.delete(spark, w.dir)
    }
  }

  /** Every gate passes on the real outputs, and fails on each
    * deliberately corrupted one. */
  private def gateTest(spark: SparkSession, a: Args): Unit = {
    val r = new Runner(spark, new Tracer(spark))
    val results = Workload.Names.flatMap { name =>
      val w = Workload(name, spark, s"${a.work}/$name", a.seed)
      w.prepare(r)
      w.epoch(r)
      w.epoch(r)
      val clean = w.gate()
      val out = (s"$name: real outputs pass", clean.isEmpty, clean.mkString("; ")) +:
        w.corruptedGates().map { case (what, fails) =>
          (s"$name: $what is caught", fails.nonEmpty, fails.mkString("; "))
        }
      Workload.delete(spark, w.dir)
      out
    }
    results.foreach { case (what, ok, why) =>
      println(s"${if (ok) "PASS" else "FAIL"}  $what${if (why.nonEmpty) s"  [$why]" else ""}")
    }
    val bad = results.count(!_._2)
    println(s"gate test: ${results.size - bad}/${results.size} passed")
    if (bad > 0) throw new IllegalStateException(s"$bad gate test case(s) failed")
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}

/** Turns one run's samples into the reported metrics. */
final class Report(r: Runner, a: Main.Args, sessionS: Double, setupS: Double,
    rows: Long, storeBytes: Long, inputBytes: Long, measuredS: Double) {
  import Report._

  /** c_run. The mean, not the median: on a shared host a canary that
    * lands in a slow spell says the ops around it were slowed too, and
    * over two 10-seed sets the mean gave the narrower normalized spread. */
  val canary: Double = mean(r.canaries.toSeq)
  val setupCanary: Double = mean(r.setupCanaries.toSeq)
  /** The normalization factor C_ref / c_run. */
  val k: Double = Main.CanaryRef / canary
  /** Set-up's own factor, from the canaries interleaved with it. */
  val kSetup: Double = Main.CanaryRef / setupCanary

  val rawWriteS: Double = median(r.samples.filter(_.isWrite).map(_.rawS).toSeq)
  val rawReadS: Double = median(r.samples.filterNot(_.isWrite).map(_.rawS).toSeq)
  val rawTimedS: Double = r.samples.map(_.rawS).sum
  /** Input rows per raw timed second. */
  val rawRowsPerS: Double = rows / rawTimedS
  val storeRatio: Double = storeBytes.toDouble / inputBytes

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS * kSetup, "s"),
    ("rows_per_s", rawRowsPerS / k, "1/s"),
    ("write_s", rawWriteS * k, "s"),
    ("read_s", rawReadS * k, "s"),
    ("store_bytes_per_input_byte", storeRatio, "ratio"))

  def perLayer: Seq[(String, Double, String)] = {
    val t = r.tracer
    val measured = t.calls.map(c => c -> t.measure(c)).toSeq
    val spans = Tracer.Spans.flatMap { span =>
      val ms = measured.filter(_._1.span == span).map(_._2.byName.toMap)
      Tracer.SpanMetricUnits.map { case (m, unit) =>
        (s"$span.$m", median(ms.map(_(m))), unit)
      }
    }
    def writtenPerInput(span: String): Double = median(measured
      .filter { case (c, _) => c.span == span && c.inputRows > 0 }
      .map { case (c, m) => m.rowsWritten.toDouble / c.inputRows })
    spans ++ Seq(
      ("engine.gc_s", measured.map(_._1.gcMs).sum / 1e3, "s"),
      ("engine.spill_mb", measured.map(_._2.spillMb).sum, "MB"),
      ("engine.peak_rss_mb", peakRssMb(), "MB"),
      ("bench.canary_s", canary, "s"),
      ("bench.canary_iqr", iqr(r.canaries.toSeq) / median(r.canaries.toSeq), "ratio"),
      ("bench.setup_canary_s", setupCanary, "s"),
      ("bench.raw_timed_s", rawTimedS, "s"),
      ("bench.raw_session_s", sessionS, "s"),
      ("bench.raw_setup_s", setupS, "s"),
      ("bench.raw_write_s", rawWriteS, "s"),
      ("bench.raw_read_s", rawReadS, "s"),
      ("bench.raw_rows_per_s", rawRowsPerS, "1/s"),
      ("bench.traced_rows_per_s", rawRowsPerS / k, "1/s"),
      ("load.runLoad.rows_written_per_change", writtenPerInput("load.runLoad"), "ratio"),
      ("ann.knnGraphIncrement.rows_written_per_input_row",
        writtenPerInput("ann.knnGraphIncrement"), "ratio"))
  }

  def detail: Seq[(String, String)] = Seq(
    "workload" -> Json.str(a.workload),
    "seed" -> a.seed.toString,
    "seconds" -> Json.num(a.seconds),
    "trace" -> (if (a.trace) "1" else "0"),
    "master" -> Json.str(Main.Master),
    "shuffle_partitions" -> Main.ShufflePartitions.toString,
    "heap" -> Json.str(sys.props.getOrElse("featbench.heap", "unset")),
    "jit" -> Json.str(sys.props.getOrElse("featbench.jit", "default")),
    "canary_ref_s" -> Json.num(Main.CanaryRef),
    "canary_s" -> Json.arr(r.canaries.toSeq.map(Json.num)),
    "setup_canary_s" -> Json.arr(r.setupCanaries.toSeq.map(Json.num)),
    "measured_s" -> Json.num(measuredS),
    "session_s" -> Json.num(sessionS),
    "setup_s" -> Json.num(setupS),
    "input_rows" -> rows.toString,
    "store_bytes" -> storeBytes.toString,
    "input_bytes" -> inputBytes.toString,
    "raw" -> Json.obj(Seq("setup_s" -> setupS, "rows_per_s" -> rawRowsPerS,
      "write_s" -> rawWriteS, "read_s" -> rawReadS)
      .map { case (n, v) => n -> Json.num(v) }),
    "samples" -> Json.obj(r.samples.groupBy(_.span).toSeq.sortBy(_._1).map {
      case (span, ss) => span -> Json.arr(ss.map(s => Json.num(s.rawS)).toSeq)
    }))
}

object Report {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Interquartile range (inclusive-method quartiles). */
  def iqr(xs: Seq[Double]): Double =
    if (xs.size < 2) 0.0 else {
      val sorted = xs.sorted
      def q(p: Double) = {
        val x = p * (sorted.size - 1)
        val lo = math.floor(x).toInt
        val hi = math.min(lo + 1, sorted.size - 1)
        sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
      }
      q(0.75) - q(0.25)
    }

  /** Peak resident set of this JVM (Linux `VmHWM`), else heap committed. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    val hwm =
      if (f.canRead) {
        val src = scala.io.Source.fromFile(f)
        try src.getLines().find(_.startsWith("VmHWM:"))
          .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        finally src.close()
      } else None
    hwm.getOrElse(Runtime.getRuntime.totalMemory() / 1e6)
  }
}
