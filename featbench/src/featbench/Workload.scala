package featbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs generated in-process, a base
  * store, and a closed-loop epoch of public graft calls. */
trait Workload {
  /** Directory holding everything the workload writes. */
  def dir: String

  /** Generate the inputs and build the base store (untimed set-up). */
  def prepare(r: Runner): Unit

  /** The untimed warm-up that ends set-up: by default one epoch. */
  def warmup(r: Runner): Unit = epoch(r)

  /** One epoch: every store call, each through `r`. Returns the
    * generated input rows the epoch processed. */
  def epoch(r: Runner): Long

  /** Epochs in the timed phase: a fixed count, so every run on every
    * commit and machine times the same calls. */
  def timedEpochs: Int = 1

  /** Bytes of generated input handed to the program so far. */
  def inputBytes: Long

  /** The store whose on-disk size is reported. */
  def storeDir: String

  /** Correctness gate of the current state against an independent
    * computation: one message per failed check, empty when all pass. */
  def gate(): Seq[String]

  /** The same gate over deliberately corrupted outputs, one corruption
    * per output: (name, failures). Each must report a failure. */
  def corruptedGates(): Seq[(String, Seq[String])]
}

object Workload {
  val Names: Seq[String] = Seq("feature_build", "vault_daily", "knn_upkeep")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long): Workload =
    name match {
      case "feature_build" => new FeatureBuild(spark, dir, seed)
      case "vault_daily" => new VaultDaily(spark, dir, seed)
      case "knn_upkeep" => new KnnUpkeep(spark, dir, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${Names.mkString(", ")})")
    }

  def bytesUnder(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** A stateless 64-bit mix (SplitMix64 finalizer) for seeded choices
    * that must not depend on generation order. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
