package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for the sf1 scale probe (BASELINE.md):
  * replicates the sf0.1 tables the heavy-hitter queries read into K
  * id-shifted copies, because the driver ships no sf1 data and the
  * testdata tree is read-only.
  *
  * Replication is NOT naive duplication — naive copies would plant
  * cross-copy exact/near duplicates that turn the dedup workloads
  * quadratic in K and measure an artifact instead of scaling:
  *  - `documents`: copy k > 0 suffixes every token with `~k`, making
  *    copies vocabulary-disjoint — the corpus grows 10x with zero
  *    cross-copy shingle collisions, the way a real corpus grows with
  *    mostly-fresh text (vocabulary growth is the pessimistic model:
  *    real vocab grows sublinearly, which would only make the inverted
  *    indexes cheaper per doc).
  *  - `embeddings`: copy k circularly ROTATES each vector's components
  *    by k positions — per-component marginals are preserved but
  *    cross-copy cosine is that of unrelated vectors (a constant
  *    additive shift would leave cos(v, v') ~ 0.9999, planting 10-way
  *    near-dup cliques that any cosine-threshold workload would measure
  *    instead of scaling).
  *  - `customer`: plain key shift (the SCD2 merge and graph workloads
  *    key on c_custkey; rows per key is what matters, content doesn't).
  * `region` is copied once (the bench warm-up reads it).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <destDir> <copies>
  */
object ScaleUp {
  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <destDir> <copies>")
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    require(copies >= 1, "copies must be >= 1")
    val spark = Harness.session()

    def replicate(table: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map(k => copy(base, k)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table x$copies written")
    }

    replicate("customer") { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * Off))
    }
    replicate("documents") { (df, k) =>
      val d = df.withColumn("doc_id", col("doc_id") + lit(k * Off))
      if (k == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1~" + k))
    }
    replicate("embeddings") { (df, k) =>
      // rotation offset must be unique per copy (k < dim, dim = 64 in
      // the shipped table) or two copies would be exact duplicates
      val rotated =
        if (k == 0) col("embedding")
        else concat(
          expr(s"slice(embedding, ${k + 1}, size(embedding))"),
          expr(s"slice(embedding, 1, $k)"))
      df.withColumn("vec_id", col("vec_id") + lit(k * Off))
        .withColumn("embedding", rotated)
    }
    replicate("orders") { (df, k) =>
      // key shift both keys: o_orderkey stays unique, o_custkey keeps
      // the same per-customer fan-out at 10x the key cardinality (what
      // the z-order and join-audit probes care about)
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * Off))
        .withColumn("o_custkey", col("o_custkey") + lit(k * Off))
    }
    replicate("part") { (df, k) =>
      // key shift only; brand/size/price distributions unchanged, so
      // per-brand group sizes grow 10x (what the Theil-Sen all-pairs
      // cap and robust-slope probes care about)
      df.withColumn("p_partkey", col("p_partkey") + lit(k * Off))
    }
    replicate("lineitem") { (df, k) =>
      // key shift only — the relational heavies (pricing summary, ORC
      // round trip, top-k) care about row volume and key cardinality,
      // not line content
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * Off))
    }
    // events: user/event key shift, timestamps unchanged — 10x the
    // users over the same month (read through Tables.t so NANOS/NTZ
    // driver generations normalize; written back as plain TIMESTAMP)
    locally {
      val base = graft.Tables.t(spark, src, "events")
      (0 until copies).map { k =>
        base.withColumn("user_id", col("user_id") + lit(k * Off))
          .withColumn("event_id", col("event_id") + lit(k * Off))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      println(s"[scaleup] events x$copies written")
    }
    // small dims copied verbatim (the realistic asymmetry: facts grow
    // 10x, the nation/supplier dims don't — the TPC-H probes measure
    // fact-side scaling against stable broadcast sides)
    Seq("region", "nation", "supplier").foreach { d =>
      spark.read.parquet(s"$src/$d.parquet")
        .write.mode("overwrite").parquet(s"$dst/$d.parquet")
    }
    println(s"[scaleup] done -> $dst")
    spark.stop()
  }
}
