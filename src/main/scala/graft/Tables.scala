package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access over a scale-factor directory (see TESTDATA.md). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Normalize the events `ts` column across driver data generations to
    // one session type (TIMESTAMP, UTC session zone — value-identical to
    // what DuckDB reads, so oracle comparisons stay exact):
    //  - TIMESTAMP(NANOS) parquet (rounds ≤ 8) has no native Spark type
    //    (PARQUET_TYPE_ILLEGAL); the legacy flag below reads it as long
    //    nanos, floor-divided here to micros — DuckDB's own truncation.
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet (round 9+)
    //    arrives as TIMESTAMP_NTZ, which refuses numeric casts (the
    //    epoch-second frame keys of E10/W17 need them); cast to
    //    TIMESTAMP — exact under the pinned UTC session zone.
    if (df.schema.exists(f => f.name == "ts" && f.dataType ==
        org.apache.spark.sql.types.LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (df.schema.exists(f => f.name == "ts" && f.dataType ==
        org.apache.spark.sql.types.TimestampNTZType))
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** Must be set before any read of a NANOS-timestamp parquet. */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
}
