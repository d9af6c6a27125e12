package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sinks.ParquetFooters

/** Loaders for the driver-generated test tables (see TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet stores `ts` as INT64 TIMESTAMP(NANOS), which Spark's
    // parquet reader rejects by default (PARQUET_TYPE_ILLEGAL). Read nanos
    // as long and convert to a microsecond timestamp explicitly — the same
    // lossy-but-deliberate mapping the reference applies (all timestamps →
    // microsecond UTC, types/data_types.go:116-133).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = ParquetFooters.read(spark, Seq(s"$sfDir/$name.parquet"))
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        // integer division — `/` would go through double and lose precision
        // on ~1.7e18 nanosecond epochs (53-bit mantissa)
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else raw
    // timestamp[us] without the isAdjustedToUTC flag reads as NTZ under
    // Spark 4's inference, which unix_micros/window/etc. reject; the engine
    // (like the reference) treats every timestamp as microsecond UTC, and
    // the session tz is pinned to UTC, so the cast relabels the same micros
    // without shifting them. Applied to EVERY table (the driver regenerates
    // the parquet between rounds — round 8 lost 14 gates when only
    // events.ts was handled and the regenerated file flipped NANOS→NTZ).
    df.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(df) { (acc, f) =>
        acc.withColumn(f.name, col(f.name).cast(TimestampType))
      }
  }
}
