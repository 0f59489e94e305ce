package graft

import graft.ops.OpUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All relational queries read through here so that the scan side stays
  * uniform: plain parquet scans that Catalyst can push filters/column
  * pruning into. At 100 TB these would be partitioned/bucketed tables —
  * the query code below never depends on physical layout, only on the
  * logical schema, so swapping the loader for a bucketed catalog table
  * changes no query.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (which Spark's
      // vectorized reader rejects — read nanos as long and convert) and
      // as TIMESTAMP(MICROS) isAdjustedToUTC=false (reads as NTZ).
      // Normalize either to a microsecond TimestampType; the session
      // timezone is UTC everywhere, so the NTZ cast is value-identity.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = OpUtils.readParquet(spark, s"$sfDir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types._
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => raw
        case other => throw new IllegalStateException(
          s"events.ts: unexpected parquet type $other")
      }
    } else OpUtils.readParquet(spark, s"$sfDir/$name.parquet")
  }

  /** Register all tables as temp views (idempotent) for spark.sql queries. */
  def views(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
