package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's parquet testdata (TESTDATA.md / FIXTURES.md).
  *
  * All tables are plain parquet directories; at cluster scale these would be
  * partitioned table paths — the loaders stay identical because Spark's
  * `DataSourceV2` file index handles partition discovery/pruning transparently.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => events(spark, dir)
    case n        => spark.read.parquet(s"$dir/$n.parquet")
  }

  /** `events.ts` has shipped in THREE parquet spellings across testdata
    * regenerations: nanosecond-precision INT64 (which Spark rejects
    * outright — [PARQUET_TYPE_ILLEGAL] — unless read as raw longs),
    * microsecond TIMESTAMP with timezone, and microsecond TIMESTAMP_NTZ.
    * Dispatch on the surfaced type instead of assuming a layout:
    *  - LongType (TIMESTAMP_NS under `nanosAsLong`): floor-divide to µs —
    *    the same truncation DuckDB applies casting TIMESTAMP_NS →
    *    TIMESTAMP, so oracle comparisons line up exactly;
    *  - TimestampNTZType: cast to session-TZ TimestampType. Every session
    *    this library builds pins `spark.sql.session.timeZone=UTC`, so the
    *    cast is micros-identical to DuckDB's naive-TIMESTAMP read of the
    *    same file — and downstream `unix_micros`/interval arithmetic
    *    (which reject NTZ) type-check;
    *  - TimestampType: pass through untouched.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts").cast(org.apache.spark.sql.types.TimestampType)
      case _ => col("ts")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
}
