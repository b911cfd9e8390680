package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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

  /** What `spark.read.parquet` infers for each table but `events`, declared
    * so a load starts no schema-inference job (TablesSpec pins it on the
    * fixtures and on `perfbench/gen.py` output, whose µs and ms timestamps
    * both carry no UTC adjustment and read as TIMESTAMP_NTZ). */
  private val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" ->
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (n, ddl) => n -> StructType.fromDDL(ddl) }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => events(spark, dir)
    case n => schemas.get(n).fold(spark.read)(spark.read.schema).parquet(s"$dir/$n.parquet")
  }

  /** `events.ts` has shipped in THREE parquet spellings across testdata
    * regenerations: nanosecond-precision INT64 (the `perfbench/gen.py`
    * output; Spark rejects it outright — [PARQUET_TYPE_ILLEGAL] — unless
    * read as raw longs), microsecond TIMESTAMP with timezone, and
    * microsecond TIMESTAMP_NTZ (the fixtures).
    * The read runs under the caller's session settings and writes none:
    * [[Bench.driverSession]] sets `spark.sql.legacy.parquet.nanosAsLong`,
    * and under a session without it this fails with a message naming the
    * setting rather than changing how the session reads later files.
    * Dispatch on the surfaced type instead of assuming a layout:
    *  - LongType (TIMESTAMP_NS under `nanosAsLong`): floor-divide to µs —
    *    the same truncation DuckDB applies casting TIMESTAMP_NS →
    *    TIMESTAMP, so oracle comparisons line up exactly;
    *  - TimestampNTZType: cast to session-TZ TimestampType.
    *    [[Bench.driverSession]] pins `spark.sql.session.timeZone=UTC`, so
    *    the cast is micros-identical to DuckDB's naive-TIMESTAMP read of
    *    the same file — and downstream `unix_micros`/interval arithmetic
    *    (which reject NTZ) type-check;
    *  - TimestampType: pass through untouched.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    require(spark.conf.get(nanosAsLong).toBoolean,
      s"Tables.events reads $dir/events.parquet only under $nanosAsLong=true " +
        "(its ts may be nanosecond INT64); build the session with Bench.driverSession")
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
