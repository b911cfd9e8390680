package graft.queries

import graft.{Q, QueryDsl}
import QueryDsl._
import graft.ext.{IncrementalAgg, Scd}
import org.apache.spark.sql.functions._

/** Warehouse-maintenance tier: SCD Type 2 dimension building and
  * incrementally maintained gold aggregates — the two standard "keep the
  * serving tables fresh" ETL patterns one notch past the reference's
  * Type 1 MERGE (`03_Gold_Aggregates_Features.py`).
  */
object DimQueries {

  /** A table base in a fresh temp dir of its own, so concurrent calls never
    * share one; the dir is deleted when the JVM exits (the filesystem's
    * delete-on-exit, run as Hadoop closes its cached filesystems). */
  private def scratchTable(s: org.apache.spark.sql.SparkSession, prefix: String): String = {
    val dir = new org.apache.hadoop.fs.Path(
      "file", null, java.nio.file.Files.createTempDirectory(prefix).toString)
    dir.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(dir)
    s"$dir/t"
  }

  /** SCD TYPE 2 DIMENSION BUILD ([[graft.ext.Scd.scd2FromHistory]]): each
    * customer's order-priority history collapsed into version rows with
    * `[effective_from, effective_to)` validity intervals, dense per-key
    * version numbers, and an `is_current` flag — every attribute change
    * opens a new version, repeats collapse into the run that introduced
    * the value. One shuffle on the dimension key; the oracle is the same
    * two-window derivation in plain SQL. The incremental twin
    * ([[graft.ext.Scd.scd2Apply]], `apply == rebuild`) is pinned in
    * ScdSpec. */
  val q134Scd2Dimension: Q = Q(
    "q134_scd2_dimension",
    (s, dir) => {
      val dim = Scd.scd2FromHistory(
        t(s, dir, "orders")
          .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"),
        keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
        tieCol = "o_orderkey", attrCols = Seq("o_orderpriority"))
      // current rows get the conventional far-future end date instead of
      // NULL (the warehouse idiom — BETWEEN probes need no null branch;
      // also keeps the compared output free of null timestamps). The
      // sentinel is cast to the interval columns' OWN type so a
      // TIMESTAMP_NTZ source (the regenerated testdata) doesn't get
      // promoted to session-TZ by a typed literal.
      dim.withColumn("effective_to", coalesce(col("effective_to"),
        lit("9999-12-31 00:00:00").cast(dim.schema("effective_from").dataType)))
    },
    Some("""
      WITH h AS (
        SELECT o_custkey, o_orderdate AS ts, o_orderkey AS tie, o_orderpriority,
          LAG(o_orderpriority) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders),
      changes AS (
        SELECT o_custkey, ts, tie, o_orderpriority FROM h
        WHERE prev IS NULL OR o_orderpriority <> prev)
      SELECT o_custkey, o_orderpriority,
        ts AS effective_from,
        COALESCE(LEAD(ts) OVER w, TIMESTAMP '9999-12-31 00:00:00') AS effective_to,
        CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        (LEAD(ts) OVER w IS NULL) AS is_current
      FROM changes
      WINDOW w AS (PARTITION BY o_custkey ORDER BY ts, tie)
    """))

  /** INCREMENTALLY MAINTAINED GOLD AGGREGATE
    * ([[graft.ext.IncrementalAgg]]): the lineitem pricing rollup built by
    * folding three disjoint fact batches into a versioned aggregate table
    * — each fold touches only its batch + the |keys|-row aggregate, never
    * re-reads applied history — then read back with avg derived
    * exact-sum/exact-count. The artifact is built fresh in its own
    * [[scratchTable]] every call so the measured time IS the three-fold
    * maintenance cost; mergeable decimal partials make the result
    * bit-identical to the one-shot GROUP BY the oracle runs. */
  val q135IncrementalAgg: Q = Q(
    "q135_incremental_agg",
    (s, dir) => {
      val base = scratchTable(s, "graft-incragg")
      val li = t(s, dir, "lineitem")
      (0L until 3L).foreach { b =>
        IncrementalAgg.update(s, base,
          li.filter(pmod(col("l_linenumber"), lit(3)) === b),
          keys = Seq("l_returnflag", "l_linestatus"),
          valueCol = "l_extendedprice", batchId = b)
      }
      IncrementalAgg.read(s, base).get.select(
        col("l_returnflag"), col("l_linestatus"),
        col("n_rows"),
        col("sum_val").cast("double").as("sum_price"),
        col("min_val").as("min_price"),
        col("max_val").as("max_price"),
        (col("sum_val").cast("double") / col("n_rows")).as("avg_price"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        COUNT(*) AS n_rows,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
        MIN(l_extendedprice) AS min_price,
        MAX(l_extendedprice) AS max_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_price
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    """))

  /** SCD2 POINT-IN-TIME LOOKUP — the consuming half of q134: every
    * lineitem joined to the priority version its customer had AT SHIP
    * TIME (`effective_from <= l_shipdate < effective_to`, the half-open
    * interval the dimension guarantees partitions time), then revenue
    * rolled up by that historical attribute. The dimension side is
    * BROADCAST (versions ≈ keys × few changes — dimension-sized at any
    * fact scale), so the fact table never shuffles for the lookup; a
    * dimension too large to broadcast routes through the as-of machinery
    * ([[graft.ext.AsOfJoin]]) instead. Exactly-one-match is structural:
    * intervals tile `[first observation, sentinel)` per key and every
    * shipdate follows its own order's observation. */
  val q139Scd2Lookup: Q = Q(
    "q139_scd2_lookup",
    (s, dir) => {
      val dim = Scd.scd2FromHistory(
        t(s, dir, "orders")
          .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"),
        keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
        tieCol = "o_orderkey", attrCols = Seq("o_orderpriority"))
      val versions = dim.select(
        col("o_custkey").as("d_custkey"),
        col("o_orderpriority").as("priority_at_ship"),
        col("effective_from"), col("effective_to"))
      val facts = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
      facts.join(broadcast(versions),
          col("o_custkey") === col("d_custkey") &&
          col("l_shipdate") >= col("effective_from") &&
          (col("effective_to").isNull || col("l_shipdate") < col("effective_to")))
        .groupBy(col("priority_at_ship"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          countDistinct(col("o_custkey")).as("n_customers"))
    },
    Some("""
      WITH h AS (
        SELECT o_custkey, o_orderdate AS ts, o_orderkey AS tie, o_orderpriority,
          LAG(o_orderpriority) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders),
      changes AS (
        SELECT o_custkey, ts, tie, o_orderpriority FROM h
        WHERE prev IS NULL OR o_orderpriority <> prev),
      dim AS (
        SELECT o_custkey AS d_custkey, o_orderpriority AS priority_at_ship,
          ts AS effective_from,
          LEAD(ts) OVER (PARTITION BY o_custkey ORDER BY ts, tie) AS effective_to
        FROM changes)
      SELECT priority_at_ship,
        COUNT(*) AS n_lines,
        %s AS revenue,
        COUNT(DISTINCT o_custkey) AS n_customers
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN dim ON o_custkey = d_custkey
        AND l_shipdate >= effective_from
        AND (effective_to IS NULL OR l_shipdate < effective_to)
      GROUP BY priority_at_ship
    """.format(QueryDsl.oracleDsum("l_extendedprice * (1 - l_discount)", 4))))

  /** CHANGE DATA FEED between two table versions
    * ([[graft.sources.VersionedTable.changes]]) — the Delta CDF analogue,
    * here ORACLE-CHECKED for the first time (M1's diff machinery was
    * previously spec-only): the query commits two derived versions of an
    * orders projection to a scratch VersionedTable — v1 deletes every
    * key ≡ 0 (mod 5), inserts the keys ≡ 0 (mod 7) absent from v0, and
    * bumps the price of keys ≡ 0 (mod 3) — then reads the row-level diff.
    * `changes` classifies via ONE keyed outer join of (key, row-hash)
    * projections (narrow shuffle, full rows re-attached only for changed
    * keys); the oracle re-derives insert/delete/update_pre/postimage
    * from the same version algebra in plain SQL. Unchanged rows are
    * never emitted — the contract that makes CDC incremental-consumer
    * cost proportional to the CHANGE volume, not the table. */
  lazy val q168CdcDiff: Q = Q(
    "q168_cdc_diff",
    (s, dir) => {
      import graft.sources.VersionedTable
      val base = scratchTable(s, "graft-cdc")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val v0 = o.filter(col("o_orderkey") % 7 =!= 0)
      val v1 = o.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      VersionedTable.commit(s, base, v0, "cdc v0")
      VersionedTable.commit(s, base, v1, "cdc v1")
      VersionedTable.changes(s, base, 0L, 1L, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("_change_type"))
    },
    Some("""
      WITH v0 AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0),
      v1 AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0e0
               ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 5 <> 0)
      SELECT v0.o_orderkey, v0.o_totalprice, 'delete' AS _change_type
      FROM v0 LEFT JOIN v1 USING (o_orderkey) WHERE v1.o_orderkey IS NULL
      UNION ALL
      SELECT v1.o_orderkey, v1.o_totalprice, 'insert'
      FROM v1 LEFT JOIN v0 USING (o_orderkey) WHERE v0.o_orderkey IS NULL
      UNION ALL
      SELECT v0.o_orderkey, v0.o_totalprice, 'update_preimage'
      FROM v0 JOIN v1 USING (o_orderkey) WHERE v0.o_totalprice <> v1.o_totalprice
      UNION ALL
      SELECT v1.o_orderkey, v1.o_totalprice, 'update_postimage'
      FROM v0 JOIN v1 USING (o_orderkey) WHERE v0.o_totalprice <> v1.o_totalprice
    """))

  val all: Seq[Q] = Seq(q134Scd2Dimension, q135IncrementalAgg, q139Scd2Lookup,
    q168CdcDiff)
}
