package graft.queries

import graft.{Q, QueryDsl}
import QueryDsl._
import org.apache.spark.sql.functions._

/** Joins & set operations (SURVEY §2.3): union, except, semi/anti joins,
  * outer joins with null handling.
  */
object SetOps {

  /** unionByName (J6) — temporal-union pattern of the reference's append
    * writes (02:127-128). UNION ALL is shuffle-free: partitions concatenate. */
  val q12Union: Q = Q(
    "q12_union_all",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val big = o.filter(col("o_totalprice") > 250000)
        .select(col("o_orderkey"), col("o_orderstatus"), lit("big").as("src"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"), lit("urgent").as("src"))
      big.unionByName(urgent)
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, 'big' AS src FROM orders WHERE o_totalprice > 250000
      UNION ALL
      SELECT o_orderkey, o_orderstatus, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
    """))

  /** EXCEPT DISTINCT (J2) — the reference's `subtract` quarantine split
    * (02:120). Note: at scale prefer the predicate re-evaluation in
    * [[graft.silver.Quality]]; this query exists to prove the operator. */
  val q13Except: Q = Q(
    "q13_except",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
    },
    Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """))

  /** Left-semi join (J5) = EXISTS. Only the key column of the right side is
    * needed ⇒ Catalyst prunes it to a 1-column build side. */
  val q14Semi: Q = Q(
    "q14_semi_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """))

  /** Left-anti join (J5) = NOT EXISTS — the quarantine/merge building block. */
  val q15Anti: Q = Q(
    "q15_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    },
    Some("""
      SELECT c_custkey, c_name, c_acctbal FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """))

  /** Left outer join + aggregation with null-group handling (J5/A2):
    * customers keep a row even with zero orders (count=0, spend=0). */
  val q16LeftJoinAgg: Q = Q(
    "q16_left_join_agg",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice"), 2), lit(0.0)).as("total_spend"))
    },
    Some("""
      SELECT c_custkey, c_name,
        COUNT(o_orderkey) AS n_orders,
        COALESCE(%s, 0.0) AS total_spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_name
    """.format(oracleDsum("o_totalprice", 2))))

  /** INTERSECT DISTINCT (J2 family) — completes the set-algebra trio with
    * q12 (UNION ALL) and q13 (EXCEPT): customers having BOTH a finished and
    * a pending order. Plans like EXCEPT: partial-distinct both sides, one
    * hash shuffle on the row. */
  val q52Intersect: Q = Q(
    "q52_intersect",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
    },
    Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """))

  /** FULL OUTER join (J1/J5) — the join type behind the reference's
    * two-sided MERGE emulation (02:175-181): big spenders vs urgent
    * customers, rows kept (with nulls) from BOTH sides. The pre-aggregation
    * shrinks each side before the join — the scale-correct order. */
  val q53FullOuter: Q = Q(
    "q53_full_outer",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val big = o.filter(col("o_totalprice") > 300000)
        .groupBy(col("o_custkey").as("big_key"))
        .agg(count(lit(1)).as("n_big"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("urg_key"))
        .agg(count(lit(1)).as("n_urgent"))
      big.join(urgent, col("big_key") === col("urg_key"), "full_outer")
        .select(
          coalesce(col("big_key"), col("urg_key")).as("custkey"),
          col("n_big"), col("n_urgent"))
    },
    Some("""
      SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
             a.n_big AS n_big, b.n_urgent AS n_urgent
      FROM (SELECT o_custkey, COUNT(*) AS n_big FROM orders
            WHERE o_totalprice > 300000 GROUP BY o_custkey) a
      FULL OUTER JOIN
           (SELECT o_custkey, COUNT(*) AS n_urgent FROM orders
            WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) b
      ON a.o_custkey = b.o_custkey
    """))

  /** Range (point-in-interval) join through [[graft.plans.NativeRange]]:
    * orders falling inside the 7-day windows opened by the 50 biggest
    * orders. The naive BETWEEN join is a nested-loop plan; the binned form
    * co-partitions both sides on the bin id and sweeps each bin's
    * intervals. The two sides re-read the table, so their attribute
    * lineage is disjoint, as the native node requires. */
  val q55RangeJoin: Q = Q(
    "q55_range_join",
    (s, dir) => {
      val points = t(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("pdate"))
        .withColumn("pday", unix_date(col("pdate")))
      val win = t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(50)
        .select(col("o_orderkey").as("win_id"), to_date(col("o_orderdate")).as("win_start"))
        .withColumn("win_end", date_add(col("win_start"), 7))
        .withColumn("sday", unix_date(col("win_start")))
        .withColumn("eday", unix_date(col("win_end")))
      graft.plans.NativeRange.pointInInterval(points, win, "pday", "sday", "eday", binWidth = 16)
        .select(col("win_id"), col("o_orderkey"), col("pdate"))
    },
    Some("""
      WITH win AS (
        SELECT o_orderkey AS win_id,
               CAST(o_orderdate AS DATE) AS win_start,
               CAST(o_orderdate AS DATE) + 7 AS win_end
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50)
      SELECT w.win_id, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS pdate
      FROM orders o JOIN win w
        ON CAST(o.o_orderdate AS DATE) BETWEEN w.win_start AND w.win_end
    """))

  /** q55 under its own name: the library has one range join, so q267
    * runs q55's builder against q55's oracle. */
  val q267RangeNative: Q = q55RangeJoin.copy(name = "q267_range_native")

  val all: Seq[Q] = Seq(
    q12Union, q13Except, q14Semi, q15Anti, q16LeftJoinAgg, q52Intersect, q53FullOuter,
    q55RangeJoin, q267RangeNative)
}
