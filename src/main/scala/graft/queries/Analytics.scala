package graft.queries

import graft.plans.ScaleLint.BarrierSyntax

import graft.{Q, QueryDsl}
import QueryDsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analytic-surface extensions beyond the reference's literal call sites:
  * ungrouped aggregates, HAVING, ROLLUP, PIVOT, regex/string extraction,
  * JSON columns, and the spark.sql() SQL-text entry path.
  */
object Analytics {

  /** Ungrouped (global) aggregation (A10-adjacent): one-row summary. */
  val q40GlobalAgg: Q = Q(
    "q40_global_agg",
    (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_extendedprice"), 2).as("total_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_orderkey")).as("n_orders")),
    Some("""
      SELECT COUNT(*) AS n_rows, %s AS total_price,
        MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem
    """.format(oracleDsum("l_extendedprice", 2))))

  /** Post-aggregation filter (HAVING). */
  val q41Having: Q = Q(
    "q41_having",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice"), 2).as("revenue"))
        .filter(col("n_lines") >= 400),
    Some("""
      SELECT l_suppkey, COUNT(*) AS n_lines, %s AS revenue
      FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) >= 400
    """.format(oracleDsum("l_extendedprice", 2))))

  /** ROLLUP subtotals (superset of the reference's plain groupBy). */
  val q42Rollup: Q = Q(
    "q42_rollup",
    (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 2).as("revenue")),
    Some("""
      SELECT o_orderpriority, o_orderstatus,
        COUNT(*) AS n_orders, %s AS revenue
      FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """.format(oracleDsum("o_totalprice", 2))))

  /** PIVOT: status columns per priority. Spark's pivot emits NULL for empty
    * cells, so both sides wrap in coalesce for parity with CASE-sums. */
  val q43Pivot: Q = Q(
    "q43_pivot",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
    Some("""
      SELECT o_orderpriority,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      FROM orders GROUP BY o_orderpriority
    """))

  /** UNPIVOT/melt — the inverse of q43: the wide per-priority status counts
    * back to long form. Generator-style op, shuffle-free (each row expands
    * to 3 in place). */
  val q58Unpivot: Q = Q(
    "q58_unpivot",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .unpivot(
          Array(col("o_orderpriority")),
          Array(col("n_f"), col("n_o"), col("n_p")),
          "status_col", "n"),
    Some("""
      WITH wide AS (
        SELECT o_orderpriority,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
          CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
          CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n FROM wide
      UNION ALL SELECT o_orderpriority, 'n_o', n_o FROM wide
      UNION ALL SELECT o_orderpriority, 'n_p', n_p FROM wide
    """))

  /** CUBE — all grouping-set combinations over (status, priority); NULL
    * group markers replaced with 'ALL' on both engines so the hash compare
    * is null-free. Same two-phase hash-agg shape as rollup (q42). */
  val q61Cube: Q = Q(
    "q61_cube",
    (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("revenue")),
    Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n, %s AS revenue
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """.format(oracleDsum("o_totalprice", 2))))

  /** Correlated subqueries through the SQL front end: scalar subquery in
    * SELECT + correlated EXISTS in WHERE — Catalyst decorrelates both into
    * joins (no per-row re-execution). */
  val q62Correlated: Q = Q(
    "q62_correlated_subquery",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c.c_custkey, c.c_name,
          (SELECT MAX(o.o_totalprice) FROM orders_v o
           WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM customer_v c
        WHERE EXISTS (SELECT 1 FROM orders_v o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
      """)
    },
    Some("""
      SELECT c.c_custkey, c.c_name,
        (SELECT MAX(o.o_totalprice) FROM orders o
         WHERE o.o_custkey = c.c_custkey) AS max_order
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    """))

  /** Regex + string surgery: extract, replace, split_part, translate. */
  val q44Regex: Q = Q(
    "q44_regex_extract",
    (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        regexp_extract(col("o_orderpriority"), "^([0-9]+)", 1).as("priority_num"),
        regexp_replace(col("o_orderpriority"), "[0-9]+-", "").as("priority_name"),
        split_part(col("o_orderpriority"), lit("-"), lit(2)).as("priority_word"),
        translate(col("o_orderstatus"), "FOP", "fop").as("status_lc")),
    Some("""
      SELECT o_orderkey,
        regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS priority_num,
        regexp_replace(o_orderpriority, '[0-9]+-', '') AS priority_name,
        split_part(o_orderpriority, '-', 2) AS priority_word,
        translate(o_orderstatus, 'FOP', 'fop') AS status_lc
      FROM orders
    """))

  /** JSON column extraction (events.props is a JSON string). */
  val q45Json: Q = Q(
    "q45_json_extract",
    (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum")),
    Some("""
      SELECT k % 10 AS k_bucket, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS k_sum
      FROM (SELECT event_id, json_extract(props, '$.k')::BIGINT AS k FROM events)
      GROUP BY 1
    """))

  /** The SQL-text entry path: temp views + spark.sql (the reference's
    * spark.sql surface, 01:252 / 03:222 style, on core tables). */
  val q46SqlApi: Q = Q(
    "q46_sql_api",
    (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_orders")
      t(s, dir, "customer").createOrReplaceTempView("graft_customer")
      s.sql("""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
        FROM graft_orders JOIN graft_customer ON o_custkey = c_custkey
        WHERE o_orderstatus <> 'P'
        GROUP BY c_mktsegment
      """)
    },
    Some("""
      SELECT c_mktsegment,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderstatus <> 'P'
      GROUP BY c_mktsegment
    """))

  /** Exact percentiles (continuous interpolation): Spark `percentile` ↔
    * DuckDB `quantile_cont` share the (n-1)p interpolation definition; both
    * interpolate identical doubles over identical sorted data. */
  val q47Percentiles: Q = Q(
    "q47_percentiles",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          expr("percentile(o_totalprice, 0.99)").as("p99"),
          count(lit(1)).as("n")),
    Some("""
      SELECT o_orderstatus,
        quantile_cont(o_totalprice, 0.5) AS p50,
        quantile_cont(o_totalprice, 0.9) AS p90,
        quantile_cont(o_totalprice, 0.99) AS p99,
        COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus
    """))

  /** SCALE TWIN of q47 (the q38 approx-countDistinct pairing, applied to
    * quantiles): exact `percentile` buffers and sorts every group value —
    * at 100 TB that is a full per-group sort. `approx_percentile` keeps a
    * bounded KLL-style sketch per group (mergeable partials, map-side
    * combined), trading ≤1/accuracy rank error for constant memory.
    * Rows-only for the driver (sketch internals aren't SQL-expressible);
    * QueryCatalogSpec pins the rank-error bound against the exact query. */
  val q115ApproxPercentiles: Q = Q(
    "q115_approx_percentiles",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50"),
          expr("approx_percentile(o_totalprice, 0.9, 1000)").as("p90"),
          expr("approx_percentile(o_totalprice, 0.99, 1000)").as("p99"),
          count(lit(1)).as("n")),
    None)

  /** Ordered collect_list surfaced as a string (array-valued outputs don't
    * hash portably; array_to_string ↔ concat_ws is exact). */
  val q48CollectList: Q = Q(
    "q48_collect_list",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .groupBy(col("o_custkey"))
        .agg(
          concat_ws(",", array_sort(collect_list(col("o_orderpriority")))).as("priorities"),
          concat_ws(",", array_sort(collect_set(col("o_orderstatus")))).as("statuses")),
    Some("""
      SELECT o_custkey,
        array_to_string(list_sort(list(o_orderpriority)), ',') AS priorities,
        array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses
      FROM orders WHERE o_custkey < 50 GROUP BY o_custkey
    """))

  /** As-of (point-in-time) join via [[graft.ext.AsOfJoin]]: each purchase
    * matched to the user's most recent preceding click. Oracle: DuckDB's
    * native ASOF LEFT JOIN. */
  val q49AsOfJoin: Q = Q(
    "q49_asof_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.ext.AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_id", "click_value"))
        .select(
          col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("purchase_ts"),
          col("asof_click_id"), col("asof_click_value"))
    },
    Some("""
      SELECT p.user_id, p.event_id,
        CAST(p.ts AS TIMESTAMP) AS purchase_ts,
        c.event_id AS asof_click_id,
        c.value AS asof_click_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
    """))

  /** q49 under its own name: the library has one as-of join, so q208
    * runs q49's builder against q49's oracle. */
  lazy val q208AsOfNative: Q = q49AsOfJoin.copy(name = "q208_asof_native")

  /** q165 under its own name, as q208 is q49. */
  lazy val q212AsOfNativeForward: Q =
    q165AsOfForward.copy(name = "q212_asof_native_forward")

  /** COMPOSITE-KEY AS-OF — each event matched to the most recent PRIOR
    * event of the same (user_id, event_type): the inter-event recurrence
    * lookup (time-since-last-purchase, error-recurrence gaps) that real
    * as-of workloads key by (entity, category) — a LONG + STRING composite
    * key through [[graft.ext.AsOfJoin]]'s one keyed shuffle + timeline
    * sort. STRICT "prior" rides the inclusive <= contract by shifting the
    * right timeline +1µs (time columns are Long micros); the DuckDB twin
    * shifts the same epoch in a subquery. */
  lazy val q236AsOfComposite: Q = Q(
    "q236_asof_composite",
    (s, dir) => {
      val events = t(s, dir, "events")
      val ev = events
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t_us"), col("ts"), col("value"))
      val prior = events
        .select(col("user_id"), col("event_type"),
          (unix_micros(col("ts")) + 1).as("t_us"),
          col("event_id").as("prev_event_id"), col("value").as("prev_value"))
      graft.ext.AsOfJoin.asOf(ev, prior, Seq("user_id", "event_type"),
          "t_us", "t_us", Seq("prev_event_id", "prev_value"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("event_ts"),
          col("asof_prev_event_id").as("prev_event_id"),
          col("asof_prev_value").as("prev_value"))
    },
    Some("""
      SELECT e.user_id, e.event_type, e.event_id,
        CAST(e.ts AS TIMESTAMP) AS event_ts,
        p.event_id AS prev_event_id, p.value AS prev_value
      FROM events e
      ASOF LEFT JOIN (
        SELECT user_id, event_type, epoch_us(ts) + 1 AS t_us, event_id, value
        FROM events) p
        ON e.user_id = p.user_id AND e.event_type = p.event_type
       AND epoch_us(e.ts) >= p.t_us
    """))

  /** WELCH'S T-TEST + COHEN'S D — the unequal-variance two-sample test
    * (the default the equal-variance Student's t should never be at
    * scale: cohorts rarely share variance) over purchase values split by
    * the q224/q234 parity cohorts. Same moment discipline as q225: values
    * to exact µ-unit longs, (n, Σv, Σv²) per cohort through DECIMAL
    * products (Σv² at 100 TB overflows int64 — DuckDB throws, Spark wraps
    * silently; decimal/HUGEINT keep both exact), then ONE identical
    * double chain per statistic — t, the Welch–Satterthwaite df, and
    * Cohen's d with the pooled sd — rounded @6. Output is one row from
    * five exact integers; the only data-sized pass is the cohort
    * aggregate (map-side partial). */
  lazy val q237WelchT: Q = Q(
    "q237_welch_t",
    (s, dir) => {
      val micros = (round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
        .cast("long")
      val v = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("g"), micros.as("v"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(19, 0))
      val m = v.groupBy(col("g")).agg(count(lit(1)).as("n"),
        sum(dec(col("v"))).as("sv"), sum(dec(col("v")) * dec(col("v"))).as("svv"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val w = m.agg(
        max(when(col("g") === 0, col("n"))).as("n0"),
        max(when(col("g") === 1, col("n"))).as("n1"),
        max(when(col("g") === 0, d(col("sv")))).as("sv0"),
        max(when(col("g") === 1, d(col("sv")))).as("sv1"),
        max(when(col("g") === 0, d(col("svv")))).as("svv0"),
        max(when(col("g") === 1, d(col("svv")))).as("svv1"))
      val c2 = w.select(col("n0"), col("n1"),
        (col("sv0") / col("n0") / 1e6).as("m0"),
        (col("sv1") / col("n1") / 1e6).as("m1"),
        ((col("n0") * col("svv0") - col("sv0") * col("sv0"))
          / (d(col("n0")) * (col("n0") - 1)) / 1e12).as("s20"),
        ((col("n1") * col("svv1") - col("sv1") * col("sv1"))
          / (d(col("n1")) * (col("n1") - 1)) / 1e12).as("s21"))
      c2.select(col("n0"), col("n1"),
        round(col("m0"), 6).as("mean0"), round(col("m1"), 6).as("mean1"),
        round((col("m0") - col("m1"))
          / sqrt(col("s20") / col("n0") + col("s21") / col("n1")), 6)
          .as("t_stat"),
        round(((col("s20") / col("n0") + col("s21") / col("n1"))
            * (col("s20") / col("n0") + col("s21") / col("n1")))
          / ((col("s20") / col("n0")) * (col("s20") / col("n0")) / (col("n0") - 1)
            + (col("s21") / col("n1")) * (col("s21") / col("n1")) / (col("n1") - 1)),
          6).as("df_welch"),
        round((col("m0") - col("m1"))
          / sqrt(((col("n0") - 1) * col("s20") + (col("n1") - 1) * col("s21"))
            / (col("n0") + col("n1") - 2)), 6).as("cohen_d"))
    },
    Some("""
      WITH v AS (
        SELECT user_id % 2 AS g,
          CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'),
      m AS (
        SELECT g, COUNT(*) AS n,
          SUM(CAST(v AS HUGEINT)) AS sv,
          SUM(CAST(v AS HUGEINT) * v) AS svv
        FROM v GROUP BY g),
      w AS (
        SELECT
          MAX(CASE WHEN g = 0 THEN n END) AS n0,
          MAX(CASE WHEN g = 1 THEN n END) AS n1,
          MAX(CASE WHEN g = 0 THEN CAST(sv AS DOUBLE) END) AS sv0,
          MAX(CASE WHEN g = 1 THEN CAST(sv AS DOUBLE) END) AS sv1,
          MAX(CASE WHEN g = 0 THEN CAST(svv AS DOUBLE) END) AS svv0,
          MAX(CASE WHEN g = 1 THEN CAST(svv AS DOUBLE) END) AS svv1
        FROM m),
      c AS (
        SELECT n0, n1,
          sv0 / n0 / 1e6 AS m0, sv1 / n1 / 1e6 AS m1,
          (n0 * svv0 - sv0 * sv0) / (CAST(n0 AS DOUBLE) * (n0 - 1)) / 1e12 AS s20,
          (n1 * svv1 - sv1 * sv1) / (CAST(n1 AS DOUBLE) * (n1 - 1)) / 1e12 AS s21
        FROM w)
      SELECT n0, n1, round(m0, 6) AS mean0, round(m1, 6) AS mean1,
        round((m0 - m1) / sqrt(s20 / n0 + s21 / n1), 6) AS t_stat,
        round(((s20 / n0 + s21 / n1) * (s20 / n0 + s21 / n1)) /
          ((s20 / n0) * (s20 / n0) / (n0 - 1)
            + (s21 / n1) * (s21 / n1) / (n1 - 1)), 6) AS df_welch,
        round((m0 - m1) / sqrt(((n0 - 1) * s20 + (n1 - 1) * s21)
          / (n0 + n1 - 2)), 6) AS cohen_d
      FROM c
    """))

  /** PER-SEGMENT LOG-LOG OLS (price-elasticity style) — slope, intercept,
    * R² of ln(quantity) on ln(price) per return flag: the grouped
    * regression readout pricing teams run per category. Float discipline:
    * each row's (ln x, ln y) pair is ONE libm call rounded @6 and frozen
    * as DECIMAL(18,6), so all five moments (Σx, Σy, Σxy, Σx², Σy²) are
    * EXACT decimal sums — order-independent, unlike a bare double Σ (the
    * q204 rule applied to regression). The closing S-form chains run once
    * per GROUP (bounded rows) in identical double arithmetic. One keyed
    * aggregate over the scan; map-side partial. */
  lazy val q240SegmentOls: Q = Q(
    "q240_segment_ols",
    (s, dir) => {
      val pts = t(s, dir, "lineitem")
        .filter(col("l_extendedprice") > 0 && col("l_quantity") > 0)
        .select(col("l_returnflag").as("seg"),
          round(log(col("l_extendedprice")), 6).cast(DecimalType(18, 6)).as("x"),
          round(log(col("l_quantity")), 6).cast(DecimalType(18, 6)).as("y"))
      val m = pts.groupBy(col("seg")).agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val sNum = col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val sDen = col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      m.select(col("seg"), col("n"),
        round(sNum / sDen, 6).as("slope"),
        round((d(col("sy")) - (sNum / sDen) * d(col("sx"))) / col("n"), 6)
          .as("intercept"),
        round((sNum * sNum)
          / (sDen * (col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
          .as("r2"))
    },
    Some("""
      WITH pts AS (
        SELECT l_returnflag AS seg,
          CAST(round(ln(l_extendedprice), 6) AS DECIMAL(18,6)) AS x,
          CAST(round(ln(l_quantity), 6) AS DECIMAL(18,6)) AS y
        FROM lineitem WHERE l_extendedprice > 0 AND l_quantity > 0),
      m AS (
        SELECT seg, COUNT(*) AS n,
          SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
          SUM(x*x) AS sxx, SUM(y*y) AS syy
        FROM pts GROUP BY seg)
      SELECT seg, n,
        round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
          AS slope,
        round((CAST(sy AS DOUBLE)
            - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
        round(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
          / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
          6) AS r2
      FROM m
    """))

  /** MARKOV STATIONARY DISTRIBUTION of the event-type chain — where the
    * q154 transition matrix SETTLES: π after four exact power-method
    * rounds from uniform, the long-run "share of attention" per event
    * type (the steady-state a session simulator would sample from). The
    * transition rows come from one LEAD over the (user, ts) window
    * (q188's recipe); probabilities and π live in integer micromass
    * (p = c·1e9 div c_row, π step = Σ π·p div 1e9 — every product ≤ 1e18,
    * inside int64 in both engines) ⇒ FULL oracle, the q130 discipline on
    * a row-stochastic matrix instead of a graph. State space is the
    * event-type alphabet — the iteration tables are trivially bounded;
    * the only data-sized pass is the transition count. */
  lazy val q242MarkovStationary: Q = Q(
    "q242_markov_stationary",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val S = 1000000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("a"), col("nxt").as("b"))
        .agg(count(lit(1)).as("c"))
        .barrier() // feeds row totals AND the probability join
      val rowTot = trans.groupBy(col("a")).agg(sum(col("c")).as("ca"))
      val p = trans.join(rowTot, Seq("a"))
        .select(col("a"), col("b"), expr(s"(c * ${S}L) div ca").as("p"))
        .barrier(eager = true) // the 4 rounds re-read this ≤|A|² table
      val nStates = rowTot.count()
      var pi = rowTot.select(col("a").as("st")).withColumn("pi", lit(S / nStates))
      for (_ <- 1 to 4) {
        pi = p.join(pi, col("a") === col("st"))
          .select(col("b"), expr(s"(pi * p) div ${S}L").as("contrib"))
          .groupBy(col("b")).agg(sum(col("contrib")).as("pi"))
          .select(col("b").as("st"), col("pi"))
      }
      pi.select(col("st").as("event_type"), col("pi"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type,
          LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS nxt
        FROM events),
      c AS (SELECT event_type AS a, nxt AS b, COUNT(*) AS c FROM ev
            WHERE nxt IS NOT NULL GROUP BY 1, 2),
      rowtot AS (SELECT a, SUM(c) AS ca FROM c GROUP BY a),
      p AS (SELECT a, b, CAST(c * 1000000000 // ca AS BIGINT) AS p
            FROM c JOIN rowtot USING (a)),
      pi0 AS (SELECT a AS st, CAST(1000000000 // (SELECT COUNT(*) FROM rowtot)
                AS BIGINT) AS pi FROM rowtot),
      pi1 AS (SELECT b AS st, CAST(SUM(pi * p // 1000000000) AS BIGINT) AS pi
              FROM p JOIN pi0 ON p.a = pi0.st GROUP BY b),
      pi2 AS (SELECT b AS st, CAST(SUM(pi * p // 1000000000) AS BIGINT) AS pi
              FROM p JOIN pi1 ON p.a = pi1.st GROUP BY b),
      pi3 AS (SELECT b AS st, CAST(SUM(pi * p // 1000000000) AS BIGINT) AS pi
              FROM p JOIN pi2 ON p.a = pi2.st GROUP BY b),
      pi4 AS (SELECT b AS st, CAST(SUM(pi * p // 1000000000) AS BIGINT) AS pi
              FROM p JOIN pi3 ON p.a = pi3.st GROUP BY b)
      SELECT st AS event_type, pi FROM pi4
    """))

  /** THEIL INDEX of customer revenue — the entropy-based inequality
    * measure that DECOMPOSES (unlike q176's Gini): T = Σ (xᵢ/X)·ln(n·xᵢ/X)
    * over per-customer revenue. Revenue is exact integer cents; each
    * customer's term is one identical double chain rounded @9 and the
    * data-sized Σ runs in DECIMAL (the q204/q239 order-independence
    * recipe); totals ride a 1-row broadcast. One keyed aggregate + one
    * global sum — map-side partial all the way. */
  lazy val q243TheilIndex: Q = Q(
    "q243_theil_index",
    (s, dir) => {
      val x = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast(DecimalType(28, 2)) * 100)
          .cast("long")).as("cents"))
        .barrier() // feeds the total AND the terms
      val tot = x.agg(sum(col("cents").cast(DecimalType(38, 0))).as("tc"),
        count(lit(1)).as("n"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      x.crossJoin(broadcast(tot))
        .select(round((d(col("cents")) / d(col("tc")))
          * log(d(col("cents")) * col("n") / d(col("tc"))), 9).as("term"))
        .agg(round(sum(col("term").cast(DecimalType(38, 9))).cast("double"), 6)
          .as("theil"),
          count(lit(1)).as("n_customers"))
    },
    Some("""
      WITH x AS (
        SELECT o_custkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)) * 100) AS BIGINT)
            AS cents
        FROM orders GROUP BY o_custkey),
      tot AS (SELECT SUM(CAST(cents AS HUGEINT)) AS tc, COUNT(*) AS n FROM x),
      terms AS (
        SELECT round((CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE)) *
          ln(CAST(cents AS DOUBLE) * n / CAST(tc AS DOUBLE)), 9) AS term
        FROM x, tot)
      SELECT round(CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE), 6) AS theil,
        CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM terms
    """))

  /** BASKET-BRAND ENTROPY per order priority — Shannon entropy of the
    * part-brand mix each priority class buys (the assortment-diversity
    * readout next to q211's mutual information and q239's KL: MI asks
    * "are two categoricals dependent", KL "how far apart are two
    * distributions", this "how spread is ONE distribution"). Counts from
    * one three-way keyed star join + grouped count; each −p·ln p term is
    * one identical double chain rounded @9 and the per-group Σ runs in
    * DECIMAL (brand support is data-sized in general — the q204/q239
    * order-independence recipe), output one row per priority. */
  lazy val q247BasketEntropy: Q = Q(
    "q247_basket_entropy",
    (s, dir) => {
      val bl = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("o_orderpriority").as("prio"), col("p_brand").as("brand"))
        .agg(count(lit(1)).as("c"))
        .barrier() // feeds the per-priority total AND the terms
      val tot = bl.groupBy(col("prio")).agg(sum(col("c")).as("n"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      bl.join(tot, Seq("prio"))
        .select(col("prio"), col("n"),
          round(-(d(col("c")) / col("n")) * log(d(col("c")) / col("n")), 9)
            .as("term"))
        .groupBy(col("prio"))
        .agg(max(col("n")).as("n_lines"),
          round(sum(col("term").cast(DecimalType(38, 9))).cast("double"), 6)
            .as("brand_entropy"))
    },
    Some("""
      WITH bl AS (
        SELECT o.o_orderpriority AS prio, p.p_brand AS brand, COUNT(*) AS c
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2),
      tot AS (SELECT prio, SUM(c) AS n FROM bl GROUP BY prio),
      terms AS (
        SELECT bl.prio,
          round(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 9) AS term,
          n
        FROM bl JOIN tot ON bl.prio = tot.prio)
      SELECT prio,
        CAST(MAX(n) AS BIGINT) AS n_lines,
        round(CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE), 6)
          AS brand_entropy
      FROM terms GROUP BY prio
    """))

  /** SPRT — Wald's sequential probability ratio test over the purchase
    * stream in event order: the "stop the experiment as soon as the
    * evidence decides" readout (H₀: p = 0.45 vs H₁: p = 0.55 for
    * P(value > 50), α = β = 0.05 ⇒ boundaries ±ln 19). The log-likelihood
    * ratio is a RANDOM WALK over the globally ordered observations — a
    * data-sized running sum, so it rides [[graft.ext.Scan]]'s distributed
    * prefix scan (never a single-partition window; the fourth data-sized
    * Scan consumer after q195/q202/q213) plus the distributed dense rank
    * for the step index. Float discipline: the two LLR increments and the
    * boundary are CONSTANTS computed in-engine (same libm both sides),
    * frozen to µ-nat longs — the walk itself is exact integer addition,
    * so crossing positions are bit-deterministic. Output: one row —
    * n_obs, first boundary-crossing step per hypothesis (null = never),
    * final LLR. */
  lazy val q245Sprt: Q = Q(
    "q245_sprt",
    (s, dir) => {
      val inc1 = round(log(lit(0.55) / lit(0.45)) * 1000000).cast("long")
      val inc0 = round(log(lit(0.45) / lit(0.55)) * 1000000).cast("long")
      val b = round(log(lit(19.0)) * 1000000).cast("long")
      val obs = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts"), col("event_id"),
          when(col("value") > 50, inc1).otherwise(inc0).as("term"))
      val ranked = graft.ext.Dedup.distributedDenseRank(
        obs, Seq(col("ts"), col("event_id")), "pos")
      val cum = graft.ext.Scan.runningSumExclusive(ranked,
          Seq(col("ts"), col("event_id")), "term", "llr_before")
        .select(col("pos"),
          (coalesce(col("llr_before"), lit(0L)) + col("term")).as("llr"))
      cum.agg(
        count(lit(1)).as("n_obs"),
        min(when(col("llr") >= b, col("pos"))).as("first_accept_h1"),
        min(when(col("llr") <= -b, col("pos"))).as("first_accept_h0"),
        expr("max_by(llr, pos)").as("final_llr"))
    },
    Some("""
      WITH consts AS (
        SELECT CAST(round(ln(0.55 / 0.45) * 1000000) AS BIGINT) AS inc1,
               CAST(round(ln(0.45 / 0.55) * 1000000) AS BIGINT) AS inc0,
               CAST(round(ln(19.0) * 1000000) AS BIGINT) AS b),
      obs AS (
        SELECT ts, event_id,
          CASE WHEN value > 50 THEN (SELECT inc1 FROM consts)
               ELSE (SELECT inc0 FROM consts) END AS term
        FROM events WHERE event_type = 'purchase'),
      cum AS (
        SELECT CAST(SUM(term) OVER (ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS llr,
          CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS BIGINT) AS pos
        FROM obs)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
        MIN(CASE WHEN llr >= (SELECT b FROM consts) THEN pos END)
          AS first_accept_h1,
        MIN(CASE WHEN llr <= -(SELECT b FROM consts) THEN pos END)
          AS first_accept_h0,
        CAST(max_by(llr, pos) AS BIGINT) AS final_llr
      FROM cum
    """))

  /** RETENTION DECAY FIT — the exponential-decay readout growth teams put
    * on top of a q199-style cohort curve: the day-0 cohort's daily
    * active-rate r_k, fit ln r_k = a − λk by OLS over the (bounded,
    * ≤ span-days) point table ⇒ decay rate λ and half-life ln2/λ. The
    * only data-sized passes are the per-user first-day aggregate and the
    * cohort-day distinct; the fit runs over ≤ 30 points — but still in
    * the q240 discipline (ln rounded @6 frozen as DECIMAL, exact moment
    * sums) because even a 30-row double Σ is partition-order-dependent.
    * Cross-engine: day arithmetic is epoch-day integers, ln the shared
    * libm, one identical closing chain ⇒ full oracle. */
  lazy val q246RetentionDecay: Q = Q(
    "q246_retention_decay",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_date(to_date(col("ts"))).cast("long").as("d"))
        .barrier() // feeds first-day, cohort, and activity
      val fm = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      val g0 = fm.agg(min(col("d0")).as("gmin"))
      val cohort = fm.crossJoin(broadcast(g0))
        .filter(col("d0") === col("gmin")).select(col("user_id"))
      val act = ev.join(cohort, Seq("user_id"))
        .crossJoin(broadcast(g0))
        .select(col("user_id"), (col("d") - col("gmin")).as("k"))
        .groupBy(col("k")).agg(countDistinct(col("user_id")).as("active"))
        .barrier() // feeds base AND points
      val base = act.filter(col("k") === 0).select(col("active").as("n0"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val pts = act.crossJoin(broadcast(base))
        .filter(col("k") >= 1 && col("active") > 0)
        .select(col("k").cast(DecimalType(18, 6)).as("x"),
          round(log(d(col("active")) / col("n0")), 6)
            .cast(DecimalType(18, 6)).as("y"),
          col("n0"))
      val m = pts.groupBy(col("n0")).agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val sNum = col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val sDen = col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      m.select(col("n0").as("cohort_size"), col("n").as("n_points"),
        round(-(sNum / sDen), 6).as("lambda_per_day"),
        round(lit(0.6931471805599453) / (-(sNum / sDen)), 6)
          .as("half_life_days"),
        round((sNum * sNum)
          / (sDen * (col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
          .as("r2"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        FROM events),
      fm AS (SELECT user_id, MIN(d) AS d0 FROM ev GROUP BY user_id),
      g0 AS (SELECT MIN(d0) AS gmin FROM fm),
      cohort AS (SELECT user_id FROM fm, g0 WHERE d0 = gmin),
      act AS (
        SELECT e.d - g0.gmin AS k, COUNT(DISTINCT e.user_id) AS active
        FROM ev e JOIN cohort c ON e.user_id = c.user_id, g0
        GROUP BY 1),
      base AS (SELECT active AS n0 FROM act WHERE k = 0),
      pts AS (
        SELECT CAST(k AS DECIMAL(18,6)) AS x,
          CAST(round(ln(CAST(active AS DOUBLE) / n0), 6) AS DECIMAL(18,6)) AS y,
          n0
        FROM act, base WHERE k >= 1 AND active > 0),
      m AS (
        SELECT n0, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
        FROM pts GROUP BY n0)
      SELECT n0 AS cohort_size, n AS n_points,
        round(-((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))),
          6) AS lambda_per_day,
        round(0.6931471805599453 /
          (-((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))),
          6) AS half_life_days,
        round(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
          / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
          6) AS r2
      FROM m
    """))

  /** LOW-WATERMARK SCAN — each order against the cheapest order seen
    * BEFORE it on the global (day, orderkey) timeline: the
    * "new-minimum?" / record-tracking shape (price floors, best-quote
    * tracking), and the catalog consumer of the third
    * [[graft.ext.Scan]] aggregate (runningMinExclusive — max drives
    * q192's skyline, sum q195/q202/q203). One output row per order =
    * data-sized, so the running min comes from the distributed prefix
    * scan, never a single-partition window. Exact integer cents
    * throughout; is_new_low is one integer comparison. */
  lazy val q213LowWatermark: Q = Q(
    "q213_low_watermark",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("day"),
        (col("o_totalprice").cast(DecimalType(28, 2)) * 100).cast("long")
          .as("cents"))
      graft.ext.Scan.runningMinExclusive(o,
          Seq(col("day"), col("o_orderkey")), "cents", "prior_min")
        .select(col("o_orderkey"), col("day"), col("cents"), col("prior_min"),
          (col("prior_min").isNull || col("cents") < col("prior_min"))
            .as("is_new_low"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey,
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
        FROM orders)
      SELECT o_orderkey, day, cents,
        CAST(MIN(cents) OVER (ORDER BY day, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
          AS prior_min,
        (MIN(cents) OVER (ORDER BY day, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR cents < MIN(cents) OVER (ORDER BY day, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS is_new_low
      FROM o
    """))

  /** GAPS-AND-ISLANDS — per-user runs of consecutive active days (streaks),
    * the classic sequence-integrity shape (login streaks, sensor uptime,
    * SLA windows) via the row_number-difference trick: within a user,
    * `day − row_number()` is constant exactly along a gap-free run, so one
    * keyed window + one groupBy materializes every island with its span.
    *
    * Scale shape: `distinct` collapses the event stream to |user-days|
    * FIRST (map-side partial dedup), and every window/group after that is
    * partitioned BY USER — no global window, no skew beyond a user's own
    * day count (≤ days-in-range, bounded). Days are exact epoch integers
    * (q213's convention), counts BIGINT — bit-exact oracle. */
  lazy val q215GapsIslands: Q = Q(
    "q215_gaps_islands",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val days = t(s, dir, "events")
        .select(col("user_id"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(
          min(col("day")).as("start_day"),
          max(col("day")).as("end_day"),
          count(lit(1)).as("streak_len"))
        .select(col("user_id"), col("start_day"), col("end_day"), col("streak_len"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        FROM events),
      numbered AS (
        SELECT user_id, day,
          day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
        FROM days)
      SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
        COUNT(*) AS streak_len
      FROM numbered GROUP BY user_id, island
    """))

  /** CROSS-CORRELATION LEAD-LAG — Pearson correlation between the daily
    * click series and the daily purchase series at each lag 0..7: the
    * "does activity in A lead activity in B, and by how many days?"
    * detector (q204's autocorrelation is the self-paired special case).
    *
    * Alignment is a keyed equi-join on `purchase_day = click_day + lag`
    * over the DAILY AGGREGATE series (|days| rows — the raw stream is
    * reduced before any pairing), crossed with the 8-row lag spine; the
    * correlation is assembled from exact integer count sums (n, Σx, Σy,
    * Σxy, Σx², Σy²) converted to double only for the final closed form —
    * both engines run the identical double expression, so the quotient is
    * bit-equal and 6dp rounding is pure cosmetics. At 100 TB the daily
    * series is still |days|-sized (data-independent); only the first
    * groupBy sees data volume, and it partial-aggregates map-side. */
  lazy val q216CrossCorrelation: Q = Q(
    "q216_cross_correlation",
    (s, dir) => {
      def daily(tpe: String, cnt: String) =
        t(s, dir, "events")
          .filter(col("event_type") === tpe)
          .groupBy(unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(count(lit(1)).as(cnt))
      val a = daily("click", "x")
      val b = daily("purchase", "y").withColumnRenamed("day", "bday")
      val lags = s.range(0, 8).select(col("id").as("lag"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      a.crossJoin(lags)
        .join(b, col("bday") === col("day") + col("lag"))
        .groupBy(col("lag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n"),
          round(
            (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
              (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
                sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))),
            6).as("xcorr"))
    },
    Some("""
      WITH a AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          COUNT(*) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1),
      b AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS bday,
          COUNT(*) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      lags AS (SELECT UNNEST(range(8)) AS lag),
      j AS (
        SELECT l.lag, a.x, b.y
        FROM a CROSS JOIN lags l JOIN b ON b.bday = a.day + l.lag),
      s AS (
        SELECT lag, COUNT(*) AS n,
          SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
          SUM(x*x) AS sxx, SUM(y*y) AS syy
        FROM j GROUP BY lag)
      SELECT lag, n,
        round(
          (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
           sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
          6) AS xcorr
      FROM s
    """))

  /** M4 VISUALIZATION DOWNSAMPLING (Jugel et al., VLDB 2014) — reduce the
    * 'view' event value series to ≤4 points per pixel-bucket (first, last,
    * min-value, max-value), the lossless-for-rendering reduction every
    * dashboard over a 100 TB series needs: a line drawn through the M4
    * points is pixel-identical to one drawn through all of them.
    *
    * Scale shape (r18 — caught by the generalized physical lint): the
    * original min/max of (key, tiebreak, payload) STRUCTS carried
    * struct-typed aggregation buffers, which HashAggregate rejects — the
    * whole series silently paid SortAggregate's interpreted per-row
    * updates, the exact q179-r17 degradation class on the one operator
    * DESIGNED for billion-point inputs. Now: four
    * [[graft.functions.ArgExtremumPayload]] aggregates — the winner's
    * (us, v) payload rides in the same FLAT buffer, so the plan is the
    * original's single pass and single aggregate, HashAggregate'd (a
    * fetch-back join variant measured 2–4× the wall; the payload buffer
    * costs nothing). Tie semantics are IDENTICAL to the struct
    * comparators (min struct ties → smallest event_id = argmin; max
    * struct ties → largest event_id = argmax on the NEGATED id): the
    * oracle is unchanged. Scores are exact in double (µs < 2⁵³; v
    * pre-rounded). The bucket id is exact integer µs arithmetic against
    * the global [lo, hi] span (one scalar-aggregate broadcast); IEEE
    * division+floor is bit-identical cross-engine. Full DuckDB oracle. */
  lazy val q218M4Downsample: Q = Q(
    "q218_m4_downsample",
    (s, dir) => {
      import graft.functions.ArgExtremum.{argmaxStruct, argminStruct}
      val w = 100
      val e = t(s, dir, "events").filter(col("event_type") === "view")
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          round(col("value"), 6).as("v"))
      val bounds = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      e.crossJoin(bounds)
        .withColumn("bucket",
          least(lit((w - 1).toLong),
            floor(((col("us") - col("lo")) * w).cast("double") /
              (col("hi") - col("lo") + 1).cast("double"))))
        .groupBy(col("bucket"))
        .agg(
          argminStruct(col("event_id"), col("us").cast("double"),
            col("us"), col("v")).as("p_first"),
          argmaxStruct(-col("event_id"), col("us").cast("double"),
            col("us"), col("v")).as("p_last"),
          argminStruct(col("event_id"), col("v"),
            col("us"), col("v")).as("p_vmin"),
          argmaxStruct(-col("event_id"), col("v"),
            col("us"), col("v")).as("p_vmax"),
          count(lit(1)).as("n"))
        .select(col("bucket"), col("n"),
          col("p_first.p1").as("first_us"), col("p_first.p2").as("first_v"),
          col("p_last.p1").as("last_us"), col("p_last.p2").as("last_v"),
          col("p_vmin.p2").as("min_v"), col("p_vmin.p1").as("min_v_us"),
          col("p_vmax.p2").as("max_v"), col("p_vmax.p1").as("max_v_us"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, epoch_us(ts) AS us, round(value, 6) AS v
        FROM events WHERE event_type = 'view'),
      b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM e),
      bucketed AS (
        SELECT e.*,
          LEAST(99, CAST(FLOOR(
            CAST((us - lo) * 100 AS DOUBLE) / CAST(hi - lo + 1 AS DOUBLE)
          ) AS BIGINT)) AS bucket
        FROM e CROSS JOIN b),
      agg AS (
        SELECT bucket, COUNT(*) AS n,
          MIN(struct_pack(us := us, id := event_id, v := v)) AS p_first,
          MAX(struct_pack(us := us, id := event_id, v := v)) AS p_last,
          MIN(struct_pack(v := v, id := event_id, us := us)) AS p_vmin,
          MAX(struct_pack(v := v, id := event_id, us := us)) AS p_vmax
        FROM bucketed GROUP BY bucket)
      SELECT bucket, n,
        p_first.us AS first_us, p_first.v AS first_v,
        p_last.us AS last_us,  p_last.v AS last_v,
        p_vmin.v AS min_v, p_vmin.us AS min_v_us,
        p_vmax.v AS max_v, p_vmax.us AS max_v_us
      FROM agg
    """))

  /** OVERLAPPING-INTERVAL MERGE — collapse each user's 5-minute activity
    * windows (one per click/view event) into maximal disjoint coverage
    * spans: the sweep-line union that powers uptime/downtime rollups, SLA
    * coverage, and billable-time dedup (q215 merges integer DAYS; this
    * merges real [start,end) intervals that can overlap arbitrarily).
    * A row starts a new span iff its start exceeds the running max END of
    * every earlier interval of the same user (1-PRECEDING frame, so the
    * first row's NULL max reads as "new span"); the cumulative flag sum is
    * the span id — two per-user windows and a groupBy, no self-join.
    *
    * Scale shape: everything is partitioned BY USER (bounded per-user
    * width; the global shuffle is one hash exchange on user_id), exact
    * integer µs arithmetic end-to-end. Full DuckDB oracle. */
  lazy val q219IntervalMerge: Q = Q(
    "q219_interval_merge",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val iv = t(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ivs"),
          (unix_micros(col("ts")) + 300000000L).as("ive"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ivs"), col("event_id"))
      val prevMaxEnd = order.rowsBetween(Window.unboundedPreceding, -1)
      val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("new_span",
          when(col("ivs") > max(col("ive")).over(prevMaxEnd), 1L)
            .when(max(col("ive")).over(prevMaxEnd).isNull, 1L)
            .otherwise(0L))
        .withColumn("span", sum(col("new_span")).over(cum))
        .groupBy(col("user_id"), col("span"))
        .agg(min(col("ivs")).as("span_start"), max(col("ive")).as("span_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("span"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start")).as("covered_us"), col("n_events"))
    },
    Some("""
      WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS ivs,
          epoch_us(ts) + 300000000 AS ive
        FROM events WHERE event_type IN ('click', 'view')),
      flagged AS (
        SELECT user_id, ivs, ive,
          CASE
            WHEN ivs > MAX(ive) OVER (PARTITION BY user_id ORDER BY ivs, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1
            WHEN MAX(ive) OVER (PARTITION BY user_id ORDER BY ivs, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL THEN 1
            ELSE 0 END AS new_span,
          event_id
        FROM iv),
      spans AS (
        SELECT user_id, ivs, ive,
          SUM(new_span) OVER (PARTITION BY user_id ORDER BY ivs, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        FROM flagged)
      SELECT user_id, CAST(span AS BIGINT) AS span,
        MIN(ivs) AS span_start, MAX(ive) AS span_end,
        MAX(ive) - MIN(ivs) AS covered_us,
        COUNT(*) AS n_events
      FROM spans GROUP BY user_id, span
    """))

  /** WILCOXON SIGNED-RANK TEST — the PAIRED nonparametric test (q202's
    * Mann-Whitney compares two independent samples; this tests whether the
    * per-day click-vs-view revenue DIFFERENCE is symmetric around zero,
    * pairing by day). Zero diffs drop (the standard treatment); |d| gets
    * tie-averaged ranks kept exact as doubled integers via the q202/q169
    * counting recipe — here the rank window runs over the DISTINCT-|d|
    * table of an already-aggregated ≤|days| series, bounded support (the
    * q186 rule), so a plain ordered window is scale-safe. W₊/W₋ and the
    * tie term Σ(t³−t) stay integers; the normal-approximation z is one
    * identical-order double chain on both engines. Day totals are exact
    * µ-unit longs (round@6 → DECIMAL → ×1e6). */
  lazy val q221Wilcoxon: Q = Q(
    "q221_wilcoxon",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def daily(tpe: String, cname: String) =
        t(s, dir, "events").filter(col("event_type") === tpe)
          .groupBy(unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(sum((round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
            .cast("long")).as(cname))
      val d = daily("click", "cx")
        .join(daily("view", "cy").withColumnRenamed("day", "day2"),
          col("day") === col("day2"))
        .select(col("day"), (col("cx") - col("cy")).as("d"))
        .filter(col("d") =!= 0)
        .withColumn("absd", abs(col("d")))
        .barrier() // feeds ranks, tie term, and the final join
      val byVal = d.groupBy(col("absd")).agg(count(lit(1)).as("c"))
        .barrier()
      val w = Window.orderBy(col("absd"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = byVal
        .withColumn("prior", coalesce(sum(col("c")).over(w), lit(0L)))
        .withColumn("r2", lit(2) * col("prior") + col("c") + 1) // doubled avg rank
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      d.join(ranked, Seq("absd"))
        .agg(
          count(lit(1)).as("n"),
          (sum(when(col("d") > 0, col("r2")).otherwise(0L)) / 2.0).as("w_plus"),
          (sum(when(col("d") < 0, col("r2")).otherwise(0L)) / 2.0).as("w_minus"))
        .crossJoin(byVal.agg(
          sum(col("c") * col("c") * col("c") - col("c")).as("tsum")))
        .select(col("n"), col("w_plus"), col("w_minus"),
          round(
            (col("w_plus") - dd(col("n")) * (dd(col("n")) + 1.0) / 4.0) /
              sqrt(dd(col("n")) * (dd(col("n")) + 1.0) *
                (dd(col("n")) * 2.0 + 1.0) / 24.0 - dd(col("tsum")) / 48.0),
            6).as("z"))
    },
    Some("""
      WITH cx AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000) AS BIGINT) AS cx
        FROM events WHERE event_type = 'click' GROUP BY 1),
      cy AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000) AS BIGINT) AS cy
        FROM events WHERE event_type = 'view' GROUP BY 1),
      d AS (
        SELECT cx.day, cx - cy AS d, abs(cx - cy) AS absd
        FROM cx JOIN cy ON cx.day = cy.day WHERE cx - cy <> 0),
      by_val AS (SELECT absd, COUNT(*) AS c FROM d GROUP BY absd),
      ranked AS (
        SELECT absd, c,
          2 * COALESCE(SUM(c) OVER (ORDER BY absd
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
        FROM by_val),
      agg AS (
        SELECT COUNT(*) AS n,
          SUM(CASE WHEN d.d > 0 THEN r2 ELSE 0 END) / 2.0e0 AS w_plus,
          SUM(CASE WHEN d.d < 0 THEN r2 ELSE 0 END) / 2.0e0 AS w_minus
        FROM d JOIN ranked ON d.absd = ranked.absd),
      ties AS (SELECT SUM(c*c*c - c) AS tsum FROM by_val)
      SELECT n, w_plus, w_minus,
        round(
          (w_plus - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0) / 4.0e0) /
          sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0e0)
               * (2.0e0 * CAST(n AS DOUBLE) + 1.0e0) / 24.0e0
               - CAST(tsum AS DOUBLE) / 48.0e0),
          6) AS z
      FROM agg CROSS JOIN ties
    """))

  /** MASE FORECAST-BASELINE EVAL (Hyndman & Koehler 2006) — per event
    * type, the seasonal-naive(7) forecaster's mean absolute error scaled
    * by the in-sample naive(1) MAE: the standard "is my forecast better
    * than just repeating last week?" health metric (MASE < 1 beats the
    * naive baseline). Lag alignment is an explicit keyed self-join on
    * `day − k` over the aggregated daily series (missing days drop from
    * both engines identically — a window LAG would silently pair across
    * gaps), errors are exact µ-unit integer |diffs|, and each MAE and the
    * final ratio is an unrounded exact-int division (identical doubles
    * per the catalog determinism rules). */
  lazy val q222Mase: Q = Q(
    "q222_mase",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .agg(sum((round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
          .cast("long")).as("rev"))
        .barrier() // three self-join arms
      def lagged(k: Int, err: String) = daily
        .join(daily.select(col("event_type"), (col("day") + k).as("day"),
          col("rev").as("prev")), Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(sum(abs(col("rev") - col("prev"))).as(s"sum_$err"),
          count(lit(1)).as(s"cnt_$err"))
      lagged(1, "e1").join(lagged(7, "e7"), Seq("event_type"))
        .select(col("event_type"), col("cnt_e1"), col("cnt_e7"),
          (col("sum_e1").cast("double") / col("cnt_e1")).as("mae_naive1"),
          (col("sum_e7").cast("double") / col("cnt_e7")).as("mae_snaive7"),
          round((col("sum_e7").cast("double") / col("cnt_e7")) /
            (col("sum_e1").cast("double") / col("cnt_e1")), 6).as("mase"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000) AS BIGINT) AS rev
        FROM events GROUP BY 1, 2),
      e1 AS (
        SELECT a.event_type, SUM(abs(a.rev - b.rev)) AS sum_e1,
          COUNT(*) AS cnt_e1
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day = b.day + 1
        GROUP BY 1),
      e7 AS (
        SELECT a.event_type, SUM(abs(a.rev - b.rev)) AS sum_e7,
          COUNT(*) AS cnt_e7
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day = b.day + 7
        GROUP BY 1)
      SELECT e1.event_type, cnt_e1, cnt_e7,
        CAST(sum_e1 AS DOUBLE) / cnt_e1 AS mae_naive1,
        CAST(sum_e7 AS DOUBLE) / cnt_e7 AS mae_snaive7,
        round((CAST(sum_e7 AS DOUBLE) / cnt_e7)
            / (CAST(sum_e1 AS DOUBLE) / cnt_e1), 6) AS mase
      FROM e1 JOIN e7 ON e1.event_type = e7.event_type
    """))

  /** KENDALL τ-b RANK CORRELATION — the third rank-association measure
    * beside Spearman (q203) and Pearson (q51): concordant-vs-discordant
    * day pairs between the daily click and purchase counts, with the
    * tie-corrected τ-b denominator. Pair enumeration is the bounded-
    * support day×day self-join (≤|days|² rows — the q186 Theil-Sen
    * shape; an inversion-count over data-sized series would need the
    * Scan tier instead). All pair classes (concordant, discordant,
    * x-tie, y-tie, both-tie) are exact integer counts; n₁ = tx + txy and
    * n₂ = ty + txy fall straight out of the pair classes, and τ-b is one
    * identical double chain with correctly-rounded sqrt. */
  lazy val q223KendallTau: Q = Q(
    "q223_kendall_tau",
    (s, dir) => {
      def daily(tpe: String, cname: String) =
        t(s, dir, "events").filter(col("event_type") === tpe)
          .groupBy(unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(count(lit(1)).as(cname))
      val series = daily("click", "x")
        .join(daily("purchase", "y").withColumnRenamed("day", "day2"),
          col("day") === col("day2"))
        .select(col("day"), col("x"), col("y"))
      val pairs = series.select(col("day").as("di"), col("x").as("xi"), col("y").as("yi"))
        .join(series.select(col("day").as("dj"), col("x").as("xj"), col("y").as("yj")),
          col("di") < col("dj"))
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val s0 = pairs.agg(
        count(lit(1)).as("n0"),
        countIf((col("xi") - col("xj")) * (col("yi") - col("yj")) > 0).as("nc"),
        countIf((col("xi") - col("xj")) * (col("yi") - col("yj")) < 0).as("nd"),
        countIf(col("xi") === col("xj") && col("yi") =!= col("yj")).as("tx"),
        countIf(col("yi") === col("yj") && col("xi") =!= col("xj")).as("ty"),
        countIf(col("xi") === col("xj") && col("yi") === col("yj")).as("txy"))
      s0.select(col("n0"), col("nc"), col("nd"), col("tx"), col("ty"), col("txy"),
        round(
          (dd(col("nc")) - dd(col("nd"))) /
            (sqrt(dd(col("n0")) - dd(col("tx") + col("txy"))) *
              sqrt(dd(col("n0")) - dd(col("ty") + col("txy")))),
          6).as("tau_b"))
    },
    Some("""
      WITH cx AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          COUNT(*) AS x
        FROM events WHERE event_type = 'click' GROUP BY 1),
      cy AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          COUNT(*) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      series AS (
        SELECT cx.day, x, y FROM cx JOIN cy ON cx.day = cy.day),
      pairs AS (
        SELECT i.x AS xi, i.y AS yi, j.x AS xj, j.y AS yj
        FROM series i JOIN series j ON i.day < j.day),
      s0 AS (
        SELECT COUNT(*) AS n0,
          %s AS nc,
          %s AS nd,
          %s AS tx,
          %s AS ty,
          %s AS txy
        FROM pairs)
      SELECT n0, nc, nd, tx, ty, txy,
        round(
          (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE)) /
          (sqrt(CAST(n0 AS DOUBLE) - CAST(tx + txy AS DOUBLE)) *
           sqrt(CAST(n0 AS DOUBLE) - CAST(ty + txy AS DOUBLE))),
          6) AS tau_b
      FROM s0
    """.format(
      QueryDsl.oracleCountIf("(xi - xj) * (yi - yj) > 0"),
      QueryDsl.oracleCountIf("(xi - xj) * (yi - yj) < 0"),
      QueryDsl.oracleCountIf("xi = xj AND yi <> yj"),
      QueryDsl.oracleCountIf("yi = yj AND xi <> xj"),
      QueryDsl.oracleCountIf("xi = xj AND yi = yj"))))

  /** DIFFERENCE-IN-DIFFERENCES — the workhorse quasi-experimental
    * estimator: mean purchase value, treatment vs control, before vs after
    * the mid-month cutoff; DiD = (T_post − T_pre) − (C_post − C_pre) nets
    * out both the group baseline and the common time trend. Assignment is
    * the deterministic hash-bucket arm (`user_id % 3 = 0` — the q64 split
    * family; engine-portable arithmetic, and how a real experiment
    * assigns) — at scale an assignment TABLE joins in user-keyed instead,
    * identical shape to q225's per-user aggregate. ONE conditional-
    * aggregate pass over the purchase stream (map-side partials); exact
    * µ-unit sums, unrounded exact-int means, one identical double chain
    * for the estimate. */
  lazy val q224DiffInDiff: Q = Q(
    "q224_diff_in_diff",
    (s, dir) => {
      val cutoff = 19738L // 2024-01-16
      val j = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(
          (col("user_id") % 3 === 0).as("treat"),
          (unix_date(to_date(col("ts"))).cast("long") < cutoff).as("pre"),
          (round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
            .cast("long").as("v"))
      def cell(cond: org.apache.spark.sql.Column, tag: String) = Seq(
        sum(when(cond, col("v")).otherwise(0L)).as(s"s_$tag"),
        countIf(cond).as(s"n_$tag"))
      val agg = j.agg(
        cell(col("treat") && col("pre"), "tp").head,
        (cell(col("treat") && col("pre"), "tp").tail ++
          cell(col("treat") && !col("pre"), "ta") ++
          cell(!col("treat") && col("pre"), "cp") ++
          cell(!col("treat") && !col("pre"), "ca")): _*)
      def mean(tag: String) =
        col(s"s_$tag").cast("double") / col(s"n_$tag")
      agg.select(
        col("n_tp"), col("n_ta"), col("n_cp"), col("n_ca"),
        mean("tp").as("mean_treat_pre"), mean("ta").as("mean_treat_post"),
        mean("cp").as("mean_ctrl_pre"), mean("ca").as("mean_ctrl_post"),
        round((mean("ta") - mean("tp")) - (mean("ca") - mean("cp")), 6)
          .as("did"))
    },
    Some("""
      WITH j AS (
        SELECT user_id %% 3 = 0 AS treat,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) < 19738 AS pre,
          CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'),
      m AS (
        SELECT
          CAST(SUM(CASE WHEN treat AND pre THEN v ELSE 0 END) AS BIGINT) AS s_tp,
          %s AS n_tp,
          CAST(SUM(CASE WHEN treat AND NOT pre THEN v ELSE 0 END) AS BIGINT) AS s_ta,
          %s AS n_ta,
          CAST(SUM(CASE WHEN NOT treat AND pre THEN v ELSE 0 END) AS BIGINT) AS s_cp,
          %s AS n_cp,
          CAST(SUM(CASE WHEN NOT treat AND NOT pre THEN v ELSE 0 END) AS BIGINT) AS s_ca,
          %s AS n_ca
        FROM j)
      SELECT n_tp, n_ta, n_cp, n_ca,
        CAST(s_tp AS DOUBLE) / n_tp AS mean_treat_pre,
        CAST(s_ta AS DOUBLE) / n_ta AS mean_treat_post,
        CAST(s_cp AS DOUBLE) / n_cp AS mean_ctrl_pre,
        CAST(s_ca AS DOUBLE) / n_ca AS mean_ctrl_post,
        round((CAST(s_ta AS DOUBLE) / n_ta - CAST(s_tp AS DOUBLE) / n_tp)
            - (CAST(s_ca AS DOUBLE) / n_ca - CAST(s_cp AS DOUBLE) / n_cp),
          6) AS did
      FROM m
    """.format(
      QueryDsl.oracleCountIf("treat AND pre"),
      QueryDsl.oracleCountIf("treat AND NOT pre"),
      QueryDsl.oracleCountIf("NOT treat AND pre"),
      QueryDsl.oracleCountIf("NOT treat AND NOT pre"))))

  /** CUPED VARIANCE REDUCTION (Deng et al., WSDM'13) — the standard
    * experiment-sensitivity booster: regress each user's experiment-period
    * purchase total on their PRE-period click total, θ = cov(X,Y)/var(X);
    * the variance of the adjusted metric drops by exactly corr²(X,Y).
    * One user-keyed aggregate builds (x, y) per user, one global aggregate
    * builds the five moments — both map-side partial. Products go through
    * DECIMAL (Σxy at 100 TB overflows int64 — DuckDB would THROW on the
    * bare BIGINT product, Spark would wrap silently; decimal/HUGEINT keep
    * both exact), and every S-form (n·Σxy − ΣxΣy …) is one identical
    * double chain. */
  lazy val q225Cuped: Q = Q(
    "q225_cuped",
    (s, dir) => {
      val cutoff = 19738L
      val micros = (round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
        .cast("long")
      val perUser = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"), micros.as("v"))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click" && col("day") < cutoff,
            col("v")).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase" && col("day") >= cutoff,
            col("v")).otherwise(0L)).as("y"))
      // (19,0) operands ⇒ product precision 39→38-capped with headroom for
      // the true magnitudes (x,y ≤ ~1e12 µ-units ⇒ Σxy ≪ 1e38), no
      // precision-loss rounding in Spark's decimal type math
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(19, 0))
      val m = perUser.agg(
        count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      m.select(col("n"),
        round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))), 6)
          .as("theta"),
        round(
          ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) *
            (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))) /
            ((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
              (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))),
          6).as("var_reduction"))
    },
    Some("""
      WITH per_user AS (
        SELECT user_id,
          SUM(CASE WHEN event_type = 'click'
                AND CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) < 19738
              THEN CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
              ELSE 0 END) AS x,
          SUM(CASE WHEN event_type = 'purchase'
                AND CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) >= 19738
              THEN CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
              ELSE 0 END) AS y
        FROM events GROUP BY user_id),
      m AS (
        SELECT COUNT(*) AS n,
          SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
          SUM(CAST(x AS HUGEINT) * y) AS sxy,
          SUM(CAST(x AS HUGEINT) * x) AS sxx,
          SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM per_user)
      SELECT n,
        round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS theta,
        round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
              ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS var_reduction
      FROM m
    """))

  /** DELETE-ONE-GROUP JACKKNIFE — the standard-error machinery every
    * ratio-metric experiment readout needs (a per-purchase mean is a
    * ratio of sums; its variance has no closed per-row form): users hash
    * into 32 buckets (`user_id % 32` — engine-portable arithmetic, not
    * xxhash), each bucket contributes (Σv, n) partials, and the
    * leave-one-bucket-out ratios R_b = (S−s_b)/(N−n_b) yield
    * SE² = (B−1)/B · Σ(R_b − R̄)². The bucket table is B rows — the only
    * data-sized pass is the partial-sum groupBy. Float discipline: R_b is
    * rounded @6 then accumulated in DECIMAL (a bare double Σ over buckets
    * would be partition-order-dependent — the q204 deviation recipe), and
    * R̄/deviations run one identical double chain in both engines. */
  lazy val q226Jackknife: Q = Q(
    "q226_jackknife",
    (s, dir) => {
      val buckets = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy((col("user_id") % 32).as("b"))
        .agg(
          sum((round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
            .cast("long")).as("s"),
          count(lit(1)).as("c"))
        .barrier() // totals + LOO ratios reuse it
      val tot = buckets.agg(sum(col("s")).as("st"), sum(col("c")).as("nt"),
        count(lit(1)).as("nb"))
      val loo = buckets.crossJoin(tot)
        .select(col("st"), col("nt"), col("nb"),
          round((col("st") - col("s")).cast("double") /
            (col("nt") - col("c")).cast("double"), 6).as("rb"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val rbar = loo.groupBy(col("st"), col("nt"), col("nb"))
        .agg((sum(col("rb").cast(DecimalType(38, 6))).cast("double") /
          col("nb")).as("rbar"))
      loo.join(rbar, Seq("st", "nt", "nb"))
        .select(col("st"), col("nt"), col("nb"), col("rb"), col("rbar"))
        .groupBy(col("st"), col("nt"), col("nb"), col("rbar"))
        .agg(sum(round((col("rb") - col("rbar")) * (col("rb") - col("rbar")), 6)
          .cast(DecimalType(38, 6))).as("ss"))
        .select(
          col("nb").as("n_buckets"),
          (d(col("st")) / d(col("nt"))).as("mean_purchase"),
          round(sqrt((d(col("nb")) - 1.0) / d(col("nb")) *
            d(col("ss"))), 6).as("se"))
    },
    Some("""
      WITH buckets AS (
        SELECT user_id % 32 AS b,
          CAST(SUM(CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000
            AS BIGINT)) AS BIGINT) AS s,
          COUNT(*) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      tot AS (
        SELECT CAST(SUM(s) AS BIGINT) AS st, CAST(SUM(c) AS BIGINT) AS nt,
          COUNT(*) AS nb
        FROM buckets),
      loo AS (
        SELECT st, nt, nb,
          round(CAST(st - s AS DOUBLE) / CAST(nt - c AS DOUBLE), 6) AS rb
        FROM buckets CROSS JOIN tot),
      rbar AS (
        SELECT st, nt, nb,
          CAST(SUM(CAST(rb AS DECIMAL(38,6))) AS DOUBLE) / nb AS rbar
        FROM loo GROUP BY st, nt, nb),
      ss AS (
        SELECT l.st, l.nt, l.nb, r.rbar,
          SUM(CAST(round((rb - rbar) * (rb - rbar), 6) AS DECIMAL(38,6))) AS ss
        FROM loo l JOIN rbar r ON l.st = r.st AND l.nt = r.nt AND l.nb = r.nb
        GROUP BY l.st, l.nt, l.nb, r.rbar)
      SELECT nb AS n_buckets,
        CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS mean_purchase,
        round(sqrt((CAST(nb AS DOUBLE) - 1.0e0) / CAST(nb AS DOUBLE)
          * CAST(ss AS DOUBLE)), 6) AS se
      FROM ss
    """))

  /** NELSON–AALEN CUMULATIVE HAZARD — the additive companion to q175's
    * Kaplan–Meier product (H(t) = Σ_{d≤t} deaths_d / at-risk_d): the
    * estimator of choice when hazard INCREMENTS matter (spike days jump
    * out of H where they hide inside a product) and the standard input to
    * hazard-ratio comparisons. Identical risk-set construction to q175
    * (per-user entry/death/censor, day-support cumulates — bounded by the
    * observation span, the q157 rule); the hazard terms are each one
    * exact-int divide rounded @6 and CUMULATED IN DECIMAL, so engines
    * cannot drift on summation order (the sum analogue of q175's
    * ordered-fold product — and simpler: decimal addition is exact, no
    * fold needed). */
  lazy val q228NelsonAalen: Q = Q(
    "q228_nelson_aalen",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("conv"),
          max(unix_micros(col("ts"))).as("tend"))
        .select(when(col("conv").isNotNull, 1L).otherwise(0L).as("event"),
          expr("(coalesce(conv, tend) - t0) div 86400000000").as("day"))
      val perDay = per.groupBy(col("day"))
        .agg(countIf(col("event") === 1).as("deaths"),
          countIf(col("event") === 0).as("censored"))
      val total = per.agg(count(lit(1)).as("n_total"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDay.crossJoin(broadcast(total))
        .withColumn("cum_exits", sum(col("deaths") + col("censored")).over(w))
        .withColumn("at_risk",
          col("n_total") - col("cum_exits") + col("deaths") + col("censored"))
        .withColumn("hterm",
          round(col("deaths").cast("double") / col("at_risk").cast("double"), 6)
            .cast(DecimalType(28, 8)))
        .withColumn("cum_hazard", sum(col("hterm")).over(w).cast("double"))
        .select(col("day"), col("at_risk"), col("deaths"), col("censored"),
          col("cum_hazard"))
    },
    Some(s"""
      WITH per AS (
        SELECT user_id, min(epoch_us(ts)) AS t0,
          min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS conv,
          max(epoch_us(ts)) AS tend
        FROM events GROUP BY user_id),
      durs AS (
        SELECT CASE WHEN conv IS NOT NULL THEN 1 ELSE 0 END AS event,
          (COALESCE(conv, tend) - t0) // 86400000000 AS day
        FROM per),
      perday AS (
        SELECT day,
          ${QueryDsl.oracleCountIf("event = 1")} AS deaths,
          ${QueryDsl.oracleCountIf("event = 0")} AS censored
        FROM durs GROUP BY day),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM durs),
      risk AS (
        SELECT day, deaths, censored,
          n_total - CAST(SUM(deaths + censored) OVER cum AS BIGINT)
            + deaths + censored AS at_risk
        FROM perday, tot
        WINDOW cum AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      terms AS (
        SELECT *, CAST(round(CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE), 6)
          AS DECIMAL(28,8)) AS hterm
        FROM risk)
      SELECT day, at_risk, deaths, censored,
        CAST(SUM(hterm) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS cum_hazard
      FROM terms
    """))

  /** Extended window-function suite (§2.5): lead, ntile, cume_dist,
    * first/last over an explicit full frame — unique tiebreak (orderkey)
    * everywhere, so rank-family semantics match DuckDB exactly. */
  val q74WindowSuite: Q = Q(
    "q74_window_suite",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey"))
      val wFull = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        cume_dist().over(w).as("cume"),
        first(col("o_orderkey")).over(w).as("latest_key"),
        last(col("o_orderkey")).over(wFull).as("oldest_key"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        LEAD(o_totalprice, 1) OVER w AS next_price,
        CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        CUME_DIST() OVER w AS cume,
        FIRST_VALUE(o_orderkey) OVER w AS latest_key,
        LAST_VALUE(o_orderkey) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS oldest_key
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey)
    """))

  /** TPC-H Q5-shaped deep join: 6 tables, co-located nation for customer
    * AND supplier, date-range + region filters — the classic "does the
    * optimizer pick broadcast for dims and keyed shuffles for facts over a
    * deep tree" probe. */
  val q75RegionalRevenue: Q = Q(
    "q75_regional_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
    },
    Some(s"""
      SELECT n_name,
        ${oracleDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
    """))

  /** Native expressions through the SQL surface: GraftFunctions registers
    * every custom Catalyst expression under a SQL name (the
    * SparkSessionExtensions path for built sessions; temp-function
    * registration here), and the oracle re-derives both similarity values
    * from DuckDB list primitives — proving the SQL-exposed natives match
    * the composable formulations bit-for-bit. */
  val q77SqlNativeFuncs: Q = Q(
    "q77_sql_native_funcs",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("g_docs")
      t(s, dir, "embeddings").createOrReplaceTempView("g_embs")
      // LIMIT 1 on the scalar CTEs: semantically a no-op (vec_id/doc_id are
      // unique keys) but it makes the 1-row bound STRUCTURAL, so the
      // comma-join against them is provably not a data×data product
      // (ScaleLint's unbounded-cartesian rule reads the plan, not the keys)
      s.sql("""
        WITH q AS (SELECT embedding AS qvec FROM g_embs WHERE vec_id = 0 LIMIT 1),
        qd AS (SELECT array_distinct(split(lower(text), ' ')) AS qtoks
               FROM g_docs WHERE doc_id = 0 LIMIT 1)
        SELECT e.vec_id, d.doc_id,
          cosine_similarity(e.embedding, q.qvec) AS cos_sim,
          jaccard_sim(array_distinct(split(lower(d.text), ' ')), qd.qtoks) AS jac_sim
        FROM g_embs e JOIN g_docs d ON e.vec_id = d.doc_id, q, qd
        WHERE e.vec_id < 200
      """)
    },
    Some("""
      WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
      qd AS (SELECT list_distinct(string_split(lower(text), ' ')) AS qtoks
             FROM documents WHERE doc_id = 0)
      SELECT e.vec_id, d.doc_id,
        list_dot_product(e.embedding::DOUBLE[], qvec)
          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
             * sqrt(list_dot_product(qvec, qvec))) AS cos_sim,
        CAST(len(list_intersect(list_distinct(string_split(lower(d.text), ' ')), qtoks)) AS DOUBLE)
          / len(list_distinct(list_concat(list_distinct(string_split(lower(d.text), ' ')), qtoks)))
          AS jac_sim
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id, q, qd
      WHERE e.vec_id < 200
    """))

  /** The hash-aggregable argmax/argmin driven through the SQL SURFACE
    * (r18, verdict ask #2): [[graft.functions.ArgExtremum]] registered
    * under SQL names, so a SQL user is no longer funneled into the
    * silently-degrading `max_by` (struct aggregation buffer →
    * SortAggregate, the q179-r17 wall class — `lintPhysical` rule 1).
    * Exercises both directions, the smallest-arg tie-break (the modular
    * score collides constantly), and the implicit integral→double score
    * cast. The DuckDB twin re-derives the exact semantics from MIN/MAX +
    * a self-join — portable SQL, no reliance on DuckDB's arg_max
    * tie-break order. */
  val q268SqlArgmax: Q = Q(
    "q268_sql_argmax",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "orders").createOrReplaceTempView("g_argmax_orders")
      s.sql("""
        SELECT o_custkey,
          argmax(o_orderkey, o_totalprice) AS best_order,
          argmin(o_orderkey, o_totalprice) AS worst_order,
          argmin(o_orderkey, o_orderkey % 7) AS tied_order
        FROM g_argmax_orders
        GROUP BY o_custkey
      """)
    },
    Some("""
      SELECT o.o_custkey,
        MIN(CASE WHEN o.o_totalprice = m.mx THEN o.o_orderkey END) AS best_order,
        MIN(CASE WHEN o.o_totalprice = m.mn THEN o.o_orderkey END) AS worst_order,
        MIN(CASE WHEN o.o_orderkey % 7 = m.ms THEN o.o_orderkey END) AS tied_order
      FROM orders o
      JOIN (SELECT o_custkey AS ck, MAX(o_totalprice) AS mx,
              MIN(o_totalprice) AS mn, MIN(o_orderkey % 7) AS ms
            FROM orders GROUP BY o_custkey) m
        ON o.o_custkey = m.ck
      GROUP BY o.o_custkey
    """))

  /** Per-group top-k via the typed Aggregator (map-side-partial top-k in
    * ONE aggregation pass — no window sort); oracle is the equivalent
    * rank-filter window. */
  val q78TopKAgg: Q = Q(
    "q78_topk_agg",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKByScore.topK(2)(
          col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"),
          col("e._2").as("o_orderkey"), col("e._1").as("price")),
    Some("""
      SELECT o_custkey, CAST(rn AS BIGINT) AS rank, o_orderkey, o_totalprice AS price
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 2
    """))

  /** Time-RANGE window frame (§2.5 depth beyond the ROWS frames of q25/q74):
    * per-user rolling 1-hour event volume keyed on event TIME, not row
    * offsets — the rolling-feature shape for feature stores. The frame key
    * is integer epoch seconds on both engines; sums accumulate in decimal on
    * rounded values so frame-internal order can't skew doubles. One keyed
    * sort per user partition — same scale shape as any window. */
  val q94TimeRangeWindow: Q = Q(
    "q94_time_range_window",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts").cast("long").as("sec"),
          col("value"))
        .select(col("event_id"), col("user_id"), col("sec"),
          count(lit(1)).over(w).as("n_1h"),
          sum(round(col("value"), 6).cast(DecimalType(28, 8)))
            .over(w).cast("double").as("vol_1h"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id,
          CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec, value
        FROM events)
      SELECT event_id, user_id, sec,
        COUNT(*) OVER w AS n_1h,
        CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,8))) OVER w AS DOUBLE) AS vol_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """))

  /** Cohort retention: users grouped by first-seen date (cohort), counted by
    * day offset of each later active day — the activation/retention matrix.
    * Two keyed shuffles (per-user min, then distinct (cohort, offset, user))
    * — no self-join per offset, so offsets scale for free. */
  val q95CohortRetention: Q = Q(
    "q95_cohort_retention",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val firstSeen = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_date"))
      e.join(firstSeen, "user_id")
        .select(col("cohort_date"),
          datediff(col("d"), col("cohort_date")).cast("long").as("day_offset"),
          col("user_id"))
        .distinct()
        .groupBy(col("cohort_date"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .filter(col("day_offset") <= 7)
    },
    Some("""
      WITH e AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      first_seen AS (
        SELECT user_id, MIN(d) AS cohort_date FROM e GROUP BY user_id)
      SELECT f.cohort_date,
        CAST(date_diff('day', f.cohort_date, e.d) AS BIGINT) AS day_offset,
        COUNT(DISTINCT e.user_id) AS n_active
      FROM e JOIN first_seen f ON e.user_id = f.user_id
      WHERE date_diff('day', f.cohort_date, e.d) <= 7
      GROUP BY 1, 2
    """))

  /** Per-group z-score normalization (feature scaling): mean/stddev per
    * event_type from ONE aggregate, broadcast back onto the stream — the
    * standard normalize-by-segment op before model input. Stats are exact
    * decimal sums (mean = Σx/n, var = Σx²/n − mean², both engine-portable);
    * the per-row z is one deterministic double expression. Rows with a
    * degenerate segment (zero variance) surface z = NULL rather than ±inf. */
  val q96ZscoreNormalize: Q = Q(
    "q96_zscore_normalize",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), round(col("value"), 6).as("v"))
      val stats = e.groupBy(col("event_type")).agg(
        (sum(col("v").cast(DecimalType(28, 8))).cast("double") / count(lit(1))).as("mu"),
        ((sum((col("v") * col("v")).cast(DecimalType(38, 14))).cast("double")
          / count(lit(1)))).as("ex2"))
        .select(col("event_type"), col("mu"),
          sqrt(col("ex2") - col("mu") * col("mu")).as("sigma"))
      e.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          round(when(col("sigma") > 0, (col("v") - col("mu")) / col("sigma")), 6)
            .as("z_r"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, event_type, round(value, 6) AS v FROM events),
      stats AS (
        SELECT event_type,
          CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS mu,
          CAST(SUM(CAST(v * v AS DECIMAL(38,14))) AS DOUBLE) / COUNT(*) AS ex2
        FROM e GROUP BY event_type),
      s2 AS (
        SELECT event_type, mu, sqrt(ex2 - mu * mu) AS sigma FROM stats)
      SELECT event_id, e.event_type,
        round(CASE WHEN sigma > 0 THEN (v - mu) / sigma END, 6) AS z_r
      FROM e JOIN s2 ON e.event_type = s2.event_type
    """))

  /** GLOBAL row numbering without the single-partition window
    * ([[graft.ext.Dedup.distributedDenseRank]]): range-repartition on the
    * sort key, rank within partitions in parallel, add broadcast partition
    * offsets — a plain `ROW_NUMBER() OVER (ORDER BY ...)` funnels the whole
    * table through ONE task, the classic 100 TB deadend. Unique tiebreak
    * (o_orderkey) makes ranks engine-deterministic; output filtered to the
    * top slice so the compare stays small while every rank upstream of the
    * filter had to be globally correct. */
  val q103GlobalRank: Q = Q(
    "q103_global_rank",
    (s, dir) =>
      graft.ext.Dedup.distributedDenseRank(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), "global_rank")
        .filter(col("global_rank") <= 500)
        .select(col("global_rank"), col("o_orderkey"), col("o_totalprice")),
    Some("""
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS BIGINT) AS global_rank,
        o_orderkey, o_totalprice
      FROM orders
      QUALIFY global_rank <= 500
    """))

  /** TPC-H Q21-shaped nested EXISTS / NOT EXISTS through the SQL surface:
    * suppliers with a RETURNED lineitem on a finalized multi-supplier
    * order where NO other supplier on that order had a return — Catalyst
    * decorrelates both subqueries into semi/anti joins (never per-row
    * re-execution), the plan every migrating SQL workload exercises. */
  val q104ExistsChain: Q = Q(
    "q104_exists_chain",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_ec_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("graft_ec_supplier")
      t(s, dir, "orders").createOrReplaceTempView("graft_ec_orders")
      s.sql("""
        SELECT s_name, COUNT(*) AS numwait
        FROM graft_ec_supplier, graft_ec_lineitem l1, graft_ec_orders
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM graft_ec_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM graft_ec_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name
      """)
    },
    Some("""
      SELECT s_name, COUNT(*) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R')
      GROUP BY s_name
    """))

  /** SLIDING time windows via Spark's `window()` generator — the batch
    * twin of the streaming hourly aggregate (StreamPipes.watermarkedHourly
    * uses the same function under a watermark): 1-hour windows sliding
    * every 15 minutes, so each event lands in exactly 4 windows. The
    * oracle re-derives the epoch-aligned window grid with generate_series.
    * Expansion is a generator (×4 in place, no shuffle); the aggregate
    * shuffles on (window, type) — cardinality ∝ time range, not events. */
  val q109SlidingWindow: Q = Q(
    "q109_sliding_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(round(col("value"), 6), 6).as("total"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total")),
    Some("""
      WITH e AS (
        SELECT event_type, round(value, 6) AS v,
          CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        FROM events),
      w AS (
        SELECT event_type, v, (sec // 900) * 900 - 900 * j AS s
        FROM e, (SELECT unnest(generate_series(0, 3)) AS j) ofs)
      SELECT CAST(to_timestamp(s) AS TIMESTAMP) AS window_start, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS total
      FROM w GROUP BY 1, 2
    """))

  /** ROBUST OUTLIER DETECTION — q96's z-score hardened against the very
    * outliers it hunts (mean/stddev are dragged by heavy tails; the
    * median/MAD pair is not): per event type, median via exact
    * `percentile`, MAD = median absolute deviation from it, and the
    * count of values beyond 3.5·MAD. Two grouped exact-percentile passes
    * with the per-group stats BROADCAST back between them (the q96
    * shape), so the fact scan never shuffles; all comparisons are on
    * identically-derived doubles — no rounding anywhere. */
  val q141RobustZscore: Q = Q(
    "q141_robust_zscore",
    (s, dir) => {
      val base = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = base.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("median"))
      val scored = base.join(broadcast(med), Seq("event_type"))
      val mad = scored.groupBy(col("event_type"))
        .agg(expr("percentile(abs(value - median), 0.5)").as("mad"))
      scored.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("median")).as("median"),
          max(col("mad")).as("mad"),
          countIf(abs(col("value") - col("median")) > lit(3.5) * col("mad"))
            .as("n_outliers"))
    },
    Some("""
      WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS median
        FROM events GROUP BY 1),
      mad AS (
        SELECT e.event_type, quantile_cont(abs(e.value - m.median), 0.5) AS mad
        FROM events e JOIN med m USING (event_type) GROUP BY 1)
      SELECT e.event_type,
        COUNT(*) AS n,
        MAX(m.median) AS median,
        MAX(d.mad) AS mad,
        CAST(SUM(CASE WHEN abs(e.value - m.median) > 3.5 * d.mad
          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM events e
      JOIN med m USING (event_type)
      JOIN mad d USING (event_type)
      GROUP BY 1
    """))

  /** LAST-TOUCH ATTRIBUTION — each purchase credited to its user's most
    * recent prior click/view (72 h lookback; older or absent → 'direct'),
    * then purchases and revenue rolled up per channel. The classic
    * marketing twin of q49's as-of join expressed as ONE window pass: a
    * running last-non-null touch struct over (user, time) — no self-join,
    * so the event stream shuffles once on user_id and never against
    * itself. Deterministic: (ts, event_id) total order, integer-µs
    * lookback comparison, decimal-exact revenue. */
  val q144Attribution: Q = Q(
    "q144_attribution",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .withColumn("touch",
          last(when(col("event_type").isin("click", "view"),
            struct(col("ts").as("t_ts"), col("event_type").as("t_type"))),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("touch").isNull ||
            unix_micros(col("ts")) - unix_micros(col("touch.t_ts")) > 259200000000L,
            lit("direct")).otherwise(col("touch.t_type")))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value"), 6).as("revenue"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some("""
      WITH tagged AS (
        SELECT event_id, user_id, ts, value, event_type,
          last_value(CASE WHEN event_type IN ('click', 'view')
              THEN struct_pack(t_ts := ts, t_type := event_type) END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        FROM events),
      purchases AS (
        SELECT *,
          CASE WHEN touch IS NULL
                 OR epoch_us(ts) - epoch_us(touch.t_ts) > 259200000000
            THEN 'direct' ELSE touch.t_type END AS channel
        FROM tagged WHERE event_type = 'purchase')
      SELECT channel,
        COUNT(*) AS n_purchases,
        %s AS revenue,
        COUNT(DISTINCT user_id) AS n_users
      FROM purchases GROUP BY channel
    """.format(QueryDsl.oracleDsum("value", 6))))

  val all: Seq[Q] = Seq(
    q40GlobalAgg, q41Having, q42Rollup, q43Pivot, q44Regex, q45Json, q46SqlApi,
    q47Percentiles, q115ApproxPercentiles, q48CollectList, q49AsOfJoin, q58Unpivot,
    q61Cube, q62Correlated,
    q74WindowSuite, q75RegionalRevenue, q77SqlNativeFuncs, q268SqlArgmax,
    q78TopKAgg,
    q94TimeRangeWindow, q95CohortRetention, q96ZscoreNormalize, q103GlobalRank,
    q104ExistsChain, q109SlidingWindow, q110FromJson, q141RobustZscore,
    q144Attribution, q151Ewma, q153TemporalSplit, q154SessionTransitions,
    q155TrendSlope, q156DayOverDay, q159ConversionLatency,
    q162EquidepthHist, q165AsOfForward, q166SessionConcurrency,
    q169CountingPercentiles, q175KaplanMeier, q176RevenueConcentration,
    q177AsOfNearest, q181QuantileNormalize, q182CalibrationCurve,
    q183SeasonalDow, q184Cusum, q185IntervalOverlap,
    q186TheilSen, q187TrimmedMean, q188PathTrigrams, q192Skyline,
    q193ItemSimilarity, q195RunningRevenue, q199RetentionCohorts,
    q200Funnel, q201AssociationRules,
    q202MannWhitney, q203Spearman, q204Autocorrelation, q208AsOfNative,
    q210FanoFactor, q211MutualInformation, q212AsOfNativeForward,
    q213LowWatermark, q215GapsIslands, q216CrossCorrelation, q218M4Downsample,
    q219IntervalMerge, q221Wilcoxon, q222Mase, q223KendallTau,
    q224DiffInDiff, q225Cuped, q226Jackknife, q228NelsonAalen, q230CohortLtv,
    q231Stickiness, q232Mde, q234OddsRatio, q236AsOfComposite, q237WelchT,
    q240SegmentOls, q242MarkovStationary, q243TheilIndex, q245Sprt,
    q246RetentionDecay, q247BasketEntropy)

  /** ITEM-ITEM CO-PURCHASE SIMILARITY — the collaborative-filtering
    * primitive ("customers who bought X also bought Y"): parts scored by
    * cosine over their order-occurrence vectors, which for 0/1 baskets
    * reduces to n_ab / √(n_a·n_b). Pair generation is the ORDER-KEYED
    * self-join (fan-out bounded by per-order item count — the market-
    * basket shape, never an all-pairs product); per-item counts join back
    * UNHINTED — the count table has one row per distinct item, which is
    * data-sized (billions at 100 TB), so a mandatory `broadcast()` would
    * OOM the driver there. The pair table is already keyed on the item
    * ids, so the join-back is a plain shuffled equi-join; AQE still
    * elects a broadcast at bench SFs where the counts fit under the
    * threshold. √ is IEEE-754 correctly-rounded on both engines (unlike
    * exp/ln), so the score is bit-exact and the query full-oracle.
    * Top-20 with full tiebreak plans as TakeOrderedAndProject. */
  lazy val q193ItemSimilarity: Q = Q(
    "q193_item_similarity",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        .barrier() // feeds counts AND the pair join
      val cnt = li.groupBy(col("pk")).agg(count(lit(1)).as("n"))
      val pairs = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), Seq("ok"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      pairs
        .join(cnt.select(col("pk").as("a"), col("n").as("n_a")), Seq("a"))
        .join(cnt.select(col("pk").as("b"), col("n").as("n_b")), Seq("b"))
        .withColumn("score",
          col("n_ab").cast("double")
            / sqrt((col("n_a") * col("n_b")).cast("double")))
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"), col("score"))
    },
    Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      cnt AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY pk),
      pairs AS (
        SELECT x.pk AS a, y.pk AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        GROUP BY 1, 2)
      SELECT a, b, n_ab, ca.n AS n_a, cb.n AS n_b,
        CAST(n_ab AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS score
      FROM pairs
      JOIN cnt ca ON pairs.a = ca.pk
      JOIN cnt cb ON pairs.b = cb.pk
      ORDER BY score DESC, a, b
      LIMIT 20
    """))

  /** CUMULATIVE REVENUE SHARE over the global order timeline — each
    * order's running total of all revenue to date and its fraction of
    * the grand total: the revenue ramp curve finance reads off any
    * ledger, and the canonical DATA-SIZED running global aggregate (one
    * output row per order — q176's concentration curve aggregates to
    * bounded deciles; this one cannot). A plain
    * `sum().over(Window.orderBy(...))` would funnel the whole table
    * through one task; this runs on
    * [[graft.ext.Scan.runningSumExclusive]] — range partition +
    * per-partition running sums + broadcast #partitions-row prefixes —
    * so every stage stays parallel. Cents are decimal-derived exact
    * longs; the cumulate and grand total are exact integers and the
    * share is one IEEE divide ⇒ full oracle against DuckDB's windowed
    * SUM. The 1-row grand total broadcasts. */
  lazy val q195RunningRevenue: Q = Q(
    "q195_running_revenue",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("day"),
        (col("o_totalprice").cast(DecimalType(28, 2)) * 100).cast("long")
          .as("cents"))
      val total = o.agg(sum(col("cents")).as("total_cents"))
      graft.ext.Scan.runningSumExclusive(o,
          Seq(col("day"), col("o_orderkey")), "cents", "prior")
        .withColumn("cum_cents", coalesce(col("prior"), lit(0L)) + col("cents"))
        .crossJoin(broadcast(total))
        .withColumn("rev_share",
          col("cum_cents").cast("double") / col("total_cents").cast("double"))
        .select(col("o_orderkey"), col("day"), col("cents"),
          col("cum_cents"), col("rev_share"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey,
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
          CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      cum AS (
        SELECT o_orderkey, day, cents,
          CAST(SUM(cents) OVER (ORDER BY day, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_cents,
          CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
        FROM o)
      SELECT o_orderkey, day, cents, cum_cents,
        CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS rev_share
      FROM cum
    """))

  /** PARETO SKYLINE of orders — the non-dominated (price, recency)
    * frontier: every order no other order beats on BOTH value and
    * freshness, the multi-criteria "best of" a ranking by any single
    * score can't express. Runs on [[graft.ext.Scan.skyline2D]]: the
    * sort-based skyline whose running exclusive max comes from the
    * distributed prefix-scan (range partition + per-partition window +
    * broadcast partition prefixes — the q103 rank recipe generalized to
    * any associative aggregate), so NO single-partition window touches
    * the data. Exact integer dims (cents, epoch days); duplicate points
    * collapse to a min-key representative first. */
  lazy val q192Skyline: Q = Q(
    "q192_skyline",
    (s, dir) => {
      val pts = t(s, dir, "orders")
        .groupBy(
          (col("o_totalprice").cast(DecimalType(28, 2)) * 100).cast("long")
            .as("cents"),
          unix_date(to_date(col("o_orderdate"))).cast("long").as("day"))
        .agg(min(col("o_orderkey")).as("rep"), count(lit(1)).as("n"))
      graft.ext.Scan.skyline2D(pts, "cents", "day", "rep")
        .select(col("cents"), col("day"), col("rep"), col("n"))
    },
    Some("""
      WITH pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents,
          CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
          CAST(MIN(o_orderkey) AS BIGINT) AS rep,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2),
      scan AS (
        SELECT *, MAX(day) OVER (ORDER BY cents DESC, day DESC, rep
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS premax
        FROM pts)
      SELECT cents, day, rep, n FROM scan
      WHERE premax IS NULL OR day > premax
    """))

  /** THEIL–SEN ROBUST TREND — the median of all pairwise slopes of the
    * daily series: up to ~29% contaminated days cannot move it, where
    * q155's least-squares slope chases every outlier. The pair
    * enumeration is over the AGGREGATED day series (≤ span² pairs — the
    * q175/q184 bounded-support rule), never the raw data; slopes are
    * identical divisions of exact integers/decimal-exact totals on both
    * engines, and the median is the proven `percentile` ↔
    * `quantile_cont` pairing (q47). */
  lazy val q186TheilSen: Q = Q(
    "q186_theil_sen",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(28, 8))).as("total_dec"))
        .select(unix_date(col("day")).cast("long").as("d"),
          col("total_dec").cast("double").as("y"))
        .barrier() // both sides of the pair join
      val a = daily.select(col("d").as("da"), col("y").as("ya"))
      val b = daily.select(col("d").as("db"), col("y").as("yb"))
      a.join(broadcast(b), col("db") > col("da"))
        .select(((col("yb") - col("ya"))
          / (col("db") - col("da")).cast("double")).as("slope"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("percentile(slope, 0.5D)").as("theil_sen_slope"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS d,
          CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS y
        FROM events GROUP BY CAST(ts AS DATE)),
      slopes AS (
        SELECT (b.y - a.y) / CAST(b.d - a.d AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON b.d > a.d)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        quantile_cont(slope, 0.5) AS theil_sen_slope
      FROM slopes
    """))

  /** TRIMMED MEAN per event type — the robust location estimate that
    * survives the heavy tails a plain mean chases: drop values outside
    * the per-group [p05, p95] band, then the decimal-exact mean of the
    * ORIGINAL surviving values. The band comes from the q169 COUNTING
    * percentile over cent bins, not Spark's exact `percentile`: the
    * exact form buffers the whole per-group value multiset (O(group
    * rows) — the q151-class OOM at 100 TB over ~5 event types), while
    * the counting form's state is one count per DISTINCT cent bin, so
    * the aggregation and the per-group cumulate are bounded by
    * value-range × 100 bins (~49k here) NO MATTER the row count. Values
    * are cent-precision by construction (max |value·100 − round| ≈ 4e-12
    * — pure double representation error), so binning is lossless and
    * both engines derive identical integer bins; the cutoff is the
    * smallest bin with 100·cum ≥ p·n (exact-integer arithmetic, no
    * interpolated-double tie surface). Trimming (drop) rather than
    * winsorizing (clamp) keeps surviving values exact inputs. The cuts
    * table is support-bounded (one row per event type) ⇒ broadcast. */
  lazy val q187TrimmedMean: Q = Q(
    "q187_trimmed_mean",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events").select(col("event_type"), col("value"))
        .withColumn("bin", round(col("value") * 100).cast("long"))
        .barrier() // feeds cutoffs AND the trim
      val counts = e.groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      val wAll = Window.partitionBy(col("event_type"))
      val cuts = counts
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 100 >= col("n") * 5, col("bin"))).as("lo"),
          min(when(col("cum") * 100 >= col("n") * 95, col("bin"))).as("hi"))
      val kept = col("bin") >= col("lo") && col("bin") <= col("hi")
      e.join(broadcast(cuts), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countIf(kept).as("n_kept"),
          (sum(when(kept, col("value")).cast(DecimalType(28, 8))).cast("double")
            / sum(when(kept, 1L).otherwise(0L))).as("trimmed_mean"),
          (sum(col("value").cast(DecimalType(28, 8))).cast("double")
            / count(lit(1))).as("raw_mean"))
    },
    Some(s"""
      WITH e AS (
        SELECT event_type, value,
          CAST(round(value * 100) AS BIGINT) AS bin
        FROM events),
      counts AS (
        SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY 1, 2),
      cum AS (
        SELECT event_type, bin, c,
          CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM counts),
      cuts AS (
        SELECT event_type,
          MIN(CASE WHEN cum * 100 >= n * 5 THEN bin END) AS lo,
          MIN(CASE WHEN cum * 100 >= n * 95 THEN bin END) AS hi
        FROM cum GROUP BY event_type)
      SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        ${QueryDsl.oracleCountIf("bin >= lo AND bin <= hi")} AS n_kept,
        CAST(SUM(CASE WHEN bin >= lo AND bin <= hi
            THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE)
          / ${QueryDsl.oracleCountIf("bin >= lo AND bin <= hi")}
          AS trimmed_mean,
        CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS raw_mean
      FROM e JOIN cuts USING (event_type)
      GROUP BY event_type
    """))

  /** FREQUENT SESSION PATHS (trigrams) — the top event-type 3-step
    * sequences within sessions: q154's transition matrix generalized one
    * step (pairs → triples), the path-mining summary product teams read
    * for "how users actually move". Two LEADs over the session ordering
    * (one window pass), a grouped count, top-20 with a full tiebreak.
    * All integers exact. */
  lazy val q188PathTrigrams: Q = Q(
    "q188_path_trigrams",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_session",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(w))
      val ws = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      sess
        .withColumn("t2", lead(col("event_type"), 1).over(ws))
        .withColumn("t3", lead(col("event_type"), 2).over(ws))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
          col("t3").as("step3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
        .limit(20)
    },
    Some("""
      WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
          epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT *, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
            THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS session_id
        FROM ev),
      tri AS (
        SELECT event_type AS step1,
          LEAD(event_type, 1) OVER ws AS step2,
          LEAD(event_type, 2) OVER ws AS step3
        FROM sess
        WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id))
      SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
      FROM tri WHERE step2 IS NOT NULL AND step3 IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY n DESC, step1, step2, step3
      LIMIT 20
    """))

  /** DAY-OF-WEEK SEASONAL DECOMPOSITION of the daily value series — the
    * additive seasonal split monitoring runs before alerting on a weekly
    * business metric (a Sunday dip is seasonality, not an incident):
    * daily totals (decimal-exact), per-weekday seasonal means
    * (decimal-sum / exact count), residual = daily − seasonal. The dow
    * index is aligned across engines (Spark `dayofweek` is 1-based
    * Sunday, DuckDB `dow` 0-based Sunday — shifted once here, not
    * rederived per consumer). Series length = observation span, bounded
    * regardless of data volume; everything before the final subtraction
    * is exact. */
  lazy val q183SeasonalDow: Q = Q(
    "q183_seasonal_dow",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(28, 8))).as("total_dec"),
          count(lit(1)).as("n_events"))
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
        .barrier() // feeds seasonal means AND residuals
      val seasonal = daily.groupBy(col("dow"))
        .agg((sum(col("total_dec")).cast("double") / count(lit(1))).as("dow_mean"))
      daily.join(broadcast(seasonal), Seq("dow"))
        .select(col("day"), col("dow"), col("n_events"),
          col("total_dec").cast("double").as("total"), col("dow_mean"),
          (col("total_dec").cast("double") - col("dow_mean")).as("residual"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(28,8))) AS total_dec,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1),
      d2 AS (
        SELECT *, CAST(date_part('dow', day) AS BIGINT) AS dow FROM daily),
      seasonal AS (
        SELECT dow, CAST(SUM(total_dec) AS DOUBLE) / COUNT(*) AS dow_mean
        FROM d2 GROUP BY dow)
      SELECT day, dow, n_events, CAST(total_dec AS DOUBLE) AS total, dow_mean,
        CAST(total_dec AS DOUBLE) - dow_mean AS residual
      FROM d2 JOIN seasonal USING (dow)
    """))

  /** CUSUM CHANGEPOINT STATISTIC over the daily series — the one-sided
    * cumulative-sum drift detector (Page 1954): Cₜ = max(0, Cₜ₋₁ + dₜ)
    * with dₜ = dayₜ − μ, reset to zero whenever the running excess goes
    * negative — catches slow drifts a per-day threshold misses. A
    * NONLINEAR ordered recurrence (the max() makes it non-decomposable
    * into sums/products), so each day's value is a fold over its PREFIX:
    * the day×day ≤-join over the bounded day support (the q175 recipe) +
    * one ordered fold per row, O(span²) total — span-bounded, never
    * data-sized. Deviations are precomputed so both engines fold
    * IDENTICAL IEEE ops in identical order. */
  lazy val q184Cusum: Q = Q(
    "q184_cusum",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(28, 8))).as("total_dec"))
      val mu = daily.agg(
        (sum(col("total_dec")).cast("double") / count(lit(1))).as("mu"))
      val withDev = daily.crossJoin(broadcast(mu))
        .select(col("day"), col("total_dec").cast("double").as("x"),
          col("mu"),
          (col("total_dec").cast("double") - col("mu")).as("dev"))
        .barrier() // feeds both sides of the prefix join
      val a = withDev.select(col("day"), col("x"), col("mu"))
      val b = withDev.select(col("day").as("bday"), col("dev"))
      a.join(broadcast(b), col("bday") <= col("day"))
        .groupBy(col("day"), col("x"), col("mu"))
        .agg(aggregate(sort_array(collect_list(struct(col("bday"), col("dev")))),
          lit(0.0),
          (acc, e) => greatest(lit(0.0), acc + e.getField("dev"))).as("cusum"))
        .select(col("day"), col("x"), col("mu"), col("cusum"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(28,8))) AS total_dec
        FROM events GROUP BY 1),
      mu AS (
        SELECT CAST(SUM(total_dec) AS DOUBLE) / COUNT(*) AS mu FROM daily),
      dev AS (
        SELECT day, CAST(total_dec AS DOUBLE) AS x, mu,
          CAST(total_dec AS DOUBLE) - mu AS dev
        FROM daily, mu)
      SELECT a.day, a.x, a.mu,
        list_reduce(list_prepend(0.0e0, list(b.dev ORDER BY b.day)),
          (acc, v) -> greatest(0.0e0, acc + v)) AS cusum
      FROM dev a JOIN dev b ON b.day <= a.day
      GROUP BY a.day, a.x, a.mu
    """))

  /** INTERVAL-OVERLAP JOIN ([[graft.plans.NativeRange.intervalOverlap]]) —
    * which user sessions overlapped each error-burst incident window:
    * sessions (the q24 30-minute-gap recipe) × hourly incident intervals
    * (hours with ≥ 2 errors, spanned by their first..last error — the dial is scale-free so the smallest SF still produces incidents). The
    * genuinely interval×interval case q55's point-in-interval can't
    * express. Scale shape: both sides replicate to hour bins and meet in
    * two interval sweeps split by max-start attribution, so each pair is
    * emitted once with no distinct pass — never a nested loop. Overlap
    * durations are exact integer micros. */
  lazy val q185IntervalOverlap: Q = Q(
    "q185_interval_overlap",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val sess = ev
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .withColumn("new_s",
          when(col("gap").isNull || col("gap") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
      val incidents = ev.filter(col("event_type") === "error")
        .groupBy(expr("us div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n_err"),
          min(col("us")).as("i_start"), max(col("us")).as("i_end"))
        .filter(col("n_err") >= 2)
        .drop("n_err")
      graft.plans.NativeRange.intervalOverlap(sess, incidents,
          "s_start", "s_end", "i_start", "i_end", binWidth = 3600000000L)
        .groupBy(col("hr"), col("i_start"), col("i_end"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(least(col("s_end"), col("i_end"))
            - greatest(col("s_start"), col("i_start"))).as("overlap_us_sum"),
          sum(col("user_id")).as("user_id_sum"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
      gaps AS (
        SELECT *, us - LAG(us, 1) OVER (PARTITION BY user_id
          ORDER BY us, event_id) AS gap
        FROM ev),
      s1 AS (
        SELECT *, CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000
            THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
            ORDER BY us, event_id) AS BIGINT) AS sid
        FROM gaps),
      sess AS (
        SELECT user_id, sid, MIN(us) AS s_start, MAX(us) AS s_end
        FROM s1 GROUP BY 1, 2),
      inc AS (
        SELECT us // 3600000000 AS hr, MIN(us) AS i_start, MAX(us) AS i_end
        FROM ev WHERE event_type = 'error'
        GROUP BY 1 HAVING COUNT(*) >= 2),
      j AS (
        SELECT * FROM sess JOIN inc
        ON s_start <= i_end AND i_start <= s_end)
      SELECT hr, i_start, i_end,
        CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(LEAST(s_end, i_end) - GREATEST(s_start, i_start)) AS BIGINT)
          AS overlap_us_sum,
        CAST(SUM(user_id) AS BIGINT) AS user_id_sum
      FROM j GROUP BY 1, 2, 3
    """))

  /** QUANTILE NORMALIZATION — map every group's value distribution onto
    * the shared average distribution (the cross-sample normalization
    * standard in bioinformatics, here across event types): rank within
    * group, average the rank-th order statistic ACROSS groups, assign
    * that average back by rank. Makes group distributions identical while
    * preserving within-group order — what z-scoring (q96) cannot do for
    * non-Gaussian shapes. Exactness: the cross-group mean at each rank is
    * a decimal-cast sum / exact count (the dsum rule), so both engines
    * divide identical values. Ragged tails: ranks beyond the smallest
    * group's size are dropped (the strict-exact form; interpolation is
    * the approximate alternative), so every kept rank averages over ALL
    * groups. Scale: one keyed window per group + a rank-keyed aggregate +
    * a rank-keyed join-back — every stage keyed, nothing global. */
  lazy val q181QuantileNormalize: Q = Q(
    "q181_quantile_normalize",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      val ranked = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .barrier() // feeds counts, rank means, join-back
      val minN = ranked.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("min_n"))
      val kept = ranked.crossJoin(broadcast(minN)).filter(col("rk") <= col("min_n"))
      val target = kept.groupBy(col("rk"))
        .agg((sum(col("value").cast(DecimalType(28, 8))).cast("double")
          / count(lit(1))).as("qnorm"))
      kept.join(target, Seq("rk"))
        .select(col("event_type"), col("event_id"), col("value"), col("qnorm"))
    },
    Some("""
      WITH ranked AS (
        SELECT event_type, event_id, value,
          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS BIGINT) AS rk
        FROM events),
      minn AS (
        SELECT MIN(n) AS min_n FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked GROUP BY event_type)),
      kept AS (
        SELECT * FROM ranked, minn WHERE rk <= min_n),
      target AS (
        SELECT rk,
          CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS qnorm
        FROM kept GROUP BY rk)
      SELECT event_type, event_id, value, qnorm
      FROM kept JOIN target USING (rk)
    """))

  /** MODEL CALIBRATION CURVE — is a predicted probability honest? Bucket
    * the q114 fraud scores into equi-depth deciles (the q162 cutoff
    * recipe — no global sort) and compare each bucket's MEAN PREDICTED
    * probability against its OBSERVED positive rate (outcome proxy:
    * urgent-heavy customers). The reliability diagram every scored-model
    * deployment monitors; a well-calibrated model tracks the diagonal.
    * Mean prediction is a decimal-cast sum / exact count; observed rate
    * is exact-integer division — both engine-identical. */
  lazy val q182CalibrationCurve: Q = Q(
    "q182_calibration_curve",
    (s, dir) => {
      val feats = graft.gold.Gold.customerFeatures(t(s, dir, "orders"))
      val z = lit(-3.0) +
        col("total_spend") * lit(5.0e-7) +
        col("n_orders") * lit(0.05) +
        col("urgent_ratio") * lit(1.5) +
        col("finished_ratio") * lit(-0.8) +
        col("lifetime_days") * lit(2.0e-4)
      val scored = feats.select(
          round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p"),
          (col("urgent_ratio") > 0.25).cast("long").as("y"))
        .barrier() // feeds cutoffs AND bucketing
      val cuts = scored.agg(expr(
        "percentile(p, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))").as("qs"))
      val bucket = (1 until 10).map(i =>
        (col("p") > element_at(col("qs"), i)).cast("long")).reduce(_ + _) + lit(1L)
      scored.crossJoin(broadcast(cuts))
        .groupBy(bucket.as("decile"))
        .agg(count(lit(1)).as("n"),
          (sum(col("p").cast(DecimalType(28, 8))).cast("double")
            / count(lit(1))).as("mean_predicted"),
          (sum(col("y")).cast("double") / count(lit(1))).as("observed_rate"))
    },
    Some(s"""
      WITH feats AS (
        SELECT o_custkey,
          COUNT(*) AS n_orders,
          ${QueryDsl.oracleDsum("o_totalprice", 2)} AS total_spend,
          ${QueryDsl.oracleCountIf("o_orderpriority = '1-URGENT'")}
            / COUNT(*) AS urgent_ratio,
          ${QueryDsl.oracleCountIf("o_orderstatus = 'F'")}
            / COUNT(*) AS finished_ratio,
          date_diff('day', MIN(CAST(o_orderdate AS DATE)),
            MAX(CAST(o_orderdate AS DATE))) AS lifetime_days
        FROM orders GROUP BY o_custkey),
      scored AS (
        SELECT round(1.0 / (1.0 + exp(-(-3.0 + total_spend * 0.0000005
            + n_orders * 0.05 + urgent_ratio * 1.5
            + finished_ratio * -0.8 + lifetime_days * 0.0002))), 6) AS p,
          CAST(urgent_ratio > 0.25 AS BIGINT) AS y
        FROM feats),
      cuts AS (
        SELECT quantile_cont(p, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
        FROM scored)
      SELECT 1 + CAST(p > qs[1] AS BIGINT) + CAST(p > qs[2] AS BIGINT)
          + CAST(p > qs[3] AS BIGINT) + CAST(p > qs[4] AS BIGINT)
          + CAST(p > qs[5] AS BIGINT) + CAST(p > qs[6] AS BIGINT)
          + CAST(p > qs[7] AS BIGINT) + CAST(p > qs[8] AS BIGINT)
          + CAST(p > qs[9] AS BIGINT) AS decile,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(p AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS mean_predicted,
        CAST(SUM(y) AS DOUBLE) / COUNT(*) AS observed_rate
      FROM scored, cuts
      GROUP BY 1
    """))

  /** KAPLAN–MEIER SURVIVAL CURVE — time-to-conversion with censoring, the
    * estimator product analytics reaches for when "average days to
    * purchase" silently drops every user who hasn't purchased YET (the
    * censoring bias). Per user: entry = first event, death = first
    * purchase, censoring = last observed event; day-granular durations by
    * exact integer division of microseconds (`div` ↔ `//`, no float).
    * The curve: per duration day, deaths and censorings aggregate; the
    * at-risk count is total − prior exits (a cumulate over the DAY
    * support — bounded by the observation span, not the data: the q157
    * sorted-support rule); S(day) = Π_{d ≤ day} (at_risk_d − deaths_d) /
    * at_risk_d, computed as an ORDERED fold over the ≤|days| factor list
    * on BOTH engines (the q151/q146 recipe — identical IEEE multiplies in
    * identical order; never exp(sum(ln)), whose transcendentals are the
    * classic cross-engine ulp flip). The day×day ≤-join runs on the
    * aggregated series (≤ span² rows), broadcast — never on user data. */
  lazy val q175KaplanMeier: Q = Q(
    "q175_kaplan_meier",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("conv"),
          max(unix_micros(col("ts"))).as("tend"))
        .select(when(col("conv").isNotNull, 1L).otherwise(0L).as("event"),
          expr("(coalesce(conv, tend) - t0) div 86400000000").as("day"))
      val perDay = per.groupBy(col("day"))
        .agg(countIf(col("event") === 1).as("deaths"),
          countIf(col("event") === 0).as("censored"))
      val total = per.agg(count(lit(1)).as("n_total"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = perDay.crossJoin(broadcast(total))
        .withColumn("cum_exits", sum(col("deaths") + col("censored")).over(w))
        .withColumn("at_risk",
          col("n_total") - col("cum_exits") + col("deaths") + col("censored"))
        .withColumn("factor",
          (col("at_risk") - col("deaths")).cast("double")
            / col("at_risk").cast("double"))
        .barrier() // feeds both sides of the day join
      val a = risk.select(col("day"), col("at_risk"), col("deaths"), col("censored"))
      val b = risk.select(col("day").as("bday"), col("factor"))
      a.join(broadcast(b), col("bday") <= col("day"))
        .groupBy(col("day"), col("at_risk"), col("deaths"), col("censored"))
        .agg(aggregate(sort_array(collect_list(struct(col("bday"), col("factor")))),
          lit(1.0), (acc, x) => acc * x.getField("factor")).as("survival"))
        .select("day", "at_risk", "deaths", "censored", "survival")
    },
    Some(s"""
      WITH per AS (
        SELECT user_id, min(epoch_us(ts)) AS t0,
          min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS conv,
          max(epoch_us(ts)) AS tend
        FROM events GROUP BY user_id),
      durs AS (
        SELECT CASE WHEN conv IS NOT NULL THEN 1 ELSE 0 END AS event,
          (COALESCE(conv, tend) - t0) // 86400000000 AS day
        FROM per),
      perday AS (
        SELECT day,
          ${QueryDsl.oracleCountIf("event = 1")} AS deaths,
          ${QueryDsl.oracleCountIf("event = 0")} AS censored
        FROM durs GROUP BY day),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM durs),
      risk AS (
        SELECT day, deaths, censored,
          n_total - CAST(SUM(deaths + censored) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            + deaths + censored AS at_risk
        FROM perday, tot),
      f AS (
        SELECT *, CAST(at_risk - deaths AS DOUBLE) / CAST(at_risk AS DOUBLE)
          AS factor
        FROM risk)
      SELECT a.day, a.at_risk, a.deaths, a.censored,
        list_reduce(list_prepend(1.0e0, list(b.factor ORDER BY b.day)),
          (acc, x) -> acc * x) AS survival
      FROM f a JOIN f b ON b.day <= a.day
      GROUP BY a.day, a.at_risk, a.deaths, a.censored
    """))

  /** REVENUE CONCENTRATION (Gini + HHI) — the inequality profile of
    * customer spend: the Gini coefficient via the rank-sum identity
    * G = 2·Σᵢ rankᵢ·xᵢ / (n·Σx) − (n+1)/n, and the Herfindahl index
    * Σ (xᵢ/Σx)². Both are EXACT until one final double division:
    * revenues are decimal cents, rank·x and x² sum in decimal (order-free
    * exact — the dsum rule lifted to products), so no float accumulation
    * ever crosses an engine boundary. The global rank comes from the
    * q103 recipe ([[graft.ext.Dedup.distributedDenseRank]]: range
    * partition + in-partition rank + broadcast offsets), NOT a
    * single-partition ROW_NUMBER — per-customer totals GROW with the
    * data, so a support-sized window is not safe here (the q157 rule). */
  lazy val q176RevenueConcentration: Q = Q(
    "q176_revenue_concentration",
    (s, dir) => {
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast(DecimalType(28, 2)) * 100)
          .cast("long")).as("cents"))
      val ranked = graft.ext.Dedup.distributedDenseRank(
        rev, Seq(col("cents"), col("o_custkey")), "rnk")
      // cast to decimal BEFORE multiplying (the q171 overflow rule):
      // rank·cents exceeds int64 once ranks reach ~1e11
      ranked.agg(
          count(lit(1)).as("n"),
          sum(col("cents").cast(DecimalType(38, 0))).as("tot"),
          sum(col("rnk").cast(DecimalType(19, 0))
            * col("cents").cast(DecimalType(19, 0))).as("rs"),
          sum(col("cents").cast(DecimalType(19, 0))
            * col("cents").cast(DecimalType(19, 0))).as("ss"))
        .select(col("n"),
          (col("tot").cast("double") / 100.0).as("total_revenue"),
          ((lit(2.0) * col("rs").cast("double"))
            / (col("n").cast("double") * col("tot").cast("double"))
            - (col("n") + 1).cast("double") / col("n").cast("double")).as("gini"),
          (col("ss").cast("double")
            / (col("tot").cast("double") * col("tot").cast("double"))).as("hhi"))
    },
    Some("""
      WITH rev AS (
        SELECT o_custkey,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
      ranked AS (
        SELECT cents,
          CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rnk
        FROM rev),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(cents AS DECIMAL(38,0))) AS tot,
          SUM(CAST(rnk AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS rs,
          SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS ss
        FROM ranked)
      SELECT n,
        CAST(tot AS DOUBLE) / 100.0 AS total_revenue,
        2.0 * CAST(rs AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
          - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini,
        CAST(ss AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS hhi
      FROM agg
    """))

  /** EQUI-DEPTH HISTOGRAM (10 buckets) of order totals — the statistics
    * object every cost-based optimizer and skew detector keeps: bucket
    * BOUNDARIES adapt so populations stay balanced, unlike fixed-width
    * histograms that collapse on skewed value distributions. Built with
    * the q145 cutoff recipe in pure form: one mergeable exact-percentile
    * aggregate (q47's `percentile` ↔ `quantile_cont` pairing, swap
    * `approx_percentile` past 10⁹ rows), 9 cutoffs broadcast back, the
    * bucket id a pure comparison count — NO global sort, NO ntile.
    * min/max per bucket are exact input doubles; counts exact BIGINTs. */
  lazy val q162EquidepthHist: Q = Q(
    "q162_equidepth_hist",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_totalprice").as("v"))
        .barrier() // feeds cutoffs AND bucketing
      val cuts = o.agg(expr(
        "percentile(v, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))").as("qs"))
      val bucket = (1 until 10).map(i =>
        (col("v") > element_at(col("qs"), i)).cast("long")).reduce(_ + _) + lit(1L)
      o.crossJoin(broadcast(cuts))
        .withColumn("bucket", bucket)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
        .select(col("bucket"), col("n"), col("lo"), col("hi"))
    },
    Some("""
      WITH cuts AS (
        SELECT quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
        FROM orders)
      SELECT 1 + CAST(o_totalprice > qs[1] AS BIGINT) + CAST(o_totalprice > qs[2] AS BIGINT)
          + CAST(o_totalprice > qs[3] AS BIGINT) + CAST(o_totalprice > qs[4] AS BIGINT)
          + CAST(o_totalprice > qs[5] AS BIGINT) + CAST(o_totalprice > qs[6] AS BIGINT)
          + CAST(o_totalprice > qs[7] AS BIGINT) + CAST(o_totalprice > qs[8] AS BIGINT)
          + CAST(o_totalprice > qs[9] AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n,
        MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      FROM orders, cuts
      GROUP BY 1
    """))

  /** PEAK SESSION CONCURRENCY (interval sweep) — how many user sessions
    * are simultaneously active, per hour: the capacity-planning number a
    * platform team reads off its traffic. The scalable pattern is the
    * SWEEP, not an interval self-join: sessions (q154's 30-min-gap
    * recipe) become ±1 deltas at their minute-truncated start / end+1
    * (half-open), deltas aggregate per minute, and concurrency is the
    * running sum over the AGGREGATED minute series — a single-partition
    * window, but over |active minutes| rows (bounded by the time span,
    * not the data; the q157 sorted-support precedent), after which an
    * hour-grouped max finishes. An interval⋈interval overlap join would
    * be O(sessions²) in dense hours; the sweep is O(sessions + minutes).
    * All integers exact. */
  lazy val q166SessionConcurrency: Q = Q(
    "q166_session_concurrency",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_session",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(date_trunc("minute", min(col("ts"))).as("m_start"),
          (date_trunc("minute", max(col("ts"))) + expr("INTERVAL 1 MINUTE")).as("m_end"))
      val deltas = sess.select(col("m_start").as("m"), lit(1L).as("d"))
        .unionAll(sess.select(col("m_end").as("m"), lit(-1L).as("d")))
        .groupBy(col("m")).agg(sum(col("d")).as("d"))
      val run = deltas.withColumn("conc",
        sum(col("d")).over(Window.orderBy(col("m"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      run.groupBy(date_trunc("hour", col("m")).cast("timestamp_ntz").as("hour"))
        .agg(max(col("conc")).as("peak_concurrency"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, ts, event_id,
          epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id,
          CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
            THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS session_id,
          ts
        FROM ev),
      bounds AS (
        SELECT date_trunc('minute', MIN(ts)) AS m_start,
          date_trunc('minute', MAX(ts)) + INTERVAL 1 MINUTE AS m_end
        FROM sess GROUP BY user_id, session_id),
      deltas AS (
        SELECT m, CAST(SUM(d) AS BIGINT) AS d FROM (
          SELECT m_start AS m, 1 AS d FROM bounds
          UNION ALL
          SELECT m_end AS m, -1 AS d FROM bounds)
        GROUP BY m),
      run AS (
        SELECT m, CAST(SUM(d) OVER (ORDER BY m
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        FROM deltas)
      SELECT date_trunc('hour', m) AS hour,
        MAX(conc) AS peak_concurrency
      FROM run GROUP BY 1
    """))

  /** GROUPED DISCRETE PERCENTILES BY COUNTING — the 100 TB-exact
    * quantile path for BOUNDED-CARDINALITY values (quantities, ratings,
    * bucketed ages): count per (group, value), cumulate over the ≤50-row
    * per-group value support, and pick the smallest value whose
    * cumulative count clears ⌈p·n⌉ — the type-1 quantile, ALL-INTEGER
    * (the ceil is the b·cum ≥ a integer identity, no float ever).
    * Contrast with q47 (`percentile` buffers every value per group —
    * interpolated, but O(group size) memory) and q115 (approx): counting
    * is exact AND mergeable at any scale, the right default whenever the
    * value domain is small. One grouped count + a window over the tiny
    * per-group support. */
  lazy val q169CountingPercentiles: Q = Q(
    "q169_counting_percentiles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_returnflag"), col("qty")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("qty"))
      val wAll = Window.partitionBy(col("l_returnflag"))
      val cum = counts
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(wAll))
      def pick(num: Int) = // smallest qty with cum ≥ ⌈num·n/100⌉ ⟺ 100·cum ≥ num·n
        min(when(col("cum") * 100 >= col("n") * num, col("qty"))).as(s"p$num")
      cum.groupBy(col("l_returnflag"))
        .agg(pick(50), pick(90), pick(99), max(col("n")).as("n"))
    },
    Some("""
      WITH counts AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      cum AS (
        SELECT l_returnflag, qty, c,
          CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY qty
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        FROM counts)
      SELECT l_returnflag,
        MIN(CASE WHEN cum * 100 >= n * 50 THEN qty END) AS p50,
        MIN(CASE WHEN cum * 100 >= n * 90 THEN qty END) AS p90,
        MIN(CASE WHEN cum * 100 >= n * 99 THEN qty END) AS p99,
        MAX(n) AS n
      FROM cum GROUP BY l_returnflag
    """))

  /** FORWARD AS-OF JOIN ([[graft.ext.AsOfJoin.asOfForward]]) — each
    * click matched to the user's NEXT purchase at-or-after it (pandas
    * `merge_asof direction='forward'`): the time-to-next-event lookup
    * that complements q49's backward point-in-time semantics and q159's
    * first-conversion aggregate. Same scale shape as q49: tag + union +
    * one keyed timeline sort, payload carried by `first(...ignoreNulls)`
    * over the following frame — one shuffle, linear work, no range
    * explosion. DuckDB expresses it natively (`ASOF LEFT JOIN ... ON
    * l.ts <= r.ts`), pinning the semantics. */
  lazy val q165AsOfForward: Q = Q(
    "q165_asof_forward",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      graft.ext.AsOfJoin.asOfForward(clicks, purchases, Seq("user_id"), "ts", "ts",
          Seq("purchase_id", "purchase_value"))
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("click_ts"),
          col("asof_purchase_id"), col("asof_purchase_value"))
    },
    Some("""
      SELECT c.user_id, c.event_id,
        CAST(c.ts AS TIMESTAMP) AS click_ts,
        p.event_id AS asof_purchase_id,
        p.value AS asof_purchase_value
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
    """))

  /** NEAREST AS-OF JOIN ([[graft.ext.AsOfJoin.asOfNearest]]) — each click
    * matched to the user's CLOSEST purchase in either time direction,
    * ties to the backward match (pandas `merge_asof direction='nearest'`),
    * within a 1-hour tolerance — the "closest snapshot" lookup that
    * completes the backward (q49) / forward (q165) pair. Composition of
    * the two directed passes + a per-row arbitration: two keyed shuffles
    * total, no range join. Times run as EXACT unix-micros longs (< 2⁵³,
    * so even the double-cast arbitration is exact) — the tolerance
    * comparison can never ulp-flip against the oracle's integer micros. */
  lazy val q177AsOfNearest: Q = Q(
    "q177_asof_nearest",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      graft.ext.AsOfJoin.asOfNearest(clicks, purchases, Seq("user_id"), "tsu", "tsu",
          Seq("purchase_id", "purchase_value"), tolerance = Some(3600000000L))
        .select(col("user_id"), col("event_id"), col("tsu"),
          col("asof_purchase_id"), col("asof_purchase_value"))
    },
    Some("""
      WITH c AS (
        SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
        WHERE event_type = 'click'),
      p AS (
        SELECT user_id, epoch_us(ts) AS tsu, event_id AS pid, value AS pval
        FROM events WHERE event_type = 'purchase'),
      b AS (
        SELECT c.event_id, c.user_id, c.tsu,
          p.pid AS b_pid, p.pval AS b_pval, p.tsu AS b_tsu
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.tsu >= p.tsu),
      f AS (
        SELECT c.event_id, p.pid AS f_pid, p.pval AS f_pval, p.tsu AS f_tsu
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.tsu <= p.tsu),
      j AS (
        SELECT b.*, f.f_pid, f.f_pval, f.f_tsu,
          (b_tsu IS NOT NULL AND (tsu - b_tsu) <= 3600000000
            AND (f_tsu IS NULL OR (f_tsu - tsu) > 3600000000
              OR (tsu - b_tsu) <= (f_tsu - tsu))) AS use_back,
          (f_tsu IS NOT NULL AND (f_tsu - tsu) <= 3600000000) AS use_fwd
        FROM b JOIN f USING (event_id))
      SELECT user_id, event_id, tsu,
        CASE WHEN use_back THEN b_pid
             WHEN use_fwd THEN f_pid END AS asof_purchase_id,
        CASE WHEN use_back THEN b_pval
             WHEN use_fwd THEN f_pval END AS asof_purchase_value
      FROM j
    """))

  /** CONVERSION LATENCY DISTRIBUTION — how long from a user's first
    * signup to their first subsequent purchase (q84's funnel asks IF
    * users convert; product teams price the HOW LONG): per-user min
    * timestamps via one grouped pass with conditional aggregates (the
    * purchase min is taken only over events after the signup — a
    * min_by-free conditional min), deltas in exact integer seconds,
    * exact percentiles + conversion rate in one global aggregate.
    * No window, no self-join: two grouped aggregations total. */
  lazy val q159ConversionLatency: Q = Q(
    "q159_conversion_latency",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val perUser = ev.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "signup", col("us"))).as("signup_us"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(perUser, Seq("user_id"))
        .filter(col("signup_us").isNotNull && col("us") >= col("signup_us"))
        .groupBy(col("user_id"), col("signup_us"))
        .agg(min(col("us")).as("purchase_us"))
        .withColumn("latency_s", expr("(purchase_us - signup_us) div 1000000"))
      val nSignup = perUser.filter(col("signup_us").isNotNull)
        .agg(count(lit(1)).as("n_signup_users"))
      conv.agg(
          count(lit(1)).as("n_converted"),
          expr("percentile(latency_s, 0.5)").as("p50_latency_s"),
          expr("percentile(latency_s, 0.9)").as("p90_latency_s"),
          max(col("latency_s")).as("max_latency_s"))
        .crossJoin(broadcast(nSignup))
        .withColumn("conversion_rate",
          col("n_converted").cast("double") / col("n_signup_users"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      per_user AS (
        SELECT user_id,
          MIN(CASE WHEN event_type = 'signup' THEN us END) AS signup_us
        FROM ev GROUP BY 1),
      conv AS (
        SELECT e.user_id, (MIN(e.us) - p.signup_us) // 1000000 AS latency_s
        FROM ev e JOIN per_user p USING (user_id)
        WHERE e.event_type = 'purchase'
          AND p.signup_us IS NOT NULL AND e.us >= p.signup_us
        GROUP BY e.user_id, p.signup_us),
      ns AS (
        SELECT COUNT(*) AS n_signup_users FROM per_user WHERE signup_us IS NOT NULL)
      SELECT COUNT(*) AS n_converted,
        quantile_cont(latency_s, 0.5) AS p50_latency_s,
        quantile_cont(latency_s, 0.9) AS p90_latency_s,
        MAX(latency_s) AS max_latency_s,
        ns.n_signup_users,
        CAST(COUNT(*) AS DOUBLE) / ns.n_signup_users AS conversion_rate
      FROM conv CROSS JOIN ns
      GROUP BY ns.n_signup_users
    """))

  /** PER-SEGMENT LINEAR TREND — OLS slope/intercept of event value over
    * time per event type, the drift detector behind q100/q140 expressed
    * as a closed form. Spark's own `regr_slope` merges float covariance
    * buffers in partition order (not cross-engine-stable); instead the
    * classic sums formula runs on EXACT integers — x = whole MINUTES
    * from corpus start, y floor-quantized @1e-3 — sized so every sum
    * stays BELOW 2^53: the int→double casts are then EXACT, where a
    * wider integer hits each engine's own >2^53 conversion rounding
    * (measured: HUGEINT→double and DECIMAL→double disagree by 1 ulp on
    * a 5.5e17 numerator). The mean-form ratio divides those exact
    * doubles in one mirrored order. At corpus sizes where the sums
    * would cross 2^53, coarsen the quantization dials — the formula is
    * scale-free. One scan + one broadcast min. */
  lazy val q155TrendSlope: Q = Q(
    "q155_trend_slope",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      val m = ev.agg(min(col("us")).as("min_us"))
      val p = ev.crossJoin(broadcast(m))
        .withColumn("x", expr("(us - min_us) div 60000000"))
        .withColumn("yq", floor(col("value") * lit(1000.0)).cast("long"))
      val agg = p.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("yq")).as("sy"),
        sum(col("x") * col("yq")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val (n, sx, sy, sxy, sxx) = (col("n").cast("double"),
        col("sx").cast("double"), col("sy").cast("double"),
        col("sxy").cast("double"), col("sxx").cast("double"))
      agg
        .withColumn("slope_per_sec",
          (sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n))
            / lit(60000.0))
        .withColumn("intercept",
          sy / lit(1000.0) / n - col("slope_per_sec") * (sx * lit(60.0) / n))
        .select(col("event_type"), col("n"), col("slope_per_sec"), col("intercept"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, epoch_us(ts) AS us, value FROM events),
      m AS (SELECT MIN(us) AS min_us FROM ev),
      p AS (
        SELECT event_type,
          (us - min_us) // 60000000 AS x,
          CAST(floor(value * 1000.0e0) AS BIGINT) AS yq
        FROM ev CROSS JOIN m),
      agg AS (
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(yq) AS DOUBLE) AS sy,
          CAST(SUM(x * yq) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM p GROUP BY 1),
      sl AS (
        SELECT event_type, n, sx, sy,
          (sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n))
            / 60000.0e0 AS slope_per_sec
        FROM agg)
      SELECT event_type, n, slope_per_sec,
        sy / 1000.0e0 / n - slope_per_sec * (sx * 60.0e0 / n) AS intercept
      FROM sl
    """))

  /** DAY-OVER-DAY PERIOD COMPARISON — the reporting staple: daily event
    * counts + decimal-exact revenue per type, each day's relative change
    * against the previous day via one lag window (NULL on each type's
    * first day, as a report shows it). Daily rollup shuffles once on
    * (type, day); the lag partitions by type only — tiny. */
  lazy val q156DayOverDay: Q = Q(
    "q156_day_over_day",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("revenue"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("dod_change",
          (col("revenue") - col("prev_revenue")) / col("prev_revenue"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          COUNT(*) AS n_events,
          %s AS revenue
        FROM events GROUP BY 1, 2)
      SELECT event_type, day, n_events, revenue,
        LAG(revenue, 1) OVER w AS prev_revenue,
        (revenue - LAG(revenue, 1) OVER w) / LAG(revenue, 1) OVER w AS dod_change
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """.format(QueryDsl.oracleDsum("value", 6))))

  /** TEMPORAL HOLDOUT SPLIT — the time-based train/test assignment every
    * leakage-aware fraud/forecast model needs (q64's hash split is i.i.d.;
    * a temporal model must train strictly BEFORE its test window): the
    * cutoff is the exact 0.8-quantile of event time in integer µs
    * (`percentile` on unix_micros — exact, engine-identical), events at
    * or before it are train, after are test. One global aggregate
    * broadcast back to a projection scan; per-split × event-type counts
    * and spans prove the assignment. */
  lazy val q153TemporalSplit: Q = Q(
    "q153_temporal_split",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val cut = ev.agg(expr("percentile(us, 0.8)").as("cut_us"))
      ev.crossJoin(broadcast(cut))
        .withColumn("split", when(col("us") <= col("cut_us"), "train").otherwise("test"))
        .groupBy(col("split"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, epoch_us(ts) AS us FROM events),
      cut AS (SELECT quantile_cont(us, 0.8) AS cut_us FROM ev)
      SELECT CASE WHEN us <= cut_us THEN 'train' ELSE 'test' END AS split,
        event_type, COUNT(*) AS n,
        MIN(us) AS first_us, MAX(us) AS last_us
      FROM ev CROSS JOIN cut
      GROUP BY 1, 2
    """))

  /** SESSION TRANSITION MATRIX — behavioral path analysis over the
    * sessionized event stream: consecutive event-type pairs WITHIN a
    * session (30-minute inactivity boundary, the [[graft.ext
    * .Sessionize]] rule re-derived in-plan: session id = running count
    * of >30 min gaps per user), counted into the from→to matrix with
    * per-from totals — the input to Markov-chain path models and funnel
    * discovery. Two window passes + one grouped count, all partitioned
    * by user; nothing global. */
  lazy val q154SessionTransitions: Q = Q(
    "q154_session_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_session",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(w))
      val ws = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = ev
        .withColumn("next_type", lead(col("event_type"), 1).over(ws))
        .filter(col("next_type").isNotNull)
      pairs.groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("from_total",
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .withColumn("p", col("n") / col("from_total").cast("double"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
          epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT *, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
            THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
          AS session_id
        FROM ev),
      pairs AS (
        SELECT event_type AS from_type,
          LEAD(event_type, 1) OVER (PARTITION BY user_id, session_id
            ORDER BY ts, event_id) AS to_type
        FROM sess),
      counts AS (
        SELECT from_type, to_type, COUNT(*) AS n FROM pairs
        WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
        CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total,
        n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM counts
    """))

  /** EWMA PER ENTITY (α = 0.25) — the exponentially-weighted running
    * level every monitoring stack keeps, as a batch catalog query: an
    * ORDERED RECURRENCE (each step depends on the previous smoothed
    * value), which no unordered aggregate can express.
    *
    * SEGMENTED FOLD (r12, replacing the single per-key collect_list
    * whose buffer was one hot user's ENTIRE history — the OOM row at
    * 100 TB): number each user's events (keyed window — sort-based,
    * spillable, never an agg buffer), cut into fixed 256-event chunks,
    * fold each chunk independently, then combine chunks in order as
    * affine maps — a chunk's whole effect on the running level is
    * `acc·w + r` with `w = 0.75^len` (folded by repeated multiply, not
    * pow(), so both engines run identical IEEE ops) and `r` the chunk's
    * own fold. Same recurrence algebra; every aggregation buffer is now
    * ≤ 256 values + n/256 chunk triples. The struct-fold combine is the
    * q146 ordered-fold recipe lifted from scalars to (r, w) pairs —
    * cross-engine float determinism by running the SAME ops in the SAME
    * order, never by hoping reassociation is harmless. The streaming
    * twin ([[graft.streaming.Stateful]]) keeps the same level
    * incrementally with O(1) state. */
  /** The segmented-fold EWMA core (see [[q151Ewma]]'s scaladoc for the
    * algebra). `events` carries (user_id, ts, event_id, value); output is
    * one (user_id, n_events, ewma) row per user. `chunkLen` bounds every
    * aggregation buffer. */
  private[graft] def ewmaChunked(events: org.apache.spark.sql.DataFrame,
      chunkLen: Int = 256, alpha: Double = 0.25): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keep = 1.0 - alpha
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val chunks = events
      .withColumn("rn", row_number().over(w))
      .withColumn("chunk", floor((col("rn") - 1) / lit(chunkLen)))
      .groupBy(col("user_id"), col("chunk"))
      .agg(count(lit(1)).as("cnt"),
        aggregate(
          transform(sort_array(collect_list(struct(col("rn"), col("value")))),
            f => f.getField("value")),
          lit(0.0), (acc, x) => acc * lit(keep) + x * lit(alpha)).as("r"))
      .withColumn("wgt",
        aggregate(sequence(lit(1L), col("cnt")), lit(1.0), (a, _) => a * lit(keep)))
    chunks.groupBy(col("user_id"))
      .agg(sum(col("cnt")).as("n_events"),
        aggregate(
          sort_array(collect_list(struct(col("chunk"), col("r"), col("wgt")))),
          struct(lit(0.0).as("a"), lit(1.0).as("w")),
          (acc, c) => struct(
            (acc.getField("a") * c.getField("wgt") + c.getField("r")).as("a"),
            (acc.getField("w") * c.getField("wgt")).as("w")),
          acc => acc.getField("a")).as("ewma"))
  }

  lazy val q151Ewma: Q = Q(
    "q151_ewma",
    (s, dir) => ewmaChunked(t(s, dir, "events")),
    Some("""
      WITH ev AS (
        SELECT user_id, value,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      ch AS (
        SELECT user_id, (rn - 1) // 256 AS chunk, COUNT(*) AS cnt,
          list_reduce(list_prepend(0.0e0, list(value ORDER BY rn)),
            (acc, x) -> acc * 0.75e0 + x * 0.25e0) AS r
        FROM ev GROUP BY user_id, (rn - 1) // 256),
      chw AS (
        SELECT *, list_reduce(list_prepend(1.0e0,
            list_transform(range(cnt), x -> 0.75e0)), (a, b) -> a * b) AS wgt
        FROM ch)
      SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n_events,
        (list_reduce(
          list_prepend({'a': 0.0e0, 'w': 1.0e0},
            list({'a': r, 'w': wgt} ORDER BY chunk)),
          (acc, c) -> {'a': acc.a * c.w + c.a, 'w': acc.w * c.w})).a AS ewma
      FROM chw GROUP BY user_id
    """))

  /** Schema-full JSON parsing — `from_json` with a declared struct (vs
    * q45's per-path `get_json_object`): one parse per row into a typed
    * struct, field access afterwards is a plain projection, plus a
    * `to_json` canonical re-serialization round-trip. The declared-schema
    * form is the 100 TB shape: path extraction re-parses the document per
    * path, from_json parses once for any number of fields. */
  lazy val q110FromJson: Q = Q(
    "q110_from_json",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).as("p"))
        .select(col("event_id"), col("p.k").as("k"),
          col("p.k").isNotNull.as("parsed"),
          to_json(col("p")).as("canon")),
    Some("""
      SELECT event_id,
        json_extract(props, '$.k')::BIGINT AS k,
        json_extract(props, '$.k') IS NOT NULL AS parsed,
        CAST(to_json(struct_pack(k := json_extract(props, '$.k')::BIGINT))
          AS VARCHAR) AS canon
      FROM events
    """))

  /** WEEKLY RETENTION COHORTS — the product-analytics staple: users
    * grouped by first-activity week, each cohort's distinct-active count
    * at every week offset since, plus the retention fraction vs the
    * cohort's own week-0 size. Weeks are `unix_date div 7` — exact
    * integer arithmetic both engines derive identically from the
    * timestamp (no tz or truncation surface), and retention is one IEEE
    * divide of exact counts ⇒ full oracle.
    *
    * Scale shape: distinct (user, week) then a user-keyed min-aggregate
    * and a user-keyed join-back — all keyed shuffles on user_id, partial
    * aggs map-side; the (cohort, offset) result and its week-0 slice are
    * support-bounded (weeks² rows), so the final self-join broadcasts. */
  lazy val q199RetentionCohorts: Q = Q(
    "q199_retention_cohorts",
    (s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          expr("CAST(unix_date(to_date(ts)) AS BIGINT) div 7").as("wk"))
        .distinct()
        .barrier() // feeds cohorts AND activity
      val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
      val ret = uw.join(cohort, Seq("user_id"))
        .groupBy(col("cwk").as("cohort_week"),
          (col("wk") - col("cwk")).as("offset_week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val base = ret.filter(col("offset_week") === 0)
        .select(col("cohort_week"), col("n_users").as("n0"))
      ret.join(broadcast(base), Seq("cohort_week"))
        .withColumn("retention",
          col("n_users").cast("double") / col("n0").cast("double"))
        .select(col("cohort_week"), col("offset_week"), col("n_users"),
          col("retention"))
    },
    Some("""
      WITH uw AS (
        SELECT DISTINCT user_id,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7 AS wk
        FROM events),
      cohort AS (SELECT user_id, MIN(wk) AS cwk FROM uw GROUP BY user_id),
      ret AS (
        SELECT cwk AS cohort_week, wk - cwk AS offset_week,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM uw JOIN cohort USING (user_id)
        GROUP BY 1, 2),
      base AS (
        SELECT cohort_week, n_users AS n0 FROM ret WHERE offset_week = 0)
      SELECT cohort_week, offset_week, n_users,
        CAST(n_users AS DOUBLE) / CAST(n0 AS DOUBLE) AS retention
      FROM ret JOIN base USING (cohort_week)
    """))

  /** COHORT LTV CURVES — cumulative purchase revenue per user by
    * signup-week cohort and week offset: the "how much is a week-N user
    * worth by week N+k?" table every payback-period decision reads (q199
    * counts retained USERS; this accumulates their VALUE). Cohort
    * assignment is q199's first-activity week; weekly revenue is exact
    * µ-unit longs; the cumulate runs in a COHORT-KEYED window over the
    * (cohort × offset) aggregate — support-bounded (weeks², the q199
    * shape), so ScaleLint stays quiet by construction; LTV-per-user is one
    * exact-int divide. Cohort sizes join back broadcast (weeks-bounded). */
  lazy val q230CohortLtv: Q = Q(
    "q230_cohort_ltv",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("CAST(unix_date(to_date(ts)) AS BIGINT) div 7").as("wk"),
          (round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
            .cast("long").as("v"))
        .barrier() // feeds cohorts AND revenue
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
        .barrier() // feeds sizes AND the revenue join
      val sizes = cohort.groupBy(col("cwk").as("cohort_week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val weekly = ev.filter(col("event_type") === "purchase")
        .join(cohort, Seq("user_id"))
        .groupBy(col("cwk").as("cohort_week"),
          (col("wk") - col("cwk")).as("offset_week"))
        .agg(sum(col("v")).as("wk_rev"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("offset_week"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly
        .withColumn("cum_rev", sum(col("wk_rev")).over(w))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week"), col("offset_week"), col("n_users"),
          col("wk_rev"), col("cum_rev"),
          (col("cum_rev").cast("double") / col("n_users")).as("ltv_per_user"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7 AS wk,
          CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS v
        FROM events),
      cohort AS (SELECT user_id, MIN(wk) AS cwk FROM ev GROUP BY user_id),
      sizes AS (
        SELECT cwk AS cohort_week, CAST(COUNT(DISTINCT user_id) AS BIGINT)
          AS n_users
        FROM cohort GROUP BY 1),
      weekly AS (
        SELECT cwk AS cohort_week, wk - cwk AS offset_week,
          CAST(SUM(v) AS BIGINT) AS wk_rev
        FROM ev JOIN cohort USING (user_id)
        WHERE event_type = 'purchase'
        GROUP BY 1, 2),
      cum AS (
        SELECT *, CAST(SUM(wk_rev) OVER (PARTITION BY cohort_week
          ORDER BY offset_week
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_rev
        FROM weekly)
      SELECT cohort_week, offset_week, n_users, wk_rev, cum_rev,
        CAST(cum_rev AS DOUBLE) / n_users AS ltv_per_user
      FROM cum JOIN sizes USING (cohort_week)
    """))

  /** DAU / WAU / MAU STICKINESS — per day: distinct active users, the
    * 7-day and 28-day rolling distinct-user reaches, and the DAU/WAU
    * stickiness ratio (the engagement-frequency metric every product
    * review opens with). Sliding-window COUNT DISTINCT does not decompose
    * into partial aggregates, so each rolling reach EXPLODES the deduped
    * |user-days| table by its window (each active day contributes to the
    * next `win` days' reach — fan-out exactly `win`, a keyed shuffle,
    * never a range nested-loop over data), restricted to the observed-day
    * spine, then one distinct-count per day. New-vs-returning rides along
    * from each user's first-seen day. Exact integer counts, unrounded
    * exact-int ratios. */
  lazy val q231Stickiness: Q = Q(
    "q231_stickiness",
    (s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .distinct()
        .barrier() // spine, reaches, and first-seen share it
      val days = ud.select(col("day")).distinct()
      def reach(win: Int, cname: String) = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + (win - 1))).as("rday"))
        .join(days.select(col("day").as("rday")), Seq("rday"))
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as(cname))
        .withColumnRenamed("rday", "day")
      val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      val firstSeen = ud.groupBy(col("user_id")).agg(min(col("day")).as("fday"))
      val newUsers = firstSeen.groupBy(col("fday").as("day"))
        .agg(count(lit(1)).as("new_users"))
      dau
        .join(reach(7, "wau"), Seq("day"))
        .join(reach(28, "mau"), Seq("day"))
        .join(newUsers, Seq("day"), "left")
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          coalesce(col("new_users"), lit(0L)).as("new_users"),
          (col("dau") - coalesce(col("new_users"), lit(0L))).as("returning_users"),
          (col("dau").cast("double") / col("wau")).as("stickiness"))
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id,
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        FROM events),
      days AS (SELECT DISTINCT day FROM ud),
      dau AS (
        SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ud GROUP BY day),
      exp7 AS (
        SELECT user_id, UNNEST(range(day, day + 7)) AS rday FROM ud),
      wau AS (
        SELECT rday AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM exp7 JOIN days d ON d.day = exp7.rday
        GROUP BY rday),
      exp28 AS (
        SELECT user_id, UNNEST(range(day, day + 28)) AS rday FROM ud),
      mau AS (
        SELECT rday AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM exp28 JOIN days d ON d.day = exp28.rday
        GROUP BY rday),
      first_seen AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY user_id),
      newu AS (
        SELECT fday AS day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY fday)
      SELECT dau.day, dau, wau, mau,
        COALESCE(new_users, 0) AS new_users,
        dau - COALESCE(new_users, 0) AS returning_users,
        CAST(dau AS DOUBLE) / wau AS stickiness
      FROM dau
      JOIN wau USING (day) JOIN mau USING (day)
      LEFT JOIN newu USING (day)
    """))

  /** MINIMUM DETECTABLE EFFECT — the experiment-sizing readout that closes
    * the q224–q226 tier: per event type, the relative effect a two-arm
    * test on per-event values could detect at α=0.05 / power 0.8 given the
    * CURRENT traffic and variance, MDE = (z_{α/2}+z_β)·√(2σ²/n) / μ with
    * the z quantiles as shared literals (no erf — the one transcendental
    * that would split the engines). Variance from exact decimal moments
    * (n·Σx² − (Σx)² over µ-units), one identical double chain. */
  lazy val q232Mde: Q = Q(
    "q232_mde",
    (s, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val m = t(s, dir, "events")
        .select(col("event_type"),
          (round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
            .cast("long").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(38, 0))).as("sx"),
          sum(col("v").cast(DecimalType(19, 0)) * col("v").cast(DecimalType(19, 0)))
            .as("sxx"))
      m.select(col("event_type"), col("n"),
          (d(col("sx")) / d(col("n"))).as("mean_micros"),
          ((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) /
            (d(col("n")) * (d(col("n")) - 1.0))).as("variance"))
        .select(col("event_type"), col("n"), col("mean_micros"), col("variance"),
          round(lit(1.959964) + lit(0.841621), 6).as("z_sum"),
          round((lit(1.959964) + lit(0.841621))
            * sqrt(lit(2.0) * col("variance") / d(col("n")))
            / col("mean_micros"), 6).as("mde_relative"))
    },
    Some("""
      WITH m AS (
        SELECT event_type, COUNT(*) AS n,
          SUM(CAST(CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000
            AS BIGINT) AS HUGEINT)) AS sx,
          SUM(CAST(CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000
            AS BIGINT) AS HUGEINT)
            * CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT))
            AS sxx
        FROM events GROUP BY event_type),
      v AS (
        SELECT event_type, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_micros,
          (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)) AS variance
        FROM m)
      SELECT event_type, n, mean_micros, variance,
        round(1.959964e0 + 0.841621e0, 6) AS z_sum,
        round((1.959964e0 + 0.841621e0)
          * sqrt(2.0e0 * variance / CAST(n AS DOUBLE)) / mean_micros, 6)
          AS mde_relative
      FROM v
    """))

  /** ODDS RATIO WITH LOG-CI — the binary-outcome experiment readout
    * (q224/q232 treat continuous value metrics; conversion is a 2×2
    * table): treatment arm = the q224 hash-bucket assignment, outcome =
    * "the user's post-period purchase total EXCEEDS their pre-period
    * total" (an exact µ-unit integer comparison; near 50/50 on this data
    * at every SF — a raw "purchased at all" outcome saturates and zeroes
    * two cells), OR = (a·d)/(b·c) on exact integer cells, and the Woolf
    * log-interval
    * ln(OR) ± 1.96·√(1/a+1/b+1/c+1/d). One user-keyed aggregate → four
    * cells → one row; ln is the only transcendental and follows the
    * q209/q211 discipline (round@6 — both engines call libm on the
    * IDENTICAL double, so the rounded value cannot split). */
  lazy val q234OddsRatio: Q = Q(
    "q234_odds_ratio",
    (s, dir) => {
      val cutoff = 19738L
      val micros = (round(col("value"), 6).cast(DecimalType(28, 6)) * 1000000)
        .cast("long")
      val perUser = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          sum(when(unix_date(to_date(col("ts"))).cast("long") >= cutoff, micros)
            .otherwise(0L)).as("post"),
          sum(when(unix_date(to_date(col("ts"))).cast("long") < cutoff, micros)
            .otherwise(0L)).as("pre"))
        .select((col("user_id") % 3 === 0).as("treat"),
          (col("post") > col("pre")).as("conv"))
      val cells = perUser.agg(
        countIf(col("treat") && col("conv")).as("a"),
        countIf(col("treat") && !col("conv")).as("b"),
        countIf(!col("treat") && col("conv")).as("c"),
        countIf(!col("treat") && !col("conv")).as("d"))
      val dd = (x: org.apache.spark.sql.Column) => x.cast("double")
      cells.select(col("a"), col("b"), col("c"), col("d"),
          ((dd(col("a")) * dd(col("d"))) / (dd(col("b")) * dd(col("c"))))
            .as("odds_ratio"),
          sqrt(lit(1.0) / dd(col("a")) + lit(1.0) / dd(col("b")) +
            lit(1.0) / dd(col("c")) + lit(1.0) / dd(col("d")))
            .as("se_log"))
        .select(col("a"), col("b"), col("c"), col("d"), col("odds_ratio"),
          round(log(col("odds_ratio")), 6).as("log_or"),
          round(log(col("odds_ratio")) - lit(1.959964) * col("se_log"), 6)
            .as("ci_lo"),
          round(log(col("odds_ratio")) + lit(1.959964) * col("se_log"), 6)
            .as("ci_hi"))
    },
    Some(s"""
      WITH per_user AS (
        SELECT user_id,
          CAST(SUM(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) >= 19738
            THEN CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
            ELSE 0 END) AS BIGINT) AS post,
          CAST(SUM(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) < 19738
            THEN CAST(CAST(round(value, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
            ELSE 0 END) AS BIGINT) AS pre
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      flags AS (
        SELECT user_id % 3 = 0 AS treat, post > pre AS conv FROM per_user),
      cells AS (
        SELECT
          ${QueryDsl.oracleCountIf("treat AND conv")} AS a,
          ${QueryDsl.oracleCountIf("treat AND NOT conv")} AS b,
          ${QueryDsl.oracleCountIf("NOT treat AND conv")} AS c,
          ${QueryDsl.oracleCountIf("NOT treat AND NOT conv")} AS d
        FROM flags),
      s1 AS (
        SELECT a, b, c, d,
          (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
            / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS odds_ratio,
          sqrt(1.0e0 / CAST(a AS DOUBLE) + 1.0e0 / CAST(b AS DOUBLE)
             + 1.0e0 / CAST(c AS DOUBLE) + 1.0e0 / CAST(d AS DOUBLE)) AS se_log
        FROM cells)
      SELECT a, b, c, d, odds_ratio,
        round(ln(odds_ratio), 6) AS log_or,
        round(ln(odds_ratio) - 1.959964e0 * se_log, 6) AS ci_lo,
        round(ln(odds_ratio) + 1.959964e0 * se_log, 6) AS ci_hi
      FROM s1
    """))

  /** ORDERED CONVERSION FUNNEL signup → click → purchase: per user, the
    * FIRST signup, the first click STRICTLY AFTER it, the first purchase
    * strictly after that — order-sensitive stage progression (a click
    * before signup does not count), which a plain per-type min cannot
    * express. One summary row: stage counts, step conversion rates, and
    * mean hours signup→purchase among full converters. Each stage is a
    * user-keyed min-aggregate then a user-keyed join to the next stage's
    * events — the fact table is touched once per stage with the
    * event-type filter pushed to the scan, and every shuffle is on
    * user_id. Timestamps compare as exact micros (`unix_micros` ↔
    * `epoch_us`), the rates are IEEE divides of exact counts, and the
    * mean is exact-decimal-sum / exact-count ⇒ full oracle. */
  lazy val q200Funnel: Q = Q(
    "q200_funnel",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .barrier() // feeds all three stage scans
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
        .barrier() // feeds stage 2 AND the count
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id")).filter(col("us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"), min(col("t1")).as("t1"))
        .barrier() // feeds stage 3 AND the count
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id")).filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"), min(col("t1")).as("t1"))
      s1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(s2.agg(count(lit(1)).as("n_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase"),
          (sum((col("t3") - col("t1")).cast(DecimalType(28, 0))).cast("double")
            / count(lit(1)) / lit(3600000000.0d)).as("mean_hours_to_convert")))
        .withColumn("click_rate",
          col("n_click").cast("double") / col("n_signup").cast("double"))
        .withColumn("purchase_rate",
          col("n_purchase").cast("double") / col("n_click").cast("double"))
        .select(col("n_signup"), col("n_click"), col("n_purchase"),
          col("click_rate"), col("purchase_rate"), col("mean_hours_to_convert"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      s1 AS (
        SELECT user_id, MIN(us) AS t1 FROM ev
        WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (
        SELECT ev.user_id, MIN(us) AS t2, MIN(t1) AS t1
        FROM ev JOIN s1 USING (user_id)
        WHERE event_type = 'click' AND us > t1 GROUP BY ev.user_id),
      s3 AS (
        SELECT ev.user_id, MIN(us) AS t3, MIN(t1) AS t1
        FROM ev JOIN s2 USING (user_id)
        WHERE event_type = 'purchase' AND us > t2 GROUP BY ev.user_id)
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_signup,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase,
        CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
          / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) AS click_rate,
        CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
          / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE) AS purchase_rate,
        (SELECT CAST(SUM(CAST(t3 - t1 AS DECIMAL(28,0))) AS DOUBLE)
            / COUNT(*) / 3600000000.0 FROM s3) AS mean_hours_to_convert
    """))

  /** ASSOCIATION RULES over order baskets — support / confidence / lift
    * for co-purchased part pairs, the market-basket rule miner on top of
    * q193's pair machinery: lift = N·n_ab / (n_a·n_b) > 1 means the pair
    * co-occurs more than independence predicts. Same scale discipline as
    * q193: pair generation is the order-keyed self-join (per-basket
    * fan-out bound, never all-pairs), the per-item count join-back is
    * UNHINTED (data-sized dimension — AQE may elect a broadcast when
    * small, the plan never demands one), and only the 1-row basket total
    * broadcasts. A support floor (n_ab ≥ 3) prunes the rule set the way
    * every Apriori-family miner does. All inputs are exact counts ≤ 2^53,
    * so the double products/divides are bit-identical across engines ⇒
    * full oracle. Top-20 by lift with full (a, b) tiebreak plans as
    * TakeOrderedAndProject. */
  lazy val q201AssociationRules: Q = Q(
    "q201_association_rules",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        .barrier() // feeds N, counts, AND the pair join
      val total = li.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val cnt = li.groupBy(col("pk")).agg(count(lit(1)).as("n"))
      val pairs = li.select(col("ok"), col("pk").as("a"))
        .join(li.select(col("ok"), col("pk").as("b")), Seq("ok"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pairs
        .join(cnt.select(col("pk").as("a"), col("n").as("n_a")), Seq("a"))
        .join(cnt.select(col("pk").as("b"), col("n").as("n_b")), Seq("b"))
        .crossJoin(broadcast(total))
        .withColumn("support",
          col("n_ab").cast("double") / col("n_orders").cast("double"))
        .withColumn("conf_ab",
          col("n_ab").cast("double") / col("n_a").cast("double"))
        .withColumn("conf_ba",
          col("n_ab").cast("double") / col("n_b").cast("double"))
        .withColumn("lift",
          (col("n_ab") * col("n_orders")).cast("double")
            / (col("n_a") * col("n_b")).cast("double"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          col("support"), col("conf_ab"), col("conf_ba"), col("lift"))
    },
    Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      total AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
      cnt AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY pk),
      pairs AS (
        SELECT x.pk AS a, y.pk AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3)
      SELECT a, b, n_ab, ca.n AS n_a, cb.n AS n_b,
        CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
        CAST(n_ab AS DOUBLE) / CAST(ca.n AS DOUBLE) AS conf_ab,
        CAST(n_ab AS DOUBLE) / CAST(cb.n AS DOUBLE) AS conf_ba,
        CAST(n_ab * n_orders AS DOUBLE)
          / CAST(ca.n * cb.n AS DOUBLE) AS lift
      FROM pairs
      JOIN cnt ca ON pairs.a = ca.pk
      JOIN cnt cb ON pairs.b = cb.pk
      CROSS JOIN total
      ORDER BY lift DESC, a, b
      LIMIT 20
    """))

  /** MANN–WHITNEY U (Wilcoxon rank-sum) — the nonparametric two-sample
    * test: do 'purchase' event values stochastically dominate 'click'
    * values? Ranks are TIE-CORRECTED average ranks, kept exact as
    * DOUBLED integers (avg rank of a tie group = prior + (c+1)/2, so
    * 2·rank = 2·prior + c + 1 — integer always). The running `prior`
    * (count of strictly-smaller values) comes from
    * [[graft.ext.Scan.runningSumExclusive]] over the DISTINCT-value
    * count table — values are continuous, so the distinct table is
    * data-sized and a single-partition window over it would be the q157
    * dead-end; the scan keeps every stage parallel. Rank-sums and the
    * tie term Σ(c³−c) accumulate in DECIMAL (exact, order-free; the
    * c³ term bounds the per-value tie count at 10¹² — far past any real
    * corpus). U, the normal approximation z (with the standard tie
    * correction), and nothing else cross into floats: one cast chain of
    * exact integers into identical-order IEEE ops on both engines. */
  lazy val q202MannWhitney: Q = Q(
    "q202_mann_whitney",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("value").as("v"),
          (col("event_type") === "purchase").as("is_a"))
      val cnt = ev.groupBy(col("v")).agg(
        count(lit(1)).as("c"), countIf(col("is_a")).as("ca"))
      val ranked = graft.ext.Scan
        .runningSumExclusive(cnt, Seq(col("v")), "c", "prior")
        .withColumn("r2",
          lit(2L) * coalesce(col("prior"), lit(0L)) + col("c") + lit(1L))
      val cd = col("c").cast(DecimalType(12, 0))
      val agg = ranked.agg(
        sum(col("ca")).as("na"),
        sum(col("c") - col("ca")).as("nb"),
        sum(col("ca").cast(DecimalType(18, 0))
          * col("r2").cast(DecimalType(18, 0))).as("ra2"),
        sum(cd * cd * cd - cd).as("t"))
      val naD = col("na").cast(DecimalType(19, 0))
      val nbD = col("nb").cast(DecimalType(19, 0))
      val dna = col("na").cast("double")
      val dnb = col("nb").cast("double")
      val dn = (col("na") + col("nb")).cast("double")
      agg.select(
        col("na").as("n_a"), col("nb").as("n_b"),
        ((col("ra2") - naD * (naD + lit(1))).cast("double") / lit(2.0)).as("u_a"),
        (((col("ra2") - naD * (naD + lit(1)) - naD * nbD).cast("double") / lit(2.0))
          / sqrt(dna * dnb / lit(12.0)
            * ((col("na") + col("nb") + 1).cast("double")
              - col("t").cast("double")
                / (dn * (col("na") + col("nb") - 1).cast("double"))))).as("z"))
    },
    Some("""
      WITH ev AS (
        SELECT value AS v, (event_type = 'purchase') AS is_a
        FROM events WHERE event_type IN ('purchase', 'click')),
      cnt AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca
        FROM ev GROUP BY v),
      ranked AS (
        SELECT *, 2 * COALESCE(SUM(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
        FROM cnt),
      agg AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(c - ca) AS BIGINT) AS nb,
          SUM(ca::HUGEINT * r2) AS ra2,
          SUM(c::HUGEINT * c * c - c) AS t
        FROM ranked)
      SELECT na AS n_a, nb AS n_b,
        CAST(ra2 - na::HUGEINT * (na + 1) AS DOUBLE) / 2.0 AS u_a,
        (CAST(ra2 - na::HUGEINT * (na + 1) - na::HUGEINT * nb AS DOUBLE) / 2.0)
          / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
            * (CAST(na + nb + 1 AS DOUBLE) - CAST(t AS DOUBLE)
              / (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE)))) AS z
      FROM agg
    """))

  /** SPEARMAN RANK CORRELATION between two per-user engagement metrics
    * (event count vs decimal-exact total value) — the monotone-
    * association measure robust to any metric rescaling, where q155's
    * Pearson-style slope is not. Users are DATA-SIZED, so each metric's
    * tie-averaged ranks come from the [[graft.ext.Scan]] recipe (distinct
    * metric values → running prior count → 2·rank integers) and join back
    * keyed on the metric value — no global window, no data-sized
    * broadcast anywhere. ρ is Pearson over the doubled ranks (scale-
    * invariant, so the ×2 cancels): all five moments accumulate in
    * DECIMAL (exact to ~10¹¹ users before 38 digits saturate — noted,
    * far past the bench SFs), then one identical-order double chain. */
  lazy val q203Spearman: Q = Q(
    "q203_spearman",
    (s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"),
          sum(col("value").cast(DecimalType(28, 8))).as("y"))
        .barrier() // feeds both rank tables + join-back
      def rank2(keyed: org.apache.spark.sql.DataFrame, c: String,
          out: String): org.apache.spark.sql.DataFrame = {
        val cnt = keyed.groupBy(col(c)).agg(count(lit(1)).as("__c"))
        graft.ext.Scan.runningSumExclusive(cnt, Seq(col(c)), "__c", "__p")
          .select(col(c),
            (lit(2L) * coalesce(col("__p"), lit(0L)) + col("__c") + lit(1L))
              .as(out))
      }
      val r = u.join(rank2(u.select(col("x")), "x", "r2x"), Seq("x"))
        .join(rank2(u.select(col("y")), "y", "r2y"), Seq("y"))
      def d19(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
      val agg = r.agg(
        count(lit(1)).as("n"),
        sum(d19(col("r2x"))).as("sx"), sum(d19(col("r2y"))).as("sy"),
        sum(d19(col("r2x")) * d19(col("r2y"))).as("sxy"),
        sum(d19(col("r2x")) * d19(col("r2x"))).as("sxx"),
        sum(d19(col("r2y")) * d19(col("r2y"))).as("syy"))
      def d(c: String) = col(c).cast("double")
      agg.select(col("n"),
        ((d("n") * d("sxy") - d("sx") * d("sy"))
          / sqrt((d("n") * d("sxx") - d("sx") * d("sx"))
            * (d("n") * d("syy") - d("sy") * d("sy")))).as("spearman_rho"))
    },
    Some("""
      WITH u AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
          SUM(CAST(value AS DECIMAL(28,8))) AS y
        FROM events GROUP BY user_id),
      r AS (
        SELECT x, y,
          2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS r2x,
          2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS r2y
        FROM u),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(r2x::HUGEINT) AS sx, SUM(r2y::HUGEINT) AS sy,
          SUM(r2x::HUGEINT * r2y) AS sxy,
          SUM(r2x::HUGEINT * r2x) AS sxx,
          SUM(r2y::HUGEINT * r2y) AS syy
        FROM r)
      SELECT n,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS spearman_rho
      FROM agg
    """))

  /** LAG-k AUTOCORRELATION (ACF at lags 1, 2, 7) of the daily event-value
    * series — the seasonality detector behind every forecasting pipeline
    * (lag-7 catches the weekly cycle q183 decomposes; lag-1 the
    * persistence q151's EWMA exploits). The series is the AGGREGATED day
    * table (bounded support — the q186 rule), so the lag join is a small
    * keyed self-join on day+k, never a window over raw data. Determinism:
    * day totals are decimal-exact; the mean is one double divide;
    * deviation products round @6 into DECIMAL sums (q87's libm recipe —
    * Spark's partial-agg order can't drift from DuckDB's serial sum);
    * final ratios floor-quantized @6 (rule-free where round-half is
    * not). */
  lazy val q204Autocorrelation: Q = Q(
    "q204_autocorrelation",
    (s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(28, 8))).as("tot"))
        .select(unix_date(col("day")).cast("long").as("d"), col("tot"))
        .barrier() // feeds stats, both join sides, den
      val stats = daily.agg(count(lit(1)).as("n"),
        sum(col("tot")).cast("double").as("sm"))
      val dev = daily.crossJoin(broadcast(stats))
        .select(col("d"),
          (col("tot").cast("double") - col("sm") / col("n").cast("double"))
            .as("dv"))
        .barrier()
      val den = dev.agg(
        sum(round(col("dv") * col("dv"), 6).cast(DecimalType(28, 6)))
          .as("den"))
      val lags = Seq(1L, 2L, 7L).toDF("lag")
      val b = dev.select(col("d").as("db"), col("dv").as("dvb"))
      dev.crossJoin(broadcast(lags))
        .join(b, col("db") === col("d") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(round(col("dv") * col("dvb"), 6).cast(DecimalType(28, 6)))
            .as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag"), col("n_pairs"),
          (floor(col("num").cast("double") / col("den").cast("double")
            * lit(1000000.0)).cast("double") / lit(1000000.0)).as("acf"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS d,
          SUM(CAST(value AS DECIMAL(28,8))) AS tot
        FROM events GROUP BY 1),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(tot) AS DOUBLE) AS sm
        FROM daily),
      dev AS (
        SELECT d, CAST(tot AS DOUBLE) - sm / CAST(n AS DOUBLE) AS dv
        FROM daily, stats),
      den AS (
        SELECT SUM(CAST(round(dv * dv, 6) AS DECIMAL(28,6))) AS den FROM dev),
      lags AS (SELECT unnest([1, 2, 7]) AS lag),
      pairs AS (
        SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          SUM(CAST(round(a.dv * b.dv, 6) AS DECIMAL(28,6))) AS num
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.d = a.d + l.lag
        GROUP BY l.lag)
      SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000.0)
          / 1000000.0 AS acf
      FROM pairs, den
    """))

  /** FANO FACTOR (burstiness index) of daily event arrivals per type —
    * variance-to-mean of the daily count series: 1 = Poisson arrivals,
    * > 1 = bursty (incident storms, batch jobs masquerading as users),
    * < 1 = regular/throttled. EXACT until one final divide: with integer
    * daily counts, population var/mean = (n·Σc² − (Σc)²) / (n·Σc) — both
    * sides integer (DECIMAL-accumulated), so the quotient is one IEEE
    * division of exactly-representable values on both engines. Day
    * support is bounded (q186 rule); everything shuffles on
    * (type, day) then (type). */
  lazy val q210FanoFactor: Q = Q(
    "q210_fano_factor",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val cd = col("c").cast(DecimalType(18, 0))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total"),
          sum(cd * cd).as("ss"))
        .select(col("event_type"), col("n_days"), col("total"),
          ((col("n_days").cast(DecimalType(18, 0))
              * col("ss") - col("total").cast(DecimalType(18, 0))
              * col("total").cast(DecimalType(18, 0))).cast("double")
            / (col("n_days").cast(DecimalType(18, 0))
              * col("total").cast(DecimalType(18, 0))).cast("double"))
            .as("fano"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(SUM(c) AS BIGINT) AS total,
        CAST(COUNT(*)::HUGEINT * SUM(c::HUGEINT * c) - SUM(c)::HUGEINT * SUM(c) AS DOUBLE)
          / CAST(COUNT(*)::HUGEINT * SUM(c) AS DOUBLE) AS fano
      FROM daily GROUP BY event_type
    """))

  /** MUTUAL INFORMATION between two categoricals (customer nation ×
    * market segment) — the dependence measure chi-square (q146) tests but
    * cannot QUANTIFY in bits/nats: MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))).
    * Support is category-bounded (≤ 25×5 cells), so all three count
    * tables broadcast; counts are exact; each cell's nat term rounds @6
    * (q87's libm recipe) into a DECIMAL sum — order-free, engine-stable.
    * The ln argument multiplies in DOUBLES, same order both engines
    * (integer products would overflow int64 near 10¹⁰ rows), so libm is
    * fed the identical double everywhere. */
  lazy val q211MutualInformation: Q = Q(
    "q211_mutual_information",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("x"), col("c_mktsegment").as("y"))
        .barrier() // feeds all three count tables
      val nxy = c.groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      val nx = c.groupBy(col("x")).agg(count(lit(1)).as("n_x"))
      val ny = c.groupBy(col("y")).agg(count(lit(1)).as("n_y"))
      val tot = c.agg(count(lit(1)).as("n"))
      nxy.join(broadcast(nx), Seq("x")).join(broadcast(ny), Seq("y"))
        .crossJoin(broadcast(tot))
        .select(col("n"),
          round((col("n_xy").cast("double") / col("n").cast("double"))
            * log((col("n_xy").cast("double") * col("n").cast("double"))
              / (col("n_x").cast("double") * col("n_y").cast("double"))), 6)
            .cast(DecimalType(18, 6)).as("term"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_cells"), sum(col("term")).cast("double").as("mi_nats"))
        .select(col("n").as("n_rows"), col("n_cells"), col("mi_nats"))
    },
    Some("""
      WITH c AS (
        SELECT c_nationkey AS x, c_mktsegment AS y FROM customer),
      nxy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_xy FROM c GROUP BY 1, 2),
      nx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x FROM c GROUP BY 1),
      ny AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_y FROM c GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
      terms AS (
        SELECT n,
          CAST(round((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
            * ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
              / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6)
            AS DECIMAL(18,6)) AS term
        FROM nxy JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN tot)
      SELECT n AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST(SUM(term) AS DOUBLE) AS mi_nats
      FROM terms GROUP BY n
    """))
}
