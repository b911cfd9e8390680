package graft.queries

import graft.plans.ScaleLint.BarrierSyntax

import graft.{Q, QueryDsl}
import QueryDsl._
import graft.ext.{Dedup, PortableHash}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Remaining aggregate/expression coverage: stddev (A5), HLL approximate
  * distinct (A6 scale path), native-Expression SimHash near-dup.
  */
object MiscQueries {

  /** Sample stddev (A5, ref 03:101). Engines agree to ~1e-12 relative;
    * rounding at 2 decimals on ~1e4-magnitude values is 9 orders of margin —
    * and sub-group sizes keep accumulation short. */
  val q37Stddev: Q = Q(
    "q37_stddev",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev(col("l_extendedprice")), 2).as("stddev_price"),
          round(avg(col("l_extendedprice")), 2).as("avg_price_rounded"),
          count(lit(1)).as("n")),
    Some("""
      SELECT l_returnflag,
        round(stddev_samp(l_extendedprice), 2) AS stddev_price,
        round(avg(l_extendedprice), 2) AS avg_price_rounded,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag
    """))

  /** approx_count_distinct — the HLL++ scale path for A6 (exact
    * countDistinct shuffles every distinct value; the sketch shuffles ~1.5KB
    * per group). Sketch internals are engine-specific ⇒ rows-only check;
    * the ±5% accuracy bound is asserted in MiscSpec. */
  val q38ApproxDistinct: Q = Q(
    "q38_approx_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          approx_count_distinct(col("l_partkey")).as("approx_parts")),
    None)

  /** SimHash near-dup pairs: fingerprint per doc, 16-bit band bucketing,
    * Hamming ≤ 3 verification with bit_count(xor) — FULL-ORACLE since r16:
    * fingerprints come from [[graft.ext.PortableHash]]'s modular-BIGINT
    * bit votes (64 seeded mixes per token hash, sign-summed per bit, sign
    * bits packed 16 per band), so DuckDB re-derives every fingerprint,
    * band bucket and Hamming distance with identical integer arithmetic.
    * The array<long>-of-4-bands layout (vs one packed int64) keeps bit 63
    * off the BIGINT sign and IS the LSH band key set. Pre-r16 this used
    * the native xxhash64-based [[graft.functions.SimHash64]] ⇒ rows-only;
    * that expression stays spec-covered (SimHashSpec) as the throughput
    * form. */
  val q39SimhashNearDup: Q = Q(
    "q39_simhash_neardup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
          .withColumn("text", upper(col("text"))))
      // native fused expression (PortableSimHashBands): the Column
      // composition (simhashVotes → simhashPack) is interpreted AND
      // CollapseProject clones the 64-vote fold once per packed bit —
      // measured 540 s at sf0.1 vs sub-second fused; bit-equal by spec
      val fp = corpus.select(col("doc_id").as("id"),
        graft.functions.PortableHashSig.portableSimhashBands(
          split(lower(trim(col("text"))), " ")).as("fp"))
      val banded = fp.select(col("id"), col("fp").as("payload"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            get(col("fp"), lit(b)).as("key"))): _*)).as("bucket"))
      Dedup.bucketPayloadPairs(banded)
        .select(col("id_a"), col("id_b"),
          aggregate(
            zip_with(col("payload_a"), col("payload_b"),
              (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
            lit(0L), (acc, c) => acc + c).as("hamming"))
        .filter(col("hamming") <= 3)
    },
    Some("""
      WITH corpus AS (
        SELECT * FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, upper(text) AS text, lang, source,
          n_chars
        FROM documents WHERE doc_id % 10 = 0),
      toks AS (
        SELECT doc_id AS id,
          list_filter(string_split(lower(trim(text)), ' '),
            t -> length(t) > 0) AS tk
        FROM corpus),
      th AS (
        SELECT id, list_transform(tk, t ->
          list_reduce(
            list_prepend(CAST(7 AS BIGINT),
              list_transform(generate_series(1, length(t)),
                i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
            (a, c) -> (a * 31 + c) % 1000003)) AS hs
        FROM toks),
      votes AS (
        SELECT id, list_transform(generate_series(0, 63), b ->
          CAST(list_sum(list_transform(hs, h ->
            CASE WHEN ((h * (b + 1)) % 1000003 * 2654435761) % 1000003 * 2
                   >= 1000003
              THEN 1 ELSE -1 END)) AS BIGINT)) AS v
        FROM th),
      fp AS (
        SELECT id, list_transform(generate_series(0, 3), band ->
          CAST(list_sum(list_transform(generate_series(0, 15), i ->
            CASE WHEN v[band * 16 + i + 1] > 0
              THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
            AS BIGINT)) AS f
        FROM votes),
      banded AS (
        SELECT id, f, t.band AS band, f[t.band + 1] AS key
        FROM fp, generate_series(0, 3) t(band)),
      pairs AS (
        SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
          CAST(bit_count(xor(a.f[1], b2.f[1])) + bit_count(xor(a.f[2], b2.f[2]))
             + bit_count(xor(a.f[3], b2.f[3])) + bit_count(xor(a.f[4], b2.f[4]))
            AS BIGINT) AS hamming
        FROM banded a JOIN banded b2 USING (band, key)
        WHERE a.id < b2.id)
      SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """))

  /** Bivariate stats: correlation + sample covariance. Both engines'
    * accumulation orders differ only in the ~1e-12 relative tail; rounding
    * (4 for corr ∈ [-1,1], 2 for covar ~1e4) leaves 8+ orders of margin. */
  val q51CorrCovar: Q = Q(
    "q51_corr_covar",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_covar"),
          count(lit(1)).as("n")),
    Some("""
      SELECT l_returnflag,
        round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag
    """))

  /** MERGEABLE distinct-count sketches (Datasketches HLL): per-segment
    * partial sketches, re-aggregated to a global estimate by UNIONING the
    * sketches — never rescanning raw data. This is the 100 TB cardinality
    * pattern (daily partial sketches → any rollup for free); q38's
    * approx_count_distinct gives only the final number. Sketches are
    * deterministic for a given input set but engine-specific ⇒ rows-only;
    * accuracy + merge-equals-whole proven in MiscQueriesSpec. */
  val q99HllMerge: Q = Q(
    "q99_hll_merge",
    (s, dir) => {
      val partials = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
          count(lit(1)).as("n_events"))
      val per = partials.select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("approx_users"), col("n_events"))
      val merged = partials
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"),
          sum(col("n_events")).as("n_events"))
        .select(lit("__ALL__").as("event_type"), col("approx_users"), col("n_events"))
      per.unionByName(merged)
    },
    None)

  /** RFM SEGMENTATION — the classic customer-value grid: per customer,
    * Recency (latest order), Frequency (order count), Monetary (decimal-
    * exact spend), each quintile-scored by PERCENTILE CUTOFFS: one
    * global exact-percentile aggregate (the q47 `percentile` ↔
    * `quantile_cont` pairing) computes the 0.2/0.4/0.6/0.8 cutoffs per
    * dimension, a 1-row broadcast carries them back, and the score is a
    * pure comparison count — `1 + |{cutoffs ≥ value}|`, tile 1 = top
    * quintile, matching the DESC direction of the classic ntile form.
    *
    * WHY cutoffs and not ntile: `ntile(5)` needs an unpartitioned
    * `Window.orderBy` — a single-partition GLOBAL SORT of every
    * customer, three times over. That was the catalog's one
    * scale-killer shape (r11 verdict). The cutoff form replaces all
    * three sorts with one mergeable aggregate + a broadcast join; the
    * scoring stage is a narrow projection that never shuffles. Semantic
    * delta vs ntile, on purpose: equal values now get EQUAL scores
    * (ntile splits ties across tiles by the arbitrary custkey tiebreak),
    * and tile populations are interpolation-boundary-sized rather than
    * exactly N/5 — the defensible segmentation semantics, and equally
    * SQL-expressible. At 10⁹+ customers swap `percentile` →
    * `approx_percentile` (q115's pairing): one token, bounded buffers.
    *
    * Cross-engine determinism: cutoffs are doubles from the SAME
    * (n−1)p interpolation over the same sorted data (q47-proven);
    * values compare as doubles on both sides; recency compares in
    * day-space (`datediff` ↔ date subtraction). */
  val q145RfmSegments: Q = Q(
    "q145_rfm_segments",
    (s, dir) => {
      val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
      val rfm = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          dsum(col("o_totalprice"), 2).as("monetary"))
        .withColumn("r_days", datediff(col("last_order"), lit("1970-01-01")))
        .withColumn("m_dbl", col("monetary").cast("double"))
        // both the cutoff aggregate and the scoring projection read rfm:
        // materialize it once (lazy — no extra job barrier) instead of
        // scanning + re-aggregating orders twice
        .barrier()
      val cuts = rfm.agg(
        expr(s"percentile(r_days, $qs)").as("rq"),
        expr(s"percentile(frequency, $qs)").as("fq"),
        expr(s"percentile(m_dbl, $qs)").as("mq"))
      def score(v: Column, cutArr: Column): Column =
        lit(1L) + (0 until 4).map(i => (v <= element_at(cutArr, i + 1)).cast("long")).reduce(_ + _)
      rfm.crossJoin(broadcast(cuts))
        .withColumn("r_score", score(col("r_days").cast("double"), col("rq")))
        .withColumn("f_score", score(col("frequency").cast("double"), col("fq")))
        .withColumn("m_score", score(col("m_dbl"), col("mq")))
        .withColumn("segment",
          concat(col("r_score"), lit("-"), col("f_score"), lit("-"), col("m_score")))
        .select("o_custkey", "last_order", "frequency", "monetary",
          "r_score", "f_score", "m_score", "segment")
    },
    Some("""
      WITH rfm AS (
        SELECT o_custkey,
          MAX(o_orderdate) AS last_order,
          COUNT(*) AS frequency,
          %s AS monetary
        FROM orders GROUP BY o_custkey),
      r2 AS (
        SELECT *, CAST(last_order AS DATE) - DATE '1970-01-01' AS r_days,
          CAST(monetary AS DOUBLE) AS m_dbl
        FROM rfm),
      cuts AS (
        SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
          quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fq,
          quantile_cont(m_dbl, [0.2, 0.4, 0.6, 0.8]) AS mq
        FROM r2),
      scored AS (
        SELECT o_custkey, last_order, frequency, monetary,
          1 + CAST(CAST(r_days AS DOUBLE) <= rq[1] AS BIGINT) + CAST(CAST(r_days AS DOUBLE) <= rq[2] AS BIGINT)
            + CAST(CAST(r_days AS DOUBLE) <= rq[3] AS BIGINT) + CAST(CAST(r_days AS DOUBLE) <= rq[4] AS BIGINT) AS r_score,
          1 + CAST(CAST(frequency AS DOUBLE) <= fq[1] AS BIGINT) + CAST(CAST(frequency AS DOUBLE) <= fq[2] AS BIGINT)
            + CAST(CAST(frequency AS DOUBLE) <= fq[3] AS BIGINT) + CAST(CAST(frequency AS DOUBLE) <= fq[4] AS BIGINT) AS f_score,
          1 + CAST(m_dbl <= mq[1] AS BIGINT) + CAST(m_dbl <= mq[2] AS BIGINT)
            + CAST(m_dbl <= mq[3] AS BIGINT) + CAST(m_dbl <= mq[4] AS BIGINT) AS m_score
        FROM r2, cuts)
      SELECT o_custkey, last_order, frequency, monetary,
        r_score, f_score, m_score,
        CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR) || '-' ||
          CAST(m_score AS VARCHAR) AS segment
      FROM scored
    """.format(QueryDsl.oracleDsum("o_totalprice", 2))))

  /** CHI-SQUARE INDEPENDENCE TEST (lang × source over the corpus) — the
    * dataset-bias screen: is document source independent of language?
    * Counts are integer-exact; expected cells are row·col/N double
    * divisions of identical inputs; and the χ² SUM — a float reduction
    * whose result depends on addition order — is made engine-portable by
    * folding the per-cell terms IN (lang, source) ORDER: Spark sorts the
    * collected cell structs and left-folds with `aggregate`, DuckDB
    * builds `list(term ORDER BY …)` and left-folds with `list_reduce`.
    * The ordered-fold is the general recipe for any cross-engine float
    * reduction too irregular for the decimal or floor-quantize rules.
    * Cell count is |langs|·|sources| (tiny); everything before the fold
    * is one grouped count. */
  val q146ChiSquare: Q = Q(
    "q146_chi_square",
    (s, dir) => {
      val cells = t(s, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val wl = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      val ws = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      val wn = org.apache.spark.sql.expressions.Window.partitionBy()
      val terms = cells
        .withColumn("row_t", sum(col("o")).over(wl))
        .withColumn("col_t", sum(col("o")).over(ws))
        .withColumn("n", sum(col("o")).over(wn))
        .withColumn("e", col("row_t") * col("col_t") / col("n").cast("double"))
        .withColumn("term", (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
      terms.agg(
          max(col("n")).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          aggregate(
            transform(sort_array(collect_list(struct(col("lang"), col("source"), col("term")))),
              f => f.getField("term")),
            lit(0.0), (acc, x) => acc + x).as("chi2"))
        .withColumn("dof", (col("n_langs") - 1) * (col("n_sources") - 1))
        .select("n_docs", "n_langs", "n_sources", "dof", "chi2")
    },
    Some("""
      WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2),
      terms AS (
        SELECT lang, source, o,
          SUM(o) OVER (PARTITION BY lang) AS row_t,
          SUM(o) OVER (PARTITION BY source) AS col_t,
          SUM(o) OVER () AS n
        FROM cells),
      scored AS (
        SELECT lang, source, o, n,
          (o - row_t * col_t / CAST(n AS DOUBLE))
            * (o - row_t * col_t / CAST(n AS DOUBLE))
            / (row_t * col_t / CAST(n AS DOUBLE)) AS term
        FROM terms)
      SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
        COUNT(DISTINCT lang) AS n_langs,
        COUNT(DISTINCT source) AS n_sources,
        (COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS dof,
        list_reduce(list_prepend(0.0e0, list(term ORDER BY lang, source)),
          (acc, x) -> acc + x) AS chi2
      FROM scored
    """))

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST — does source src0's document-
    * length distribution match src1's? The distribution-drift screen
    * that catches what mean/stddev monitoring (q37) misses. Exact
    * construction: per distinct length, cumulative counts for each
    * sample via running windows over the SORTED support (integer-exact),
    * D = max |F0(x) − F1(x)| with the two CDF ratios divided from
    * identical integers at every support point — the max over exact
    * doubles is order-free. One grouped count + windows over the
    * (tiny) support.
    *
    * SUPPORT BOUND: the unpartitioned cumulate runs over the DISTINCT
    * values of the statistic — safe here because `n_chars` is a bounded
    * integer (support ≪ data), NOT safe for a continuous statistic whose
    * distinct count grows with the data. For that case use [[q174KsBinned]]:
    * equi-depth pre-binning (the q162 cutoff recipe) caps the cumulate at
    * B buckets regardless of scale. */
  val q157KsTest: Q = Q(
    "q157_ks_test",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), col("n_chars"))
      val counts = d.groupBy(col("n_chars")).agg(
        countIf(col("source") === "src0").as("c0"),
        countIf(col("source") === "src1").as("c1"))
      val w = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totals = d.agg(
        countIf(col("source") === "src0").as("n0"),
        countIf(col("source") === "src1").as("n1"))
      counts
        .withColumn("cum0", sum(col("c0")).over(w))
        .withColumn("cum1", sum(col("c1")).over(w))
        .crossJoin(broadcast(totals))
        .withColumn("d_at",
          abs(col("cum0").cast("double") / col("n0")
            - col("cum1").cast("double") / col("n1")))
        .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
          max(col("d_at")).as("ks_d"))
    },
    Some("""
      WITH d AS (
        SELECT source, n_chars FROM documents WHERE source IN ('src0', 'src1')),
      counts AS (
        SELECT n_chars,
          CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
          CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM d GROUP BY 1),
      totals AS (
        SELECT CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM d),
      cdf AS (
        SELECT
          CAST(SUM(c0) OVER (ORDER BY n_chars
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum0,
          CAST(SUM(c1) OVER (ORDER BY n_chars
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1
        FROM counts)
      SELECT totals.n0, totals.n1,
        MAX(abs(CAST(cum0 AS DOUBLE) / n0 - CAST(cum1 AS DOUBLE) / n1)) AS ks_d
      FROM cdf CROSS JOIN totals
      GROUP BY 1, 2
    """))

  /** BINNED TWO-SAMPLE KS — the CONTINUOUS-statistic form of [[q157KsTest]]:
    * purchase vs click `value` distributions, whose distinct-value support
    * grows with the data (q157's exact cumulate would become a data-sized
    * single-partition window — the scale-killer its scaladoc now warns
    * about). Recipe: ONE pooled equi-depth cut set (the q162 percentile
    * recipe — 19 broadcast cutoffs), bucket both samples against it, then
    * the CDF cumulate runs over ≤ 20 bucket rows no matter the data size.
    * D̂ is the max CDF gap AT BUCKET BOUNDARIES — a lower bound on the
    * exact D with resolution 1/B (the standard binned-KS trade), exact-
    * integer cumulates and identical divisions on both engines. The cut
    * probabilities are generated from ONE decimal string list shared by
    * both engines, so every cutoff double is bit-identical by parse. */
  lazy val q174KsBinned: Q = {
    val probs = (1 until 20).map(i => (i / 20.0).toString)
    Q(
      "q174_ks_binned",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("event_type"), col("value"))
          .barrier() // feeds cutoffs AND bucketing
        val cuts = d.agg(
          expr(s"percentile(value, array(${probs.map(_ + "D").mkString(",")}))").as("qs"))
        val bucket = (1 to 19).map(i =>
          (col("value") > element_at(col("qs"), i)).cast("long")).reduce(_ + _) + lit(1L)
        val counts = d.crossJoin(broadcast(cuts))
          .groupBy(bucket.as("bucket"))
          .agg(countIf(col("event_type") === "purchase").as("c0"),
            countIf(col("event_type") === "click").as("c1"))
        val totals = d.agg(
          countIf(col("event_type") === "purchase").as("n0"),
          countIf(col("event_type") === "click").as("n1"))
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts
          .withColumn("cum0", sum(col("c0")).over(w))
          .withColumn("cum1", sum(col("c1")).over(w))
          .crossJoin(broadcast(totals))
          .withColumn("d_at",
            abs(col("cum0").cast("double") / col("n0")
              - col("cum1").cast("double") / col("n1")))
          .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
            count(lit(1)).as("n_buckets"), max(col("d_at")).as("ks_d"))
      },
      Some(s"""
        WITH d AS (
          SELECT event_type, value FROM events
          WHERE event_type IN ('purchase', 'click')),
        cuts AS (
          SELECT quantile_cont(value, [${probs.mkString(",")}]) AS qs FROM d),
        bucketed AS (
          SELECT event_type,
            1 + ${(1 to 19).map(i => s"CAST(value > qs[$i] AS BIGINT)").mkString(" + ")}
              AS bucket
          FROM d, cuts),
        counts AS (
          SELECT bucket,
            ${QueryDsl.oracleCountIf("event_type = 'purchase'")} AS c0,
            ${QueryDsl.oracleCountIf("event_type = 'click'")} AS c1
          FROM bucketed GROUP BY bucket),
        totals AS (
          SELECT ${QueryDsl.oracleCountIf("event_type = 'purchase'")} AS n0,
            ${QueryDsl.oracleCountIf("event_type = 'click'")} AS n1
          FROM d),
        cdf AS (
          SELECT
            CAST(SUM(c0) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum0,
            CAST(SUM(c1) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1
          FROM counts)
        SELECT totals.n0, totals.n1,
          CAST(COUNT(*) AS BIGINT) AS n_buckets,
          MAX(abs(CAST(cum0 AS DOUBLE) / n0 - CAST(cum1 AS DOUBLE) / n1)) AS ks_d
        FROM cdf CROSS JOIN totals
        GROUP BY 1, 2
      """))
  }

  /** MARKET-SHARE DEEP JOIN (the TPC-H Q8 shape): a region's revenue
    * share delivered by one supplier nation, per order year — 7 relations
    * (lineitem ⋈ orders ⋈ customer ⋈ part + supplier + both nation
    * roles + region), a date-range filter, and a conditional-share
    * aggregate. The join-planning stress row of the relational tier: the
    * two fact joins shuffle on their keys, part/supplier shuffle once,
    * every nation/region leg broadcasts — no join here should ever
    * materialize a product. Decimal-exact volumes; share = exact/exact
    * division. */
  val q158MarketShare: Q = Q(
    "q158_market_share",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val p = t(s, dir, "part")
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
        col("n_regionkey").as("c_rk"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .join(broadcast(r), col("c_rk") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")) &&
          col("p_type") === "PROMO")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("total_volume"),
          dsum(when(col("supp_nation") === "NATION_7",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0)), 4)
            .as("nation_volume"))
        .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
    },
    Some("""
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        %s AS total_volume,
        %s AS nation_volume,
        %s / %s AS mkt_share
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        AND p_type = 'PROMO'
      GROUP BY 1
    """.format(
      QueryDsl.oracleDsum("l_extendedprice * (1 - l_discount)", 4),
      QueryDsl.oracleDsum("CASE WHEN n2.n_name = 'NATION_7' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4),
      QueryDsl.oracleDsum("CASE WHEN n2.n_name = 'NATION_7' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4),
      QueryDsl.oracleDsum("l_extendedprice * (1 - l_discount)", 4))))

  /** STRING-METRIC PAIR MATRIX — the entity-resolution scoring primitive:
    * every unordered pair of DISTINCT part names scored by the three
    * native byte-level metrics ([[graft.functions.StringMetrics]]: Jaro,
    * Jaro-Winkler, unrestricted Damerau-Levenshtein — all codegen'd
    * Catalyst expressions, none of which Spark ships) plus builtin
    * Levenshtein for contrast (OSA vs true-DL divergence shows up as
    * dl < lev on transposed tokens).
    *
    * Scale shape: the quadratic work runs over the DICTIONARY, not the
    * data — `distinct` first collapses |parts| rows to the bounded name
    * vocabulary (64 names at every SF; brands/models/cities in real
    * catalogs), and only then does the O(dict²) pair join fire, as a
    * broadcast nested loop over a table that fits in one packet. An
    * entity-resolution pass over data-sized strings goes through the
    * SymSpell/blocking tier (q82/q112) with these metrics as the SCORER
    * on candidate pairs — never through an all-pairs product.
    *
    * Full DuckDB oracle: semantics byte-pinned to its jaro_similarity /
    * jaro_winkler_similarity / damerau_levenshtein builtins (see
    * [[graft.functions.StringMetrics]] scaladoc for the probe table);
    * similarities rounded at 6dp, distances exact integers. */
  lazy val q214StringMetrics: Q = Q(
    "q214_string_metrics",
    (s, dir) => {
      import graft.functions.StringMetrics.{damerauLevenshtein, jaroSim, jaroWinklerSim}
      val names = t(s, dir, "part").select(col("p_name")).distinct()
      val a = names.select(col("p_name").as("name_a"))
      val b = names.select(col("p_name").as("name_b"))
      a.join(b, col("name_a") < col("name_b"))
        .select(
          col("name_a"), col("name_b"),
          round(jaroSim(col("name_a"), col("name_b")), 6).as("jaro"),
          round(jaroWinklerSim(col("name_a"), col("name_b")), 6).as("jw"),
          damerauLevenshtein(col("name_a"), col("name_b")).cast("long").as("dl"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("lev"))
    },
    Some("""
      WITH names AS (SELECT DISTINCT p_name FROM part)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
        round(jaro_similarity(a.p_name, b.p_name), 6) AS jaro,
        round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw,
        damerau_levenshtein(a.p_name, b.p_name) AS dl,
        levenshtein(a.p_name, b.p_name) AS lev
      FROM names a JOIN names b ON a.p_name < b.p_name
    """))

  val all: Seq[Q] = Seq(q37Stddev, q38ApproxDistinct, q39SimhashNearDup, q51CorrCovar,
    q99HllMerge, q145RfmSegments, q146ChiSquare, q157KsTest, q158MarketShare,
    q174KsBinned, q214StringMetrics)
}
