package graft.queries

import graft.plans.ScaleLint.BarrierSyntax

import graft.{Q, QueryDsl}
import QueryDsl._
import org.apache.spark.sql.functions._

/** Dataset profiling — the Deequ/"analyzer"-class data-quality surface: per-
  * column row/null/distinct counts and typed extremes, computed in ONE
  * aggregate pass over the table and unpivoted into an analyzer row per
  * column. The reference's DQ layer (02_Silver notebooks) hand-rolls per-rule
  * counts; this is the general profiling operator a governance layer runs
  * before admitting a source at 100 TB.
  */
object ProfileQueries {

  /** One table scan → one global aggregate (map-side partials; the shuffle
    * carries a single row of partials per partition) → constant-size stack()
    * unpivot. The multi-column COUNT(DISTINCT) plans as Catalyst's expand
    * (one duplicated stream per distinct column — linear, still one pass);
    * at 100 TB swap countDistinct for approx_count_distinct and the plan
    * loses the expand entirely. `lang_non_en` (NULLIF-derived) keeps the
    * null-counting path non-vacuous: the testdata has no natural NULLs.
    * Numeric extremes surface as DOUBLE, string extremes as STRING — both
    * are actual data values (no arithmetic), so the oracle hash-matches. */
  val q86Profile: Q = Q(
    "q86_profile",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("lang_non_en", nullif(col("lang"), lit("en")))
      d.agg(
        count(lit(1)).as("n_rows"),
        count(col("doc_id")).as("doc_id_nn"),
        countDistinct(col("doc_id")).as("doc_id_nd"),
        min(col("doc_id")).cast("double").as("doc_id_mn"),
        max(col("doc_id")).cast("double").as("doc_id_mx"),
        count(col("n_chars")).as("n_chars_nn"),
        countDistinct(col("n_chars")).as("n_chars_nd"),
        min(col("n_chars")).cast("double").as("n_chars_mn"),
        max(col("n_chars")).cast("double").as("n_chars_mx"),
        count(col("lang")).as("lang_nn"),
        countDistinct(col("lang")).as("lang_nd"),
        min(col("lang")).as("lang_mn"),
        max(col("lang")).as("lang_mx"),
        count(col("source")).as("source_nn"),
        countDistinct(col("source")).as("source_nd"),
        min(col("source")).as("source_mn"),
        max(col("source")).as("source_mx"),
        count(col("lang_non_en")).as("lne_nn"),
        countDistinct(col("lang_non_en")).as("lne_nd"),
        min(col("lang_non_en")).as("lne_mn"),
        max(col("lang_non_en")).as("lne_mx"))
      .select(expr("""stack(5,
          'doc_id',      n_rows, n_rows - doc_id_nn,  doc_id_nd,  doc_id_mn,  doc_id_mx,  CAST(NULL AS STRING), CAST(NULL AS STRING),
          'n_chars',     n_rows, n_rows - n_chars_nn, n_chars_nd, n_chars_mn, n_chars_mx, CAST(NULL AS STRING), CAST(NULL AS STRING),
          'lang',        n_rows, n_rows - lang_nn,    lang_nd,    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), lang_mn,   lang_mx,
          'source',      n_rows, n_rows - source_nn,  source_nd,  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), source_mn, source_mx,
          'lang_non_en', n_rows, n_rows - lne_nn,     lne_nd,     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), lne_mn,    lne_mx)
        AS (col_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"""))
    },
    Some("""
      WITH d AS (SELECT *, NULLIF(lang, 'en') AS lang_non_en FROM documents)
      SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        COUNT(*) - COUNT(doc_id) AS n_nulls, COUNT(DISTINCT doc_id) AS n_distinct,
        CAST(MIN(doc_id) AS DOUBLE) AS min_num, CAST(MAX(doc_id) AS DOUBLE) AS max_num,
        CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM d
      UNION ALL
      SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE),
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM d
      UNION ALL
      SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN(lang), MAX(lang) FROM d
      UNION ALL
      SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN(source), MAX(source) FROM d
      UNION ALL
      SELECT 'lang_non_en', COUNT(*), COUNT(*) - COUNT(lang_non_en),
        COUNT(DISTINCT lang_non_en),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        MIN(lang_non_en), MAX(lang_non_en) FROM d
    """))

  /** PSI drift detection between two data slices (reference = even
    * user_ids, current = odd — stand-ins for train vs serve snapshots):
    * 10 equal-width buckets from the REFERENCE min/max, add-one smoothing
    * so empty buckets stay defined, per-bucket PSI term
    * (p−q)·ln(p/q). The standard drift monitor before a training run.
    * Shape: one stats aggregate broadcast back, one bucket groupBy; the
    * bucket spine is a literal sequence so zero-count buckets still
    * surface. All shares derive from exact counts; ln/division are single
    * deterministic IEEE ops rounded@6. */
  val q100PsiDrift: Q = Q(
    "q100_psi_drift",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        pmod(col("user_id"), lit(2)).as("side"), round(col("value"), 6).as("v"))
      val stats = e.filter(col("side") === 0)
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val bucketed = e.crossJoin(broadcast(stats)).select(col("side"),
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(greatest(floor((col("v") - col("mn"))
            / ((col("mx") - col("mn")) / 10.0)), lit(0.0)), lit(9.0)).cast("long"))
          .as("bucket"))
      val spine = s.range(0, 10).select(col("id").as("bucket"))
      val counts = spine
        .join(bucketed.filter(col("side") === 0).groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_ref")), Seq("bucket"), "left")
        .join(bucketed.filter(col("side") === 1).groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_cur")), Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      val withTot = counts.crossJoin(broadcast(counts.agg(
        sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))))
      withTot.select(col("bucket"), col("n_ref"), col("n_cur"),
        round((((col("n_ref") + 1).cast("double") / (col("t_ref") + 10))
          - ((col("n_cur") + 1).cast("double") / (col("t_cur") + 10)))
          * log(((col("n_ref") + 1).cast("double") / (col("t_ref") + 10))
            / ((col("n_cur") + 1).cast("double") / (col("t_cur") + 10))), 6)
          .as("psi_term_r"))
    },
    Some("""
      WITH e AS (
        SELECT user_id % 2 AS side, round(value, 6) AS v FROM events),
      stats AS (
        SELECT MIN(v) AS mn, MAX(v) AS mx FROM e WHERE side = 0),
      b AS (
        SELECT side,
          CASE WHEN mx = mn THEN 0
          ELSE CAST(least(greatest(floor((v - mn) / ((mx - mn) / 10.0)), 0.0), 9.0) AS BIGINT)
          END AS bucket
        FROM e, stats),
      spine AS (SELECT unnest(generate_series(0, 9)) AS bucket),
      counts AS (
        SELECT s.bucket,
          COALESCE(r.n, 0) AS n_ref, COALESCE(c.n, 0) AS n_cur
        FROM spine s
        LEFT JOIN (SELECT bucket, COUNT(*) AS n FROM b WHERE side = 0 GROUP BY 1) r
          ON s.bucket = r.bucket
        LEFT JOIN (SELECT bucket, COUNT(*) AS n FROM b WHERE side = 1 GROUP BY 1) c
          ON s.bucket = c.bucket),
      tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts)
      SELECT bucket, n_ref, n_cur,
        round((CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10)
             - CAST(n_cur + 1 AS DOUBLE) / (t_cur + 10))
          * ln((CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10))
             / (CAST(n_cur + 1 AS DOUBLE) / (t_cur + 10))), 6) AS psi_term_r
      FROM counts, tot
    """))

  /** SCALE TWIN of q86 (the q38/q115 pairing applied to profiling): exact
    * multi-column countDistinct plans an Expand (one duplicated input row
    * per distinct-column) — at 100 TB that multiplies the shuffle by the
    * column count. The twin profiles with approx_count_distinct: one
    * HLL++ sketch per column, merged map-side, single pass, no Expand.
    * Rows-only (sketch estimates aren't SQL-portable); QueryCatalogSpec
    * pins each estimate within 5% of q86's exact counts. */
  val q119ApproxProfile: Q = Q(
    "q119_approx_profile",
    (s, dir) =>
      t(s, dir, "documents").agg(
          count(lit(1)).as("n_rows"),
          approx_count_distinct(col("doc_id")).as("doc_id_nd"),
          approx_count_distinct(col("n_chars")).as("n_chars_nd"),
          approx_count_distinct(col("lang")).as("lang_nd"),
          approx_count_distinct(col("source")).as("source_nd"))
        .select(expr("""stack(4,
            'doc_id',  n_rows, doc_id_nd,
            'n_chars', n_rows, n_chars_nd,
            'lang',    n_rows, lang_nd,
            'source',  n_rows, source_nd) AS (col_name, n_rows, approx_nd)""")),
    None)

  /** COUNT-MIN SKETCH heavy-hitter estimation — the only sketch in the
    * tier with a FULL oracle, because its hashes are the catalog's
    * engine-portable modular-BIGINT recipe (no xxhash in DuckDB) and its
    * counts are exact integers: 4 rows × 256 buckets built in one
    * grouped pass over lineitem part keys (sketch = ≤1024 rows,
    * broadcast forever — the point of CMS at 100 TB: fixed-size state,
    * mergeable by addition, any key queryable after one corpus scan),
    * then the 10 true-top parts estimated by the min-over-rows rule.
    * `overestimate = est − true` is structurally ≥ 0 (CMS never
    * undercounts) and lands in the output so the error is measured, not
    * asserted away. */
  val q149CountMin: Q = Q(
    "q149_countmin_heavy_hitters",
    (s, dir) => {
      val d = 4
      def hj(k: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
        pmod(pmod(k * (j + lit(1L)), lit(1000003L)) * lit(2654435761L), lit(256L))
      val keys = t(s, dir, "lineitem").select(col("l_partkey").as("k"))
      val sketch = keys
        .withColumn("j", explode(typedLit((0L until d.toLong).toSeq)))
        .groupBy(col("j"), hj(col("k"), col("j")).as("b"))
        .agg(count(lit(1)).as("c"))
      val truth = keys.groupBy(col("k")).agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("k")).limit(10)
      truth
        .withColumn("j", explode(typedLit((0L until d.toLong).toSeq)))
        .withColumn("b", hj(col("k"), col("j")))
        .join(broadcast(sketch), Seq("j", "b"))
        .groupBy(col("k"), col("true_cnt"))
        .agg(min(col("c")).as("cms_est"))
        .select(col("k").as("l_partkey"), col("true_cnt"), col("cms_est"),
          (col("cms_est") - col("true_cnt")).as("overestimate"))
    },
    Some("""
      WITH keys AS (SELECT l_partkey AS k FROM lineitem),
      sketch AS (
        SELECT j, ((k * (j + 1)) % 1000003 * 2654435761) % 256 AS b,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM keys, generate_series(0, 3) t(j)
        GROUP BY 1, 2),
      truth AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS true_cnt
        FROM keys GROUP BY k
        ORDER BY true_cnt DESC, k LIMIT 10),
      est AS (
        SELECT truth.k, truth.true_cnt, MIN(sketch.c) AS cms_est
        FROM truth CROSS JOIN generate_series(0, 3) t(j)
        JOIN sketch ON sketch.j = t.j
          AND sketch.b = ((truth.k * (t.j + 1)) % 1000003 * 2654435761) % 256
        GROUP BY 1, 2)
      SELECT k AS l_partkey, true_cnt, cms_est,
        cms_est - true_cnt AS overestimate
      FROM est
    """))

  /** BENFORD FIRST-DIGIT SCREEN over order totals — the classic
    * fabricated-numbers / broken-generator test an audit layer runs on
    * monetary columns: observed leading-digit shares vs Benford's
    * log10(1 + 1/d) expectation. Digit extraction is STRING-OF-INTEGER
    * (price → exact DECIMAL(28,2) cents → BIGINT → first char), never
    * log10 — float log near powers of ten is the classic cross-engine
    * ulp flip, while integer-to-string is exact and identical
    * everywhere. Shares are exact-integer divisions; the Benford
    * expectations are EMBEDDED LITERALS (identical doubles by parse) so
    * the deviation column is the same IEEE subtraction on both engines.
    * One grouped count over the scan — trivially 100 TB-shaped. */
  lazy val q164Benford: Q = Q(
    "q164_benford",
    (s, dir) => {
      val benford = Seq(
        1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val p = benford.tail.foldLeft(
        when(col("digit") === 1, lit(benford.head._2))) {
        case (acc, (d, v)) => acc.when(col("digit") === d, lit(v))
      }
      val o = t(s, dir, "orders")
        .withColumn("cents",
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(28, 2))
            * 100).cast("long"))
        .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("long"))
      val wn = org.apache.spark.sql.expressions.Window.partitionBy()
      o.groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("share", col("n").cast("double") / sum(col("n")).over(wn))
        .withColumn("benford_p", p)
        .withColumn("deviation", col("share") - col("benford_p"))
        .select("digit", "n", "share", "benford_p", "deviation")
    },
    Some("""
      WITH d AS (
        SELECT CAST(LEFT(CAST(CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)
          AS VARCHAR), 1) AS BIGINT) AS digit
        FROM orders),
      counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
      b(digit, benford_p) AS (VALUES
        (1, 0.3010299956639812e0), (2, 0.17609125905568124e0),
        (3, 0.12493873660829992e0), (4, 0.09691001300805642e0),
        (5, 0.07918124604762482e0), (6, 0.06694678963061322e0),
        (7, 0.05799194697768673e0), (8, 0.05115252244738129e0),
        (9, 0.04575749056067514e0))
      SELECT counts.digit, n,
        CAST(n AS DOUBLE) / SUM(n) OVER () AS share,
        benford_p,
        CAST(n AS DOUBLE) / SUM(n) OVER () - benford_p AS deviation
      FROM counts JOIN b ON counts.digit = b.digit
    """))

  /** REPLICA RECONCILIATION by bucket fingerprint — how two copies of a
    * 100 TB table are compared WITHOUT shuffling rows: each side folds
    * every row into a per-bucket (count, fingerprint-sum) pair — the
    * fingerprint is the engine-portable modular hash over the row's key
    * and value (integer-exact, order-free by summation) — and only the
    * ~hundreds of bucket summaries meet in a join. Mismatched buckets
    * localize the drift; a row-level diff (q168's CDC machinery) then
    * runs on those buckets alone. The right replica is derived drift:
    * keys ≡ 0 (mod 2003) deleted, values of keys ≡ 0 (mod 1009) bumped —
    * so the expected mismatch set is sparse and the oracle pins exactly
    * which buckets light up. Cost: two scans + a 256-row join; row
    * volume never crosses the network. */
  lazy val q170ReplicaReconcile: Q = Q(
    "q170_replica_reconcile",
    (s, dir) => {
      val P = 1000003L
      def cents(c: org.apache.spark.sql.Column) =
        (c.cast(org.apache.spark.sql.types.DecimalType(28, 2)) * 100).cast("long")
      def summary(df: org.apache.spark.sql.DataFrame, side: String) = {
        val f = pmod(
          pmod(col("o_orderkey"), lit(P)) * lit(2654435761L)
            + pmod(col("c"), lit(P)) * lit(1597334677L), lit(P))
        df.withColumn("f", f)
          .groupBy(pmod(col("o_orderkey"), lit(256L)).as("bucket"))
          .agg(count(lit(1)).as(s"cnt_$side"), sum(col("f")).as(s"fsum_$side"))
      }
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("c"))
      val left = o
      val right = o.filter(col("o_orderkey") % 2003 =!= 0)
        .withColumn("c",
          when(col("o_orderkey") % 1009 === 0, col("c") + 1).otherwise(col("c")))
      summary(left, "l").join(summary(right, "r"), Seq("bucket"), "full_outer")
        .filter(!(col("cnt_l") <=> col("cnt_r")) || !(col("fsum_l") <=> col("fsum_r")))
        .select(col("bucket"), col("cnt_l"), col("cnt_r"),
          col("fsum_l"), col("fsum_r"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS c
        FROM orders),
      l AS (
        SELECT o_orderkey % 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt_l,
          CAST(SUM(((o_orderkey % 1000003) * 2654435761
            + (c % 1000003) * 1597334677) % 1000003) AS BIGINT) AS fsum_l
        FROM o GROUP BY 1),
      r0 AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 1009 = 0 THEN c + 1 ELSE c END AS c
        FROM o WHERE o_orderkey % 2003 <> 0),
      r AS (
        SELECT o_orderkey % 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt_r,
          CAST(SUM(((o_orderkey % 1000003) * 2654435761
            + (c % 1000003) * 1597334677) % 1000003) AS BIGINT) AS fsum_r
        FROM r0 GROUP BY 1)
      SELECT bucket, cnt_l, cnt_r, fsum_l, fsum_r
      FROM l FULL OUTER JOIN r USING (bucket)
      WHERE cnt_l IS DISTINCT FROM cnt_r OR fsum_l IS DISTINCT FROM fsum_r
    """))

  /** SPACE-SAVING VOCABULARY HEAVY HITTERS — the capacity-bounded
    * top-token summary over the corpus ([[graft.ext.SpaceSaving]]): one
    * pass, O(capacity) state per partition, a summary-sized shuffle, and
    * a PER-ITEM error certificate (`true ∈ [floor, count]`) instead of a
    * billion-row exact token table. The batch face of the streaming
    * shard processor (q149 is the count-min face: point-queryable sketch;
    * this is the top-k face: bounded summary). Rows-only by design —
    * summary content below the guarantee line varies with merge order,
    * the same way the streaming twin varies with arrival order — with the
    * Metwally invariants (every token above N/capacity present; every
    * certificate bracketing its exact count) guarded against exact counts
    * in QualityGuardSpec. */
  lazy val q173SpaceSavingTokens: Q = Q(
    "q173_spacesaving_tokens",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      // capacity 16 < the corpus's ~31-token synthetic vocabulary, so the
      // eviction + merge machinery actually runs on catalog data (at 64
      // the summary would be exact and the operator untested)
      graft.ext.SpaceSaving.summarize(toks, "tok", capacity = 16)
    },
    None)

  /** KMV (k-minimum-values) DISTINCT SAMPLE + CARDINALITY ESTIMATE, per
    * source — the bottom-k-by-hash sketch: the k smallest hash values of a
    * key set are simultaneously (a) a UNIFORM sample of the distinct keys
    * (hash order is blind to duplication and arrival order — the
    * deterministic answer to reservoir sampling, replay- and
    * partition-invariant by construction) and (b) a cardinality estimator,
    * est = (k−1)·P / h_k (the classic KMV identity: the kth of n uniform
    * draws on [0, P) sits near k·P/n). With the catalog's portable modular
    * hash everything to the left of the final division is exact integer —
    * FULL oracle, unlike q38/q99's engine-specific HLL (this is the
    * sketch-tier member whose internals ARE portable). One keyed window
    * top-k; mergeable (bottom-k of a union = bottom-k of pooled bottom-ks
    * — the streaming twin [[graft.streaming.Stateful.KmvProcessor]] keeps
    * it incrementally). `sample_id_sum` checksums the exact sampled set. */
  lazy val q180KmvSketch: Q = Q(
    "q180_kmv_sketch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val P = 1000003L
      val k = 16
      val h = pmod(pmod(col("doc_id"), lit(P)) * lit(2654435761L), lit(P))
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), h.as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("k_used"),
          max(col("h")).as("kth_hash"),
          sum(col("doc_id")).as("sample_id_sum"))
        .withColumn("est_distinct",
          (col("k_used") - 1).cast("double") * lit(P.toDouble)
            / col("kth_hash").cast("double"))
    },
    Some("""
      WITH hashed AS (
        SELECT source, doc_id,
          ((doc_id % 1000003) * 2654435761) % 1000003 AS h
        FROM documents),
      ranked AS (
        SELECT source, doc_id, h,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        FROM hashed)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS k_used,
        CAST(MAX(h) AS BIGINT) AS kth_hash,
        CAST(SUM(doc_id) AS BIGINT) AS sample_id_sum,
        CAST(COUNT(*) - 1 AS DOUBLE) * 1000003.0
          / CAST(MAX(h) AS DOUBLE) AS est_distinct
      FROM ranked WHERE rn <= 16
      GROUP BY source
    """))

  /** KMV GLOBAL MERGE — the sketch-union operator that makes q180's
    * per-source sketches a corpus-wide estimator WITHOUT rescanning the
    * data: bottom-k of a union = bottom-k of the pooled per-shard
    * bottom-ks (each shard's sketch retains every global-bottom-k member
    * it saw; doc_ids are globally unique so pooled rows stay distinct
    * keys). The Spark side deliberately routes THROUGH the per-source
    * sketches and merges; the oracle computes the global bottom-k
    * DIRECTLY over the documents — so an oracle match PROVES the merge
    * identity, not just the arithmetic (stronger than a rows-only
    * check; the Space-Saving merge (q173) can't do this because its
    * content is merge-order-dependent — KMV's is not). The merge input
    * is sketch-sized (#sources × k rows), so its global window touches
    * bounded data; the per-source stage is the q180 keyed window. The
    * estimator's rel-err floor vs true distinct is guarded in
    * QualityGuardSpec. */
  lazy val q197KmvMerge: Q = Q(
    "q197_kmv_merge",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val P = 1000003L
      val k = 16
      val h = pmod(pmod(col("doc_id"), lit(P)) * lit(2654435761L), lit(P))
      val wSrc = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      val shard = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), h.as("h"))
        .withColumn("rn", row_number().over(wSrc))
        .filter(col("rn") <= k) // the q180 per-source sketches
        .drop("rn")
      val wAll = Window.orderBy(col("h"), col("doc_id")) // ≤ sources×k rows
      shard.withColumn("rn", row_number().over(wAll))
        .filter(col("rn") <= k)
        .agg(count(lit(1)).as("k_used"),
          max(col("h")).as("kth_hash"),
          sum(col("doc_id")).as("sample_id_sum"))
        .withColumn("est_distinct",
          (col("k_used") - 1).cast("double") * lit(P.toDouble)
            / col("kth_hash").cast("double"))
    },
    Some("""
      WITH hashed AS (
        SELECT doc_id,
          ((doc_id % 1000003) * 2654435761) % 1000003 AS h
        FROM documents),
      ranked AS (
        SELECT doc_id, h,
          ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rn
        FROM hashed)
      SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
        CAST(MAX(h) AS BIGINT) AS kth_hash,
        CAST(SUM(doc_id) AS BIGINT) AS sample_id_sum,
        CAST(COUNT(*) - 1 AS DOUBLE) * 1000003.0
          / CAST(MAX(h) AS DOUBLE) AS est_distinct
      FROM ranked WHERE rn <= 16
    """))

  /** KMV VIA THE NATIVE MERGEABLE AGGREGATE — q180's sketch re-planned
    * through [[graft.functions.BottomKPairs]] (a `TypedImperativeAggregate`)
    * instead of the keyed window. Same result, and — honestly — similar
    * shuffle BYTES: Spark 4's InferWindowGroupLimit already plants a
    * partial group-limit below q180's exchange, so both forms ship
    * O(groups·k) (measured identical, SCALING.md "Native bottom-k
    * aggregate vs window top-k"). The
    * aggregate's real wins: it removes BOTH of the window form's full
    * local sorts (O(n log n) → O(n log k) heap updates; ~2.5× wall at
    * every probe replication), and it composes — the sketch can ride the
    * SAME groupBy pass as other aggregates (q180's shape needs its own
    * window pass). The oracle is IDENTICAL to q180's (window-ranked
    * bottom-16 in DuckDB), so a hash match proves the native heap + merge
    * reproduces the window's first-k rows bit-for-bit; partitioning
    * invariance (32→2→7 parity) is pinned in BottomKPairsSpec. */
  lazy val q248KmvNative: Q = Q(
    "q248_kmv_native",
    (s, dir) => {
      val P = 1000003L
      val h = pmod(pmod(col("doc_id"), lit(P)) * lit(2654435761L), lit(P))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), h.as("h"))
        .groupBy(col("source"))
        .agg(graft.functions.BottomKPairs
          .bottomkPairs(col("h"), col("doc_id"), 16).as("sk"))
        .select(col("source"),
          size(col("sk")).cast("long").as("k_used"),
          element_at(col("sk"), size(col("sk"))).getField("ord").as("kth_hash"),
          aggregate(col("sk"), lit(0L), (acc, x) => acc + x.getField("id"))
            .as("sample_id_sum"))
        .withColumn("est_distinct",
          (col("k_used") - 1).cast("double") * lit(P.toDouble)
            / col("kth_hash").cast("double"))
    },
    Some("""
      WITH hashed AS (
        SELECT source, doc_id,
          ((doc_id % 1000003) * 2654435761) % 1000003 AS h
        FROM documents),
      ranked AS (
        SELECT source, doc_id, h,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        FROM hashed)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS k_used,
        CAST(MAX(h) AS BIGINT) AS kth_hash,
        CAST(SUM(doc_id) AS BIGINT) AS sample_id_sum,
        CAST(COUNT(*) - 1 AS DOUBLE) * 1000003.0
          / CAST(MAX(h) AS DOUBLE) AS est_distinct
      FROM ranked WHERE rn <= 16
      GROUP BY source
    """))

  /** DECLARATIVE EXPECTATIONS — the contract-enforcement half of the DQ
    * surface ([[graft.ext.Expectations]]): q86 profiles what the data IS;
    * this enforces what it MUST BE. A deterministically dirtied lineitem
    * (sign-flipped quantities on keys ≡0 mod 97, nulled shipdates mod 101,
    * FK-broken keys mod 103, planted duplicate lines mod 109) runs a
    * four-rule contract — row-local range + not-null checks evaluated in
    * ONE flagging projection, key-uniqueness via a groupBy-count join-back,
    * referential integrity via a left join on the dimension's distinct keys
    * (unhinted — dimensions are data-sized, the q193 rule). Output is the
    * metrics table (rule → violations, rate): support-bounded, one row per
    * rule. Exact integer counts + one identical double divide ⇒ full
    * oracle; clean/quarantine split semantics are pinned in
    * ExpectationsSpec (planted rows land where the contract says). */
  lazy val q220DqExpectations: Q = Q(
    "q220_dq_expectations",
    (s, dir) => {
      import graft.ext.Expectations._
      val li = t(s, dir, "lineitem")
      val dirty0 = li.select(
        // planted dangling keys are NEGATED (not shifted): orderkeys grow
        // ~6M×SF, so "+1e9" would eventually collide with real o_orderkey
        // values and the planted FK violations would quietly vanish; no
        // key domain contains negatives at any SF
        when(col("l_orderkey") % 103 === 0, -col("l_orderkey") - 1)
          .otherwise(col("l_orderkey")).as("l_orderkey"),
        col("l_linenumber"),
        when(col("l_orderkey") % 97 === 0, -col("l_quantity"))
          .otherwise(col("l_quantity")).as("l_quantity"),
        when(col("l_orderkey") % 101 === 0, lit(null).cast("timestamp"))
          .otherwise(col("l_shipdate")).as("l_shipdate"))
      val dirty = dirty0.unionByName(dirty0.filter(col("l_orderkey") % 109 === 0))
      val res = check(dirty, Seq(
        Expect("positive_quantity", col("l_quantity") > 0),
        Expect("shipdate_not_null", col("l_shipdate").isNotNull),
        ExpectUnique("unique_line", Seq("l_orderkey", "l_linenumber")),
        ExpectFk("fk_orders", Seq("l_orderkey"),
          t(s, dir, "orders"), Seq("o_orderkey"))))
      res.metrics
    },
    Some("""
      WITH dirty0 AS (
        SELECT
          CASE WHEN l_orderkey % 103 = 0 THEN -l_orderkey - 1
               ELSE l_orderkey END AS l_orderkey,
          l_linenumber,
          CASE WHEN l_orderkey % 97 = 0 THEN -l_quantity
               ELSE l_quantity END AS l_quantity,
          CASE WHEN l_orderkey % 101 = 0 THEN NULL
               ELSE l_shipdate END AS l_shipdate
        FROM lineitem),
      dirty AS (
        SELECT * FROM dirty0
        UNION ALL SELECT * FROM dirty0 WHERE l_orderkey % 109 = 0),
      dup_keys AS (
        SELECT l_orderkey, l_linenumber FROM dirty
        GROUP BY 1, 2 HAVING COUNT(*) > 1),
      m AS (
        SELECT
          COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN NOT COALESCE(d.l_quantity > 0, FALSE)
            THEN 1 ELSE 0 END) AS BIGINT) AS positive_quantity,
          CAST(SUM(CASE WHEN d.l_shipdate IS NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_not_null,
          CAST(SUM(CASE WHEN dk.l_orderkey IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS unique_line,
          CAST(SUM(CASE WHEN o.o_orderkey IS NULL AND d.l_orderkey IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS fk_orders
        FROM dirty d
        LEFT JOIN dup_keys dk
          ON d.l_orderkey = dk.l_orderkey AND d.l_linenumber = dk.l_linenumber
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON d.l_orderkey = o.o_orderkey)
      SELECT rule, n_violations,
        CAST(n_violations AS DOUBLE) / n_rows AS violation_rate, n_rows
      FROM (
        SELECT 'positive_quantity' AS rule, positive_quantity AS n_violations, n_rows FROM m
        UNION ALL SELECT 'shipdate_not_null', shipdate_not_null, n_rows FROM m
        UNION ALL SELECT 'unique_line', unique_line, n_rows FROM m
        UNION ALL SELECT 'fk_orders', fk_orders, n_rows FROM m)
    """))

  /** KMV SET-INTERSECTION ESTIMATE — the third KMV operator (q180 builds,
    * q197 unions): |A∩B| from bottom-k sketches alone, the "how much do
    * these two sources overlap?" answer that at 100 TB must come from
    * sketch exchange, not a distinct-join of the raw sets. Estimator
    * (Beyer et al., SIGMOD'07): K = bottom-k of A∪B (pool the two
    * sketches — bottom-k of a union is a function of the per-set
    * bottom-ks), θ = K's k-th smallest hash ⇒ est|A∪B| = (k−1)·P/θ; the
    * fraction ρ of K's members lying in BOTH sets scales it:
    * est|A∩B| = ρ·est|A∪B|. Membership tests are keyed semi-joins against
    * the two distinct-key sets; every stage is either a TakeOrdered
    * bottom-k or a sketch-sized (≤2k rows) op. Same engine-portable
    * multiplicative hash as q180 ⇒ the ESTIMATOR ITSELF is full-oracle
    * (both engines derive identical sketches), and the exact intersection
    * rides along as a reference column so the error is visible in the
    * result. */
  lazy val q227KmvIntersect: Q = Q(
    "q227_kmv_intersect",
    (s, dir) => {
      val P = 1000003L
      val k = 64
      def keys(prio: String) = t(s, dir, "orders")
        .filter(col("o_orderpriority") === prio)
        .select(col("o_custkey").as("key")).distinct()
      def sketch(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("h", pmod(pmod(col("key"), lit(P)) * lit(2654435761L), lit(P)))
        .orderBy(col("h"), col("key")).limit(k)
      val a = keys("1-URGENT").barrier()
      val b = keys("2-HIGH").barrier()
      val unionSk = sketch(a).unionByName(sketch(b))
        .distinct() // a key in both sketches contributes one union element
        .orderBy(col("h"), col("key")).limit(k)
        .barrier()
      val flagged = unionSk
        .join(a.withColumn("in_a", lit(1L)), Seq("key"), "left")
        .join(b.withColumn("in_b", lit(1L)), Seq("key"), "left")
      val exact = a.join(b, Seq("key"), "semi").agg(count(lit(1)).as("exact_intersect"))
      flagged.agg(
          count(lit(1)).as("k_used"),
          max(col("h")).as("theta"),
          countIf(col("in_a").isNotNull && col("in_b").isNotNull).as("n_common"))
        .crossJoin(exact)
        .select(col("k_used"), col("theta"), col("n_common"), col("exact_intersect"),
          ((col("k_used") - 1).cast("double") * lit(P.toDouble)
            / col("theta").cast("double")).as("est_union"),
          round(col("n_common").cast("double") / col("k_used").cast("double")
            * ((col("k_used") - 1).cast("double") * lit(P.toDouble)
              / col("theta").cast("double")), 6).as("est_intersect"))
    },
    Some(s"""
      WITH a AS (
        SELECT DISTINCT o_custkey AS key FROM orders
        WHERE o_orderpriority = '1-URGENT'),
      b AS (
        SELECT DISTINCT o_custkey AS key FROM orders
        WHERE o_orderpriority = '2-HIGH'),
      ska AS (
        SELECT key, ((key % 1000003) * 2654435761) % 1000003 AS h
        FROM a ORDER BY h, key LIMIT 64),
      skb AS (
        SELECT key, ((key % 1000003) * 2654435761) % 1000003 AS h
        FROM b ORDER BY h, key LIMIT 64),
      pool AS (SELECT DISTINCT * FROM (
        SELECT key, h FROM ska UNION ALL SELECT key, h FROM skb)),
      usk AS (SELECT key, h FROM pool ORDER BY h, key LIMIT 64),
      flagged AS (
        SELECT usk.key, usk.h,
          a.key IS NOT NULL AS in_a, b.key IS NOT NULL AS in_b
        FROM usk LEFT JOIN a ON usk.key = a.key LEFT JOIN b ON usk.key = b.key),
      exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersect
        FROM a WHERE key IN (SELECT key FROM b)),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
          CAST(MAX(h) AS BIGINT) AS theta,
          ${QueryDsl.oracleCountIf("in_a AND in_b")} AS n_common
        FROM flagged)
      SELECT k_used, theta, n_common, exact_intersect,
        CAST(k_used - 1 AS DOUBLE) * 1000003.0 / CAST(theta AS DOUBLE)
          AS est_union,
        round(CAST(n_common AS DOUBLE) / CAST(k_used AS DOUBLE)
          * (CAST(k_used - 1 AS DOUBLE) * 1000003.0 / CAST(theta AS DOUBLE)),
          6) AS est_intersect
      FROM agg CROSS JOIN exact
    """))

  /** MULTI-FK + NULL-KEY CONTRACT — the second [[graft.ext.Expectations]]
    * contract shape (q220 covers range/not-null/one-FK): THREE referential-
    * integrity rules against different dimensions plus a composite-key
    * uniqueness rule whose key tuples contain NULL components. The planted
    * dirt exercises every semantic edge the operator documents:
    *  - NULLed l_orderkey on line-1 rows → (NULL, 1) tuples are DUPLICATES
    *    under the rule's nulls-equal semantics (the null-safe `<=>`
    *    join-back; a plain equi-join would silently pass exactly these),
    *    while the SAME null keys do NOT violate fk_orders (null FK ≠
    *    broken FK);
    *  - negated keys (never in any key domain at any SF — the q220 rule)
    *    plant dangling references against orders/part/supplier;
    *  - NULLed l_suppkey proves the null-pass path on a second FK;
    *  - a filtered self-union plants real composite duplicates on top of
    *    the generator's natural (orderkey, linenumber) collisions.
    * Scale shape: three keyed left joins against distinct dimension keys
    * (AQE broadcasts when small, never hinted) + one groupBy-count on the
    * composite key — all map-side-combinable shuffles on the contract
    * keys. Exact integer counts + one shared double divide ⇒ full oracle
    * (DuckDB mirrors the null-safe join with IS NOT DISTINCT FROM). */
  lazy val q235DqContractMultiFk: Q = Q(
    "q235_dq_contract_multifk",
    (s, dir) => {
      import graft.ext.Expectations._
      val li = t(s, dir, "lineitem")
      val dirty0 = li.select(
        when(col("l_orderkey") % 131 === 0 && col("l_linenumber") === 1,
            lit(null).cast("long"))
          .when(col("l_orderkey") % 139 === 0, -col("l_orderkey") - 1)
          .otherwise(col("l_orderkey")).as("l_orderkey"),
        col("l_linenumber"),
        when(col("l_orderkey") % 127 === 0, -col("l_partkey") - 1)
          .otherwise(col("l_partkey")).as("l_partkey"),
        when(col("l_orderkey") % 113 === 0, lit(null).cast("long"))
          .when(col("l_orderkey") % 149 === 0, -col("l_suppkey") - 1)
          .otherwise(col("l_suppkey")).as("l_suppkey"))
      val dirty = dirty0.unionByName(dirty0.filter(
        col("l_linenumber") === 2 && col("l_orderkey") % 137 === 0))
      check(dirty, Seq(
        ExpectUnique("unique_line", Seq("l_orderkey", "l_linenumber")),
        ExpectFk("fk_orders", Seq("l_orderkey"),
          t(s, dir, "orders"), Seq("o_orderkey")),
        ExpectFk("fk_part", Seq("l_partkey"),
          t(s, dir, "part"), Seq("p_partkey")),
        ExpectFk("fk_supplier", Seq("l_suppkey"),
          t(s, dir, "supplier"), Seq("s_suppkey")))).metrics
    },
    Some("""
      WITH dirty0 AS (
        SELECT
          CASE WHEN l_orderkey % 131 = 0 AND l_linenumber = 1 THEN NULL
               WHEN l_orderkey % 139 = 0 THEN -l_orderkey - 1
               ELSE l_orderkey END AS l_orderkey,
          l_linenumber,
          CASE WHEN l_orderkey % 127 = 0 THEN -l_partkey - 1
               ELSE l_partkey END AS l_partkey,
          CASE WHEN l_orderkey % 113 = 0 THEN NULL
               WHEN l_orderkey % 149 = 0 THEN -l_suppkey - 1
               ELSE l_suppkey END AS l_suppkey
        FROM lineitem),
      dirty AS (
        SELECT * FROM dirty0
        UNION ALL SELECT * FROM dirty0
          WHERE l_linenumber = 2 AND l_orderkey % 137 = 0),
      dup_keys AS (
        SELECT l_orderkey, l_linenumber, TRUE AS dup FROM dirty
        GROUP BY 1, 2 HAVING COUNT(*) > 1),
      m AS (
        SELECT
          COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN dk.dup THEN 1 ELSE 0 END) AS BIGINT)
            AS unique_line,
          CAST(SUM(CASE WHEN o.o_orderkey IS NULL AND d.l_orderkey IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS fk_orders,
          CAST(SUM(CASE WHEN p.p_partkey IS NULL AND d.l_partkey IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS fk_part,
          CAST(SUM(CASE WHEN s.s_suppkey IS NULL AND d.l_suppkey IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS fk_supplier
        FROM dirty d
        LEFT JOIN dup_keys dk
          ON d.l_orderkey IS NOT DISTINCT FROM dk.l_orderkey
         AND d.l_linenumber IS NOT DISTINCT FROM dk.l_linenumber
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON d.l_orderkey = o.o_orderkey
        LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
          ON d.l_partkey = p.p_partkey
        LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
          ON d.l_suppkey = s.s_suppkey)
      SELECT rule, n_violations,
        CAST(n_violations AS DOUBLE) / n_rows AS violation_rate, n_rows
      FROM (
        SELECT 'unique_line' AS rule, unique_line AS n_violations, n_rows FROM m
        UNION ALL SELECT 'fk_orders', fk_orders, n_rows FROM m
        UNION ALL SELECT 'fk_part', fk_part, n_rows FROM m
        UNION ALL SELECT 'fk_supplier', fk_supplier, n_rows FROM m)
    """))

  val all: Seq[Q] = Seq(q86Profile, q100PsiDrift, q119ApproxProfile, q149CountMin,
    q164Benford, q170ReplicaReconcile, q173SpaceSavingTokens, q180KmvSketch,
    q197KmvMerge, q220DqExpectations, q227KmvIntersect, q235DqContractMultiFk,
    q248KmvNative)
}
