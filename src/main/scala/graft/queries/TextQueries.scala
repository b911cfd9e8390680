package graft.queries

import graft.plans.ScaleLint.BarrierSyntax

import graft.{Q, QueryDsl}
import QueryDsl._
import graft.ext.{Dedup, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** North-star text-analysis + dedup operators over `documents`
  * (LLM-training-data pipeline surface; graded alongside SURVEY §2).
  */
object TextQueries {

  private val stops = Seq("the", "a", "of", "and", "is")
  private val stopsSqlList = stops.map(s => s"'$s'").mkString(", ")

  /** documents ∪ synthesized exact dups (upper-cased text, offset ids) —
    * makes dedup/near-dup queries non-vacuous (all raw texts are distinct).
    */
  private def corpusWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", upper(col("text"))))
  }

  private val corpusSql =
    """SELECT * FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, upper(text) AS text, lang, source, n_chars
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Token-level stats: counting, diversity, stopword & punctuation ratios.
    * All higher-order-function projections (no UDF, codegen'd). */
  val q26TextStats: Q = Q(
    "q26_text_stats",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextStats.nTokens(col("text")).as("n_tokens"),
        TextStats.nDistinctTokens(col("text")).as("n_distinct_tokens"),
        TextStats.avgTokenLen(col("text")).as("avg_token_len"),
        TextStats.typeTokenRatio(col("text")).as("type_token_ratio"),
        TextStats.stopwordRatio(col("text"), stops).as("stopword_ratio"),
        TextStats.punctRatio(col("text")).as("punct_ratio")),
    Some(s"""
      SELECT doc_id,
        len(string_split(text, ' ')) AS n_tokens,
        len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
          / len(string_split(text, ' ')) AS avg_token_len,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) AS type_token_ratio,
        CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopsSqlList))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[^.,;:!?''"-]', '', 'g')) AS DOUBLE)
          / length(text) AS punct_ratio
      FROM documents
    """))

  /** Language-ID heuristic + additive quality score (deterministic rule
    * mirror on both sides). */
  val q27LangQuality: Q = Q(
    "q27_lang_quality",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        col("lang").as("lang_meta"),
        TextStats.langId(col("text")).as("lang_pred"),
        TextStats.qualityScore(col("text"), stops).as("quality")),
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang AS lang_meta, text,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS v_en,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS v_de,
          len(list_filter(string_split(text, ' '),
              x -> x IN ('le', 'la', 'et', 'les', 'est'))) AS v_fr,
          len(string_split(text, ' ')) AS n_tok,
          len(list_distinct(string_split(text, ' '))) AS n_dis,
          CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
            / len(string_split(text, ' ')) AS atl,
          CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopsSqlList))) AS DOUBLE)
            / len(string_split(text, ' ')) AS swr
        FROM documents
      )
      SELECT doc_id, lang_meta,
        CASE WHEN v_en >= v_de AND v_en >= v_fr AND v_en > 0 THEN 'en'
             WHEN v_de >= v_fr AND v_de > 0 THEN 'de'
             WHEN v_fr > 0 THEN 'fr'
             ELSE 'und' END AS lang_pred,
        CAST((CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 25 ELSE 0 END)
           + (CASE WHEN swr > 0.03 THEN 25 ELSE 0 END)
           + (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 25 ELSE 0 END)
           + (CASE WHEN CAST(n_dis AS DOUBLE) / n_tok > 0.3 THEN 25 ELSE 0 END)
          AS INT) AS quality
      FROM scored
    """))

  /** Order-insensitive document fingerprint (rolling-hash family): SHA-256
    * over the sorted distinct token set. */
  val q28Fingerprint: Q = Q(
    "q28_fingerprint",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextStats.fingerprint(col("text")).as("fingerprint")),
    Some("""
      SELECT doc_id,
        sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
      FROM documents
    """))

  /** Exact dedup via hash groupBy on normalized text — THE 100 TB dedup
    * primitive. Run over a corpus with synthesized case-variant dups. */
  val q29DedupExact: Q = Q(
    "q29_dedup_exact",
    (s, dir) =>
      Dedup.exact(corpusWithDups(s, dir), Dedup.normalized(col("text")), col("doc_id"))
        .select(col("keep_id"), col("n_dups")),
    Some(s"""
      WITH corpus AS ($corpusSql)
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM corpus GROUP BY lower(trim(text))
    """))

  /** GLOBAL exact n-gram(1) Jaccard ≥ 0.9 near-dup pairs via prefix
    * filtering (PPJoin-lite, [[Dedup.prefixJaccardPairs]]) — lossless, so
    * the oracle is the plain all-pairs formulation (fine at oracle scale;
    * the Spark side never goes quadratic). The LSH path is q31. */
  val q30JaccardPairs: Q = Q(
    "q30_jaccard_pairs",
    (s, dir) =>
      Dedup.prefixJaccardPairs(corpusWithDups(s, dir), "doc_id", "text", 0.9),
    Some(s"""
      WITH corpus AS ($corpusSql),
      p AS (
        SELECT doc_id AS id,
               list_distinct(string_split(lower(trim(text)), ' ')) AS toks,
               len(list_distinct(string_split(lower(trim(text)), ' '))) AS n
        FROM corpus
      ),
      scored AS (
        SELECT a.id AS id_a, b.id AS id_b,
          CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        FROM p a JOIN p b ON a.id < b.id
          AND a.n >= b.n * 0.9 AND b.n >= a.n * 0.9
      )
      SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.9
    """))

  /** MinHash + LSH near-dup pairs (k=32 hashes, 8 bands), verified with
    * exact Jaccard — FULL-ORACLE since r16: signatures use
    * [[graft.ext.PortableHash]]'s modular-BIGINT family (token codepoint
    * fold → 3-token shingle chain → 32 seeded mixes → 4-wide band chains),
    * so DuckDB re-derives every signature, band bucket, candidate pair and
    * the final Jaccard with identical integer arithmetic. The oracle
    * mirrors the degenerate-bucket cap (>500 members dropped) and the
    * pair-dedup-before-verify, i.e. the whole LSH pipeline is checked,
    * not just the verified-pair semantics. Pre-r16 this was rows-only
    * (xxhash64 signatures are Spark-private). */
  val q31MinhashLsh: Q = Q(
    "q31_minhash_neardup",
    (s, dir) =>
      Dedup.minhashNearDupsPortable(corpusWithDups(s, dir), "doc_id", "text",
        k = 32, bands = 8, threshold = 0.9),
    Some(s"""
      WITH corpus AS ($corpusSql),
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
      sh AS (
        SELECT id, CASE WHEN len(hs) < 3
          THEN [list_reduce(list_prepend(CAST(7 AS BIGINT), hs),
                 (a, c) -> (a * 8191 + c) % 1000003)]
          ELSE list_transform(generate_series(1, len(hs) - 2),
                 i -> list_reduce(list_prepend(CAST(7 AS BIGINT), hs[i:i+2]),
                        (a, c) -> (a * 8191 + c) % 1000003))
          END AS shs
        FROM th),
      sig AS (
        SELECT id, list_transform(generate_series(0, 31), j ->
          list_min(list_transform(shs,
            h -> ((h * (j + 1)) % 1000003 * 2654435761) % 1000003))) AS sg
        FROM sh),
      bh AS (
        SELECT id, t.b AS band,
          list_reduce(
            list_prepend(CAST(7 AS BIGINT), sg[t.b * 4 + 1 : t.b * 4 + 4]),
            (a, c) -> (a * 8191 + c) % 1000003) AS bucket
        FROM sig, generate_series(0, 7) t(b)),
      over_b AS (
        SELECT band, bucket FROM bh GROUP BY 1, 2 HAVING COUNT(*) > 500),
      capped AS (
        SELECT bh.* FROM bh ANTI JOIN over_b USING (band, bucket)),
      pairs AS (
        SELECT DISTINCT a.id AS id_a, b2.id AS id_b
        FROM capped a JOIN capped b2 USING (band, bucket)
        WHERE a.id < b2.id),
      p AS (
        SELECT doc_id AS id,
          list_distinct(string_split(lower(trim(text)), ' ')) AS dt
        FROM corpus),
      scored AS (
        SELECT id_a, id_b,
          CAST(len(list_intersect(pa.dt, pb.dt)) AS DOUBLE)
            / len(list_distinct(list_concat(pa.dt, pb.dt))) AS jaccard
        FROM pairs
        JOIN p pa ON pairs.id_a = pa.id
        JOIN p pb ON pairs.id_b = pb.id)
      SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.9
    """))

  /** Token frequency via explode (generator op) + top-k. */
  val q32TokenHistogram: Q = Q(
    "q32_token_histogram",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextStats.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
    Some("""
      SELECT token, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token ORDER BY n DESC, token LIMIT 20
    """))

  /** TF-IDF top terms per document: explode → tf per (doc, token), df per
    * token over the corpus, idf = ln(N/df). Both engines compute the same
    * ln over identical integer ratios; ranking uses the 6-decimal-rounded
    * score with a token tiebreak so a last-ulp libm difference can't flip
    * ranks. Two shuffles total (token df + doc grouping). */
  val q50Tfidf: Q = Q(
    "q50_tfidf",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // corpus size as a broadcast 1-row aggregate: the whole query stays ONE
      // lazy plan (no driver-side action forcing an extra scan at build time)
      val nDf = d.agg(count(lit(1)).cast("double").as("corpus_n"))
      val tokens = d.select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("token"))
      val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tokens.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("score_r").desc, col("token"))
      tf.join(df, "token")
        .crossJoin(broadcast(nDf))
        .withColumn("score_r", round(col("tf") * log(col("corpus_n") / col("df")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "score_r")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      ), df AS (
        SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1
      ), scored AS (
        SELECT tf.doc_id, tf.token,
          round(tf.tf * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) / df.df), 6) AS score_r
        FROM tf JOIN df ON tf.token = df.token
      )
      SELECT doc_id, rank, token, score_r FROM (
        SELECT doc_id, token, score_r,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_r DESC, token) AS BIGINT) AS rank
        FROM scored
      ) WHERE rank <= 3
    """))

  /** Duplicate-SPAN detection — the primitive behind exact substring dedup
    * (Lee et al. 2022, arXiv:2107.06499: repeated ≥w-token spans across
    * documents): every token position covered by a w-gram that also appears
    * in ANOTHER document is flagged, and each doc reports its duplicated-
    * token footprint. Shapes: shingle scan (∝ corpus tokens), one shingle-
    * keyed groupBy for the multi-doc set (exact distinct-doc count), a
    * shingle-keyed semi-join back, offset explode + per-doc distinct for
    * coverage — every shuffle keyed, nothing quadratic, candidate volume ∝
    * genuinely duplicated spans. At 100 TB hash the shingle strings to
    * 8-byte keys (xxhash64) to narrow the shuffles — kept as raw strings
    * here so DuckDB re-derives the identical key space. */
  val q90DupSpans: Q = Q(
    "q90_dup_spans",
    (s, dir) => {
      val w = 8
      val toks = corpusWithDups(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
      val sh = toks.filter(size(col("toks")) >= w)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(toks) - ${w - 1}),
              i -> struct(i AS start, concat_ws(' ', slice(toks, i, $w)) AS s))"""))
          .as("g"))
        .select(col("doc_id"), col("g.start").as("start"), col("g.s").as("s"))
      val multi = sh.groupBy(col("s"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("s"))
      val covered = sh.join(multi, Seq("s"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + (w - 1))).as("tpos"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_tokens"))
      toks.select(col("doc_id"), col("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
          (coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens")).as("dup_ratio"))
    },
    Some(s"""
      WITH corpus AS ($corpusSql),
      t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
      sh AS (
        SELECT doc_id,
          unnest(generate_series(1, CAST(len(toks) AS INT) - 7)) AS start,
          unnest(list_transform(generate_series(1, CAST(len(toks) AS INT) - 7),
            i -> concat_ws(' ', toks[i:i+7]))) AS s
        FROM t WHERE len(toks) >= 8),
      multi AS (SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
      covered AS (
        SELECT doc_id, COUNT(*) AS n_dup_tokens FROM (
          SELECT DISTINCT doc_id, tpos FROM (
            SELECT doc_id, unnest(generate_series(start, start + 7)) AS tpos
            FROM sh WHERE s IN (SELECT s FROM multi)))
        GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        COALESCE(c.n_dup_tokens, 0) AS n_dup_tokens,
        CAST(COALESCE(c.n_dup_tokens, 0) AS DOUBLE) / len(t.toks) AS dup_ratio
      FROM t LEFT JOIN covered c ON t.doc_id = c.doc_id
    """))

  /** Corpus-trained bigram language-model scoring — the perplexity-style
    * quality signal (a la CCNet/KenLM filtering): P(w₂|w₁) = n(w₁w₂)/n(w₁·)
    * estimated from the corpus itself, each document scored by its mean
    * negative log-likelihood and perplexity. Shapes: one explode scan
    * (∝ corpus tokens), ONE doc-keyed window for bigram formation (the
    * q50/q59 shape), count tables keyed on the bigram/prefix (shuffle ∝
    * distinct n-grams — NOT broadcast: real-corpus bigram vocabularies
    * outgrow broadcast), then a doc-keyed aggregate. Determinism: each
    * log-prob is rounded @6 (q50's libm recipe) and summed as DECIMAL so
    * Spark's partial-agg order can't drift from DuckDB's serial sum; final
    * scores floor-quantized @4 (see the inline note — rule-free where
    * round-half is not). */
  val q87BigramLm: Q = Q(
    "q87_bigram_lm",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
      val bi = toks.withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select(col("doc_id"), col("w1"), col("w2"))
      val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val scored = bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .select(col("doc_id"),
          round(log(col("c2").cast("double") / col("c1").cast("double")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lp"))
      // FLOOR-quantization @4, not round: the quotient is the same IEEE
      // double in both engines, so floor(x·1e4)/1e4 is rule-free — while
      // round-half leaves each engine resolving near-tie quotients by its
      // own path (exact-decimal vs float-multiply), which flipped one doc
      // in 5000 at sf0.1.
      scored.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_bigrams"),
        (floor(-(sum(col("lp")).cast("double") / count(lit(1))) * lit(10000.0))
          .cast("double") / lit(10000.0)).as("avg_nll"),
        (floor(exp(-(sum(col("lp")).cast("double") / count(lit(1)))) * lit(10000.0))
          .cast("double") / lit(10000.0)).as("ppl"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
               unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
        FROM documents),
      bi AS (
        SELECT doc_id, w1, w2 FROM (
          SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM toks)
        WHERE w2 IS NOT NULL),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
      lp AS (
        SELECT doc_id,
          CAST(round(ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)), 6)
            AS DECIMAL(18,6)) AS lp
        FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
      SELECT doc_id, COUNT(*) AS n_bigrams,
        floor(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 10000.0) / 10000.0 AS avg_nll,
        floor(exp(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*))) * 10000.0) / 10000.0 AS ppl
      FROM lp GROUP BY doc_id
    """))

  /** BPE-ish token counting (GPT-style pre-tokenizer regex): the token-
    * budget estimate per document plus chars-per-token — the metric that
    * decides what a corpus costs to train on. The pattern stays in the
    * regex subset Java and RE2 execute identically, so DuckDB runs the
    * SAME expression. */
  val q59BpeTokens: Q = Q(
    "q59_bpe_tokens",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextStats.nBpeTokens(col("text")).as("n_bpe_tokens"),
        TextStats.nTokens(col("text")).as("n_ws_tokens"),
        (length(col("text")).cast("double") /
          TextStats.nBpeTokens(col("text"))).as("chars_per_token")),
    Some {
      val sqlPat = TextStats.BpeTokenPattern.replace("'", "''")
      s"""
      SELECT doc_id,
        len(regexp_extract_all(text, '$sqlPat')) AS n_bpe_tokens,
        len(string_split(text, ' ')) AS n_ws_tokens,
        CAST(length(text) AS DOUBLE)
          / len(regexp_extract_all(text, '$sqlPat')) AS chars_per_token
      FROM documents
    """
    })

  /** Dedup clustering: exact Jaccard≥0.95 near-dup pairs → connected
    * components → (doc_id, component) with component = min reachable id.
    * The step that turns pairwise near-dup detection into "keep one doc per
    * group". Oracle: the same min-label fixpoint as a DuckDB recursive CTE
    * over the all-pairs edge set. */
  val q63DedupClusters: Q = Q(
    "q63_dedup_clusters",
    (s, dir) =>
      Dedup.dedupComponents(corpusWithDups(s, dir), "doc_id", "text", 0.95)
        .select(col("id").as("doc_id"), col("component")),
    Some(s"""
      WITH RECURSIVE corpus AS ($corpusSql),
      p AS (
        SELECT doc_id AS id,
               list_distinct(string_split(lower(trim(text)), ' ')) AS toks,
               len(list_distinct(string_split(lower(trim(text)), ' '))) AS n
        FROM corpus),
      pairs AS (
        SELECT a.id AS ia, b.id AS ib
        FROM p a JOIN p b ON a.id < b.id
          AND a.n >= b.n * 0.95 AND b.n >= a.n * 0.95
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95),
      edges AS (
        SELECT ia AS a, ib AS b FROM pairs
        UNION ALL SELECT ib, ia FROM pairs),
      reach(node, lab) AS (
        SELECT id, id FROM p
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node)
      SELECT node AS doc_id, MIN(lab) AS component
      FROM reach GROUP BY node
    """))

  /** Canonical-doc selection — the step AFTER clustering: per near-dup
    * component keep the highest-quality doc (tiebreak: lowest id). Detect →
    * cluster → select is the complete dedup story; this closes it. */
  val q67CanonicalDocs: Q = Q(
    "q67_canonical_docs",
    (s, dir) => {
      val corpus = corpusWithDups(s, dir)
      val comp = Dedup.dedupComponents(corpus, "doc_id", "text", 0.95)
        .select(col("id").as("doc_id"), col("component"))
      val scored = corpus.select(
        col("doc_id"), TextStats.qualityScore(col("text"), stops).as("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id"))
      comp.join(scored, Seq("doc_id"))
        .withColumn("n_docs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("component"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("component"), col("doc_id").as("keep_doc_id"),
          col("quality"), col("n_docs"))
    },
    Some(s"""
      WITH RECURSIVE corpus AS ($corpusSql),
      p AS (
        SELECT doc_id AS id,
               list_distinct(string_split(lower(trim(text)), ' ')) AS toks,
               len(list_distinct(string_split(lower(trim(text)), ' '))) AS n
        FROM corpus),
      pairs AS (
        SELECT a.id AS ia, b.id AS ib
        FROM p a JOIN p b ON a.id < b.id
          AND a.n >= b.n * 0.95 AND b.n >= a.n * 0.95
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95),
      edges AS (
        SELECT ia AS a, ib AS b FROM pairs
        UNION ALL SELECT ib, ia FROM pairs),
      reach(node, lab) AS (
        SELECT id, id FROM p
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
      comp AS (
        SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node),
      scored AS (
        SELECT doc_id,
          CAST((CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 25 ELSE 0 END)
            + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN ($stopsSqlList))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.03 THEN 25 ELSE 0 END)
            + (CASE WHEN CAST(list_sum(list_transform(string_split(text, ' '),
                  x -> length(x))) AS DOUBLE)
                / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
                THEN 25 ELSE 0 END)
            + (CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.3 THEN 25 ELSE 0 END) AS INT)
            AS quality
        FROM corpus),
      ranked AS (
        SELECT comp.component, comp.doc_id, scored.quality,
          CAST(COUNT(*) OVER (PARTITION BY comp.component) AS BIGINT) AS n_docs,
          ROW_NUMBER() OVER (PARTITION BY comp.component
            ORDER BY scored.quality DESC, comp.doc_id) AS rn
        FROM comp JOIN scored USING (doc_id))
      SELECT component, doc_id AS keep_doc_id, quality, n_docs
      FROM ranked WHERE rn = 1
    """))

  /** Leakage-safe train/test split: assignment is per near-dup COMPONENT
    * (deterministic hash of the component id), so near-identical docs can
    * never straddle train and test — the contamination a doc-level split
    * (q64) cannot rule out. Structural guarantee: every doc inherits its
    * component's split, so zero clusters straddle by construction. */
  val q71LeakageSafeSplit: Q = Q(
    "q71_leakage_safe_split",
    (s, dir) => {
      val comp = Dedup.dedupComponents(corpusWithDups(s, dir), "doc_id", "text", 0.95)
      comp
        .withColumn("split",
          when(graft.ext.CorpusOps.hashSampled(col("component"), 0.2), "test")
            .otherwise("train"))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"))
    },
    Some(s"""
      WITH RECURSIVE corpus AS ($corpusSql),
      p AS (
        SELECT doc_id AS id,
               list_distinct(string_split(lower(trim(text)), ' ')) AS toks,
               len(list_distinct(string_split(lower(trim(text)), ' '))) AS n
        FROM corpus),
      pairs AS (
        SELECT a.id AS ia, b.id AS ib
        FROM p a JOIN p b ON a.id < b.id
          AND a.n >= b.n * 0.95 AND b.n >= a.n * 0.95
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95),
      edges AS (
        SELECT ia AS a, ib AS b FROM pairs
        UNION ALL SELECT ib, ia FROM pairs),
      reach(node, lab) AS (
        SELECT id, id FROM p
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
      comp AS (
        SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node)
      SELECT CASE WHEN ((component % 1000003) * 2654435761) % 1000 < 200
               THEN 'test' ELSE 'train' END AS split,
        COUNT(*) AS n_docs,
        COUNT(DISTINCT component) AS n_components
      FROM comp
      GROUP BY 1
    """))

  /** Incremental dedup: an incoming batch (the synthesized dups + the last
    * docs) against the existing corpus's normalized-text key index — the
    * production shape for a GROWING corpus (dedup the delta, never rescan
    * the corpus body). Output: genuinely-new incoming docs. */
  val q72IncrementalDedup: Q = Q(
    "q72_incremental_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // existing corpus: every doc_id % 3 == 0; the incoming batch holds
      // (a) genuinely new docs, (b) case-dups of EXISTING docs (must be
      // dropped by the key-index anti-join), (c) case-dups of docs in the
      // SAME batch (must collapse within-batch to the min id)
      val existing = d.filter(col("doc_id") % 3 === 0)
        .select(Dedup.normalized(col("text")).as("k"))
      val incoming = corpusWithDups(s, dir).filter(col("doc_id") % 3 =!= 0)
      Dedup.incrementalExact(
        incoming, existing, Dedup.normalized(col("text")), col("doc_id"))
        .select(col("keep_id"), col("dedup_key"))
    },
    Some(s"""
      WITH corpus AS ($corpusSql),
      existing AS (
        SELECT lower(trim(text)) AS k FROM documents WHERE doc_id % 3 = 0
      ),
      incoming AS (
        SELECT MIN(doc_id) AS keep_id, lower(trim(text)) AS dedup_key
        FROM corpus WHERE doc_id % 3 <> 0
        GROUP BY lower(trim(text))
      )
      SELECT keep_id, dedup_key FROM incoming
      WHERE dedup_key NOT IN (SELECT k FROM existing)
    """))

  /** Incremental NEAR-dup admission, EXACT
    * ([[Dedup.incrementalNearDupExact]]): the incoming batch
    * (doc_id % 3 == 0) probes the persisted prefix-token postings index of
    * the rest of the corpus — existing docs are never re-tokenized; their
    * sorted token arrays live in the index. The prefix candidate generator
    * is LOSSLESS, so the admission decision equals brute force ("keep iff
    * no existing doc and no lower-id batch doc with J ≥ 0.9") and the
    * oracle is the plain all-pairs NOT EXISTS formulation. */
  val q102IncrementalNearDup: Q = Q(
    "q102_incremental_neardup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val existing = d.filter(col("doc_id") % 3 =!= 0)
      val incoming = d.filter(col("doc_id") % 3 === 0)
      val (postings, vocab) = Dedup.prefixIndex(existing, "doc_id", "text", 0.9)
      Dedup.incrementalNearDupExact(incoming, postings, vocab,
          "doc_id", "text", 0.9)
        .select(col("doc_id"), col("source"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, source,
               list_distinct(string_split(lower(trim(text)), ' ')) AS t
        FROM documents
      ), inc AS (SELECT * FROM toks WHERE doc_id % 3 = 0),
         ex  AS (SELECT * FROM toks WHERE doc_id % 3 <> 0)
      SELECT i.doc_id, i.source
      FROM inc i
      WHERE NOT EXISTS (
          SELECT 1 FROM ex e
          WHERE CAST(len(list_intersect(i.t, e.t)) AS DOUBLE)
                / len(list_distinct(list_concat(i.t, e.t))) >= 0.9)
        AND NOT EXISTS (
          SELECT 1 FROM inc j
          WHERE j.doc_id < i.doc_id
            AND CAST(len(list_intersect(i.t, j.t)) AS DOUBLE)
                / len(list_distinct(list_concat(i.t, j.t))) >= 0.9)
    """))

  /** N-gram NOVELTY scoring: the share of each doc's distinct 3-grams that
    * appear in NO other document — the corpus-diversity / memorization-risk
    * audit (novelty ≈ 0 flags boilerplate; ≈ 1, genuinely fresh text).
    * One fused-shingle scan, one shingle-keyed doc-frequency aggregate, one
    * join back on the shingle — all shuffles keyed on the (high-cardinality)
    * shingle or doc id; at 100 TB hash shingles to 8-byte keys to narrow
    * the shuffles (the q90 note). */
  val q105NgramNovelty: Q = Q(
    "q105_ngram_novelty",
    (s, dir) => {
      val sh = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.DistinctShingles.distinctShingles(
          split(Dedup.normalized(col("text")), " "), 3).as("ngrams"))
      val exploded = sh.select(col("doc_id"),
        size(col("ngrams")).cast("long").as("n_ngrams"), explode(col("ngrams")).as("ng"))
      val docFreq = exploded.groupBy(col("ng")).agg(count(lit(1)).as("df"))
      exploded.join(docFreq, Seq("ng"))
        .groupBy(col("doc_id"), col("n_ngrams"))
        .agg(countIf(col("df") === 1).as("n_unique"))
        .select(col("doc_id"), col("n_ngrams"), col("n_unique"),
          round(col("n_unique").cast("double") / col("n_ngrams"), 6).as("novelty_r"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct(
          CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          ELSE list_transform(generate_series(1, CAST(len(t) AS INT) - 2),
            i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS ngrams
        FROM toks
      ), exploded AS (
        SELECT doc_id, CAST(len(ngrams) AS BIGINT) AS n_ngrams,
          unnest(ngrams) AS ng FROM sh
      ), docfreq AS (
        SELECT ng, COUNT(*) AS df FROM exploded GROUP BY ng
      )
      SELECT e.doc_id, e.n_ngrams,
        CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        round(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / e.n_ngrams, 6) AS novelty_r
      FROM exploded e JOIN docfreq d USING (ng)
      GROUP BY e.doc_id, e.n_ngrams
    """))

  /** HYBRID text+embedding dedup clustering ([[Dedup.hybridDedup]]) over
    * documents ⋈ embeddings plus two synthetic dup families built to be
    * invisible to one modality each: `id%20==0` dups carry a perturbed
    * embedding but throwaway text (cosine edge only); `id%20==10` dups
    * carry upper-cased text but a reversed (near-orthogonal) embedding
    * (Jaccard edge only). Union of both edge sets → connected components:
    * either modality alone splits these clusters, the hybrid finds them.
    * Every stage is deterministic (PPJoin exact, argmax id tiebreak, exact
    * cosine, CC fixpoint), so the ENTIRE fusion pipeline is oracle-checked
    * — the DuckDB twin re-derives both edge sets and the recursive CC. */
  val q108HybridDedup: Q = Q(
    "q108_hybrid_dedup",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("id"), col("text"), col("embedding").as("vec"))
      // withColumn sequencing, id overwritten LAST: putting `(id+100000).as
      // ("id")` first in a select makes Spark 4's lateral-column-alias
      // resolution capture the ALIASED id inside the transform lambda
      // (measured: perturbation keyed on 100460, oracle's on 460)
      val dupsEmb = base.filter(col("id") % 20 === 0)
        .withColumn("vec", transform(col("vec"), (x, i) =>
          (x.cast("double") +
            (pmod(col("id") * (i + lit(1)), lit(7)).cast("double") - 3.0) * 0.005)
            .cast("float")))
        // ONE unique token (no space): the r16 catalog100x probe caught the
        // two-token "zz <id>" form putting every dupsEmb doc on the shared
        // "zz" prefix-posting key — n²/2 candidate pairs through one task
        // (350 s of a 386 s wall at 100×), ALL failing the 0.95 verify
        // (jaccard is 1/3). The text is throwaway by design ("invisible to
        // the text modality"); a single unique token makes that structural.
        .withColumn("text", concat(lit("zz"), col("id").cast("string")))
        .withColumn("id", col("id") + 100000)
        .select("id", "text", "vec")
      val dupsText = base.filter(col("id") % 20 === 10)
        .withColumn("text", upper(col("text")))
        .withColumn("vec", reverse(col("vec")))
        .withColumn("id", col("id") + 100000)
        .select("id", "text", "vec")
      val corpus = base.unionByName(dupsEmb).unionByName(dupsText)
      val cents = base.filter(col("id") % 100 === 0)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      Dedup.hybridDedup(corpus, cents, textThreshold = 0.95, cosThreshold = 0.98)
    },
    Some("""
      WITH RECURSIVE
      base AS (
        SELECT d.doc_id AS id, d.text, e.embedding
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      dups_emb AS (
        SELECT id + 100000 AS id,
          concat('zz', CAST(id AS VARCHAR)) AS text,
          list_transform(generate_series(1, len(embedding)),
            i -> CAST(embedding[i]::DOUBLE
                   + ((id * i) % 7 - 3) * 0.005 AS REAL)) AS embedding
        FROM base WHERE id % 20 = 0),
      dups_text AS (
        SELECT id + 100000 AS id, upper(text) AS text,
          list_reverse(embedding) AS embedding
        FROM base WHERE id % 20 = 10),
      corpus AS (
        SELECT id, text, embedding::DOUBLE[] AS vec FROM (
          SELECT * FROM base
          UNION ALL SELECT * FROM dups_emb
          UNION ALL SELECT * FROM dups_text)),
      p AS (
        SELECT id, list_distinct(string_split(lower(trim(text)), ' ')) AS toks,
          len(list_distinct(string_split(lower(trim(text)), ' '))) AS n
        FROM corpus),
      tpairs AS (
        SELECT a.id AS ia, b.id AS ib FROM p a JOIN p b ON a.id < b.id
          AND a.n >= b.n * 0.95 AND b.n >= a.n * 0.95
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95),
      cents AS (
        SELECT id AS cid, embedding::DOUBLE[] AS cvec FROM base WHERE id % 100 = 0),
      assigned AS (
        SELECT id, cid, vec FROM (
          SELECT c.id, k.cid, c.vec, ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
            list_dot_product(c.vec, k.cvec)
              / (sqrt(list_dot_product(c.vec, c.vec))
                 * sqrt(list_dot_product(k.cvec, k.cvec)))
            DESC, k.cid) AS rn
          FROM corpus c CROSS JOIN cents k) WHERE rn = 1),
      epairs AS (
        SELECT a.id AS ia, b.id AS ib FROM assigned a JOIN assigned b
          ON a.cid = b.cid AND a.id < b.id
        WHERE list_dot_product(a.vec, b.vec)
            / (sqrt(list_dot_product(a.vec, a.vec))
               * sqrt(list_dot_product(b.vec, b.vec))) >= 0.98),
      edges AS (
        SELECT ia AS a, ib AS b FROM tpairs
        UNION SELECT ib, ia FROM tpairs
        UNION SELECT ia, ib FROM epairs
        UNION SELECT ib, ia FROM epairs),
      reach(node, lab) AS (
        SELECT id, id FROM corpus
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node)
      SELECT node AS id, MIN(lab) AS component FROM reach GROUP BY node
    """))

  /** DATASET CARD rollup: the per-source summary table published alongside
    * a training corpus — volume (docs/tokens), language mix, mean quality,
    * and exact-dup rate, in ONE pass over per-doc projections plus a
    * source-keyed aggregate (dup rate via distinct normalized texts, a
    * second keyed aggregate). Everything derives from oracle-proven
    * per-doc signals (q26/q27/q29), composed. */
  val q111DatasetCard: Q = Q(
    "q111_dataset_card",
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("source"),
        Dedup.normalized(col("text")).as("norm"),
        TextStats.nTokens(col("text")).as("n_tokens"),
        (TextStats.langId(col("text")) === "en").as("is_en"),
        TextStats.qualityScore(col("text"), stops).as("quality"))
      val perSource = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countIf(col("is_en")).as("n_en"),
        (sum(col("quality").cast("long")).cast("double") / count(lit(1)))
          .as("mean_quality"))
      val distincts = d.select(col("source"), col("norm")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
      perSource.join(distincts, Seq("source"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("n_en").cast("double") / col("n_docs"), 6).as("en_share_r"),
          round(col("mean_quality"), 4).as("mean_quality_r"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 6)
            .as("dup_ratio_r"))
    },
    Some(s"""
      WITH scored AS (
        SELECT source, lower(trim(text)) AS norm,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          (len(list_filter(string_split(text, ' '),
               x -> x IN ('the', 'a', 'of', 'and', 'is'))) >=
           len(list_filter(string_split(text, ' '),
               x -> x IN ('der', 'die', 'das', 'und', 'ist')))
           AND len(list_filter(string_split(text, ' '),
               x -> x IN ('the', 'a', 'of', 'and', 'is'))) >=
           len(list_filter(string_split(text, ' '),
               x -> x IN ('le', 'la', 'et', 'les', 'est')))
           AND len(list_filter(string_split(text, ' '),
               x -> x IN ('the', 'a', 'of', 'and', 'is'))) > 0) AS is_en,
          (CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 25 ELSE 0 END)
          + (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ($stopsSqlList))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.03 THEN 25 ELSE 0 END)
          + (CASE WHEN CAST(list_sum(list_transform(string_split(text, ' '),
                x -> length(x))) AS DOUBLE)
                / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
              THEN 25 ELSE 0 END)
          + (CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.3 THEN 25 ELSE 0 END)
            AS quality
        FROM documents),
      per_source AS (
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
          CAST(SUM(quality) AS DOUBLE) / COUNT(*) AS mean_quality
        FROM scored GROUP BY source),
      distincts AS (
        SELECT source, COUNT(*) AS n_distinct
        FROM (SELECT DISTINCT source, norm FROM scored) GROUP BY source)
      SELECT p.source, p.n_docs, p.total_tokens,
        round(CAST(n_en AS DOUBLE) / n_docs, 6) AS en_share_r,
        round(mean_quality, 4) AS mean_quality_r,
        round(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 6) AS dup_ratio_r
      FROM per_source p JOIN distincts d ON p.source = d.source
    """))

  /** CCNet-STYLE PERPLEXITY BUCKETING (Wenzek et al. 2020,
    * arXiv:1911.00359: score every document's perplexity under an
    * in-domain LM and split each language into head/middle/tail
    * percentile buckets — the head is the training-quality cut). The LM
    * here is the q87 bigram model trained on the TARGET subset only
    * (lang = 'en' stands in for the clean in-domain corpus), add-one
    * smoothed over the target vocabulary so out-of-domain bigrams score
    * as unseen instead of crashing into missing joins; every doc in
    * every language is scored against it and bucketed at the 30th/70th
    * per-language percentile (CCNet's convention).
    *
    * Shapes (the q87 audit carries over): one explode scan, one
    * doc-keyed window for bigram formation, count tables keyed on the
    * bigram/prefix (shuffle ∝ distinct target n-grams — NOT broadcast at
    * corpus scale), LEFT joins back, one doc-keyed aggregate, one
    * per-language window for the percentile split. Determinism: per-
    * bigram log-prob rounded @6 and summed as DECIMAL (partial-agg order
    * can't drift from DuckDB's serial sum); percent_rank ordered with a
    * doc_id tiebreak. */
  val q127CcnetBuckets: Q = Q(
    "q127_ccnet_buckets",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
      val bi = toks.withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select(col("doc_id"), col("lang"), col("w1"), col("w2"))
      val tgt = bi.filter(col("lang") === "en")
      val c2t = tgt.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1t = tgt.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val v = tgt.agg(countDistinct(col("w1")).as("v"))
      val lp = bi.join(c2t, Seq("w1", "w2"), "left")
        .join(c1t, Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .select(col("doc_id"), col("lang"),
          round(log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
              (coalesce(col("c1"), lit(0L)) + col("v"))), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lp"))
      val doc = lp.groupBy(col("doc_id"), col("lang")).agg(
        (floor(-(sum(col("lp")).cast("double") / count(lit(1))) * lit(1000000.0))
          .cast("double") / lit(1000000.0)).as("nll"))
      val pw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("nll"), col("doc_id"))
      doc.withColumn("pr", percent_rank().over(pw))
        .withColumn("bucket",
          when(col("pr") < 0.3, "head")
            .when(col("pr") < 0.7, "middle").otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("nll")).as("min_nll"), max(col("nll")).as("max_nll"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w1,
               unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
        FROM documents),
      bi AS (
        SELECT doc_id, lang, w1, w2 FROM (
          SELECT doc_id, lang, w1,
                 lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM toks)
        WHERE w2 IS NOT NULL),
      c2t AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi WHERE lang = 'en' GROUP BY 1, 2),
      c1t AS (SELECT w1, COUNT(*) AS c1 FROM bi WHERE lang = 'en' GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT w1) AS v FROM bi WHERE lang = 'en'),
      lp AS (
        SELECT doc_id, lang,
          CAST(round(ln((COALESCE(c2, 0) + 1.0)
            / (COALESCE(c1, 0) + (SELECT v FROM v))), 6)
            AS DECIMAL(18,6)) AS lp
        FROM bi LEFT JOIN c2t USING (w1, w2) LEFT JOIN c1t USING (w1)),
      doc AS (
        SELECT doc_id, lang,
          floor(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*)) * 1000000.0) / 1000000.0 AS nll
        FROM lp GROUP BY 1, 2),
      bucketed AS (
        SELECT lang, nll,
          CASE WHEN pr < 0.3 THEN 'head'
               WHEN pr < 0.7 THEN 'middle' ELSE 'tail' END AS bucket
        FROM (SELECT lang, nll, doc_id,
                percent_rank() OVER (PARTITION BY lang ORDER BY nll, doc_id) AS pr
              FROM doc))
      SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        min(nll) AS min_nll, max(nll) AS max_nll
      FROM bucketed GROUP BY 1, 2
    """))

  /** DUPLICATE-SPAN REMOVAL — the ACTION to q90's detection (Lee et al.
    * 2022, arXiv:2107.06499: remove repeated ≥w-token spans from training
    * data, keeping one occurrence): every multi-document w-gram keeps its
    * occurrence in the LOWEST doc_id containing it (the deterministic
    * canonical), every other document drops the token positions that
    * span covers, and the cleaned text is rebuilt from the surviving
    * positions in order. Docs shorter than w tokens pass through
    * untouched; a fully-covered doc comes out empty (n_kept = 0) —
    * the honest signal that nothing in it was original.
    *
    * Shapes: the q90 shingle scan (∝ corpus tokens) + one shingle-keyed
    * aggregate for the canonical map, the covered-position explode, one
    * position-keyed anti-join, and a doc-keyed rebuild aggregate — no
    * all-pairs anywhere; span width w is the dial that bounds shingle
    * cardinality. Rebuild order is exact (sort by position inside the
    * aggregate), so the output text is deterministic and the whole
    * operator hash-matches its DuckDB twin. */
  val q129DupSpanRemoval: Q = Q(
    "q129_dup_span_removal",
    (s, dir) => {
      val w = 8
      val toks = corpusWithDups(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
      val sh = toks.filter(size(col("toks")) >= w)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(toks) - ${w - 1}),
              i -> struct(i AS start, concat_ws(' ', slice(toks, i, $w)) AS s))"""))
          .as("g"))
        .select(col("doc_id"), col("g.start").as("start"), col("g.s").as("s"))
      val multi = sh.groupBy(col("s"))
        .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("canon"))
        .filter(col("nd") >= 2)
        .select(col("s"), col("canon"))
      val removed = sh.join(multi, Seq("s"))
        .filter(col("doc_id") =!= col("canon"))
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + (w - 1))).as("tpos"))
        .distinct()
      val pos = toks
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).as("tpos"), col("tok"))
      val rebuilt = pos.join(removed, Seq("doc_id", "tpos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ",
            transform(sort_array(collect_list(struct(col("tpos"), col("tok")))),
              x => x.getField("tok"))).as("clean_text"))
      toks.select(col("doc_id"), col("n_tokens"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
    },
    Some(s"""
      WITH corpus AS ($corpusSql),
      t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
      sh AS (
        SELECT doc_id,
          unnest(generate_series(1, CAST(len(toks) AS INT) - 7)) AS start,
          unnest(list_transform(generate_series(1, CAST(len(toks) AS INT) - 7),
            i -> concat_ws(' ', toks[i:i+7]))) AS s
        FROM t WHERE len(toks) >= 8),
      multi AS (
        SELECT s, MIN(doc_id) AS canon FROM sh
        GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
      removed AS (
        SELECT DISTINCT doc_id, tpos FROM (
          SELECT sh.doc_id, unnest(generate_series(start, start + 7)) AS tpos
          FROM sh JOIN multi USING (s) WHERE sh.doc_id <> multi.canon)),
      pos AS (
        SELECT doc_id, unnest(generate_series(1, CAST(len(toks) AS INT))) AS tpos,
               unnest(toks) AS tok
        FROM t),
      kept AS (
        SELECT p.doc_id, p.tpos, p.tok FROM pos p
        ANTI JOIN removed r ON p.doc_id = r.doc_id AND p.tpos = r.tpos),
      rebuilt AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY tpos) AS clean_text
        FROM kept GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        COALESCE(r.n_kept, 0) AS n_kept,
        COALESCE(r.clean_text, '') AS clean_text
      FROM t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    """))

  /** BPE merge learning ([[graft.ext.BpeLearn]], Sennrich et al. 2016):
    * the corpus trains its own tokenizer — top-512 word-frequency table
    * (the only corpus-proportional stage), then 6 greedy rounds of
    * pair-count argmax + leftmost-first fused rewrite over the
    * vocabulary-bounded table. Output: the rank-ordered merge table.
    * The DuckDB twin unrolls all 6 rounds as CTE stages whose rewrite is
    * the identical left fold (`list_reduce` over a space-joined
    * accumulator — symbols are `[a-z]+` so the space separator and the
    * `LIKE '% ' || lhs` last-symbol test are unambiguous). */
  private val BpeK = 6
  private val BpeMaxWords = 512

  /** The shared training CTE chain of the q131/q142 oracles: word-freq
    * table → char split → k rounds of (pair count, top-1, leftmost-first
    * rewrite via the `list_reduce` fold). */
  private def bpeTrainCtes(k: Int, maxWords: Int): String = {
    val stages = (1 to k).map { i =>
      s"""p$i AS (
        SELECT u.a AS a, u.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
          SELECT freq, unnest(list_transform(
            generate_series(1, CAST(len(symbols) AS INT) - 1),
            j -> {'a': symbols[j], 'b': symbols[j + 1]})) AS u
          FROM s${i - 1} WHERE len(symbols) >= 2)
        GROUP BY u.a, u.b
      ), top$i AS (
        SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1
      ), s$i AS (
        SELECT CASE WHEN len(symbols) <= 1 THEN symbols ELSE
          string_split(list_reduce(symbols, (acc, x) -> CASE
            WHEN x = t.b AND (acc = t.a OR acc LIKE '% ' || t.a)
            THEN left(acc, length(acc) - length(t.a)) || t.a || t.b
            ELSE acc || ' ' || x END), ' ') END AS symbols, freq
        FROM s${i - 1} CROSS JOIN top$i t
      )"""
    }.mkString(", ")
    s"""w AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents)
          GROUP BY word ORDER BY freq DESC, word LIMIT $maxWords
        ), s0 AS (
          SELECT list_transform(generate_series(1, CAST(length(word) AS INT)),
            i -> substr(word, i, 1)) AS symbols, freq
          FROM w
        ), $stages"""
  }

  val q131BpeMerges: Q = {
    val unions = (1 to BpeK).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_count FROM top$i")
      .mkString(" UNION ALL ")
    Q(
      "q131_bpe_merges",
      (s, dir) => {
        val words = graft.ext.BpeLearn.wordFreq(t(s, dir, "documents"), "text", BpeMaxWords)
        graft.ext.BpeLearn.learnMerges(s, words, BpeK)
      },
      Some(s"""
        WITH ${bpeTrainCtes(BpeK, BpeMaxWords)}
        SELECT merge_rank, lhs, rhs, pair_count FROM ($unions)
        ORDER BY merge_rank
      """))
  }

  /** BPE ENCODING — the application half of q131 ([[graft.ext.BpeLearn
    * .encode]]): the corpus tokenized with its OWN learned merge table
    * (train → persist → apply, collapsed into one deterministic query),
    * reported per document as word / alpha-char / token counts —
    * n_tokens < n_alpha_chars is the merge table doing its job. The
    * merge rules fold into a single composed projection expression
    * (k nested leftmost-first folds, no join, no shuffle — the tokenizer
    * artifact is k rows, broadcast-trivial at any corpus size); the
    * oracle re-derives training via the shared CTE chain and applies the
    * identical `list_reduce` fold per rank. */
  val q142BpeEncode: Q = {
    val encStages = (1 to BpeK).map { i =>
      s"""e$i AS (
        SELECT doc_id, wlen, CASE WHEN len(symbols) <= 1 THEN symbols ELSE
          string_split(list_reduce(symbols, (acc, x) -> CASE
            WHEN x = t.b AND (acc = t.a OR acc LIKE '% ' || t.a)
            THEN left(acc, length(acc) - length(t.a)) || t.a || t.b
            ELSE acc || ' ' || x END), ' ') END AS symbols
        FROM e${i - 1} CROSS JOIN top$i t
      )"""
    }.mkString(", ")
    Q(
      "q142_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val words = graft.ext.BpeLearn.wordFreq(docs, "text", BpeMaxWords)
        val merges = graft.ext.BpeLearn.learnMerges(s, words, BpeK)
          .select($"lhs", $"rhs").as[(String, String)].collect().toSeq
        graft.ext.BpeLearn.encode(docs, "doc_id", "text", merges)
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("word"))).as("n_alpha_chars"),
            sum(size(col("tokens"))).as("n_tokens"))
          .select(col("id").as("doc_id"), col("n_words"),
            col("n_alpha_chars"), col("n_tokens"))
      },
      Some(s"""
        WITH ${bpeTrainCtes(BpeK, BpeMaxWords)}, e0 AS (
          SELECT doc_id, length(word) AS wlen,
            list_transform(generate_series(1, CAST(length(word) AS INT)),
              i -> substr(word, i, 1)) AS symbols
          FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                FROM documents)
        ), $encStages
        SELECT doc_id,
          COUNT(*) AS n_words,
          CAST(SUM(wlen) AS BIGINT) AS n_alpha_chars,
          CAST(SUM(len(symbols)) AS BIGINT) AS n_tokens
        FROM e$BpeK GROUP BY doc_id
      """))
  }

  /** BM25 RETRIEVAL SCORING (Robertson–Spärck Jones; k1=1.2, b=0.75) —
    * the ranking half of the q50 TF-IDF index: top-20 documents for a
    * 3-term query. Plan shape at scale: one tokenize scan feeds tf/dl;
    * df and the corpus stats are |vocab|- and 1-row tables; the QUERY
    * TERMS broadcast against the term-keyed postings so only matching
    * postings survive before any doc-keyed work; final ranking is
    * TakeOrderedAndProject. Determinism: idf uses the RATIONAL form
    * (N−df+0.5)/(df+0.5) — a monotone transform of the classic
    * log-idf that keeps every value a fixed-order division of
    * identically-derived doubles (ln's last-ulp varies by libm, the same
    * reason q126 ships the linear DSIR variant); per-doc summation is
    * over the three FIXED term slots in written order, never an
    * unordered float reduce. */
  val q143Bm25: Q = Q(
    "q143_bm25",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val qterms = s.range(1).select(
        explode(typedLit(Seq("spark", "join", "window"))).as("term"))
      val avgdl = col("total").cast("double") / col("n_docs")
      val scored = tf.join(broadcast(qterms), Seq("term"))
        .join(broadcast(df), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("score_t",
          (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)) *
            ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      scored.groupBy(col("doc_id")).agg(
          max(when(col("term") === "spark", col("score_t"))).as("s_spark"),
          max(when(col("term") === "join", col("score_t"))).as("s_join"),
          max(when(col("term") === "window", col("score_t"))).as("s_window"))
        .select(col("doc_id"),
          (coalesce(col("s_spark"), lit(0.0)) + coalesce(col("s_join"), lit(0.0))
            + coalesce(col("s_window"), lit(0.0))).as("bm25"),
          col("s_spark"), col("s_join"), col("s_window"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(dl) AS BIGINT) AS total FROM dl),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      scored AS (
        -- e-notation literals parse as DOUBLE (a bare 0.75 is DECIMAL in
        -- DuckDB, which silently reroutes the arithmetic through exact
        -- decimal ops and lands one ulp away from the double path)
        SELECT tf.doc_id, tf.term,
          (tf.tf * 2.2e0)
            / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / (CAST(stats.total AS DOUBLE) / stats.n_docs)))
            * ((stats.n_docs - df.df + 0.5e0) / (df.df + 0.5e0)) AS score_t
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        WHERE tf.term IN ('spark', 'join', 'window')),
      agg AS (
        SELECT doc_id,
          MAX(CASE WHEN term = 'spark' THEN score_t END) AS s_spark,
          MAX(CASE WHEN term = 'join' THEN score_t END) AS s_join,
          MAX(CASE WHEN term = 'window' THEN score_t END) AS s_window
        FROM scored GROUP BY 1)
      SELECT doc_id,
        COALESCE(s_spark, 0.0) + COALESCE(s_join, 0.0) + COALESCE(s_window, 0.0) AS bm25,
        s_spark, s_join, s_window
      FROM agg ORDER BY bm25 DESC, doc_id LIMIT 20
    """))

  /** PREFERENCE-PAIR MINING for reward/DPO training data: per language,
    * the corpus' best document (highest [[graft.ext.TextStats
    * .qualityScore]], doc_id tiebreak) paired as CHOSEN against its
    * worst as REJECTED, with the quality margin — the heuristic-label
    * bootstrap for preference data when human rankings don't exist yet
    * (quality-classifier distillation, the q128 contrastive idea on the
    * text tier). One scored scan + two per-lang window extremes; exact
    * integer scores make it fully oracle-checkable. */
  val q152PreferencePairs: Q = Q(
    "q152_preference_pairs",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextStats.qualityScore(col("text"), stops).as("quality"))
      val wTop = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
      val wBot = Window.partitionBy(col("lang"))
        .orderBy(col("quality").asc, col("doc_id"))
      val top = scored.withColumn("rk", row_number().over(wTop)).filter(col("rk") === 1)
        .select(col("lang"), col("doc_id").as("chosen_id"), col("quality").as("chosen_q"))
      val bot = scored.withColumn("rk", row_number().over(wBot)).filter(col("rk") === 1)
        .select(col("lang"), col("doc_id").as("rejected_id"), col("quality").as("rejected_q"))
      top.join(bot, Seq("lang"))
        .filter(col("chosen_id") =!= col("rejected_id"))
        .withColumn("margin", col("chosen_q") - col("rejected_q"))
    },
    Some(s"""
      WITH feats AS (
        SELECT doc_id, lang, text,
          len(string_split(text, ' ')) AS n_tok,
          len(list_distinct(string_split(text, ' '))) AS n_dis,
          CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
            / len(string_split(text, ' ')) AS atl,
          CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopsSqlList))) AS DOUBLE)
            / len(string_split(text, ' ')) AS swr
        FROM documents),
      scored AS (
        SELECT doc_id, lang,
          CAST((CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 25 ELSE 0 END)
             + (CASE WHEN swr > 0.03 THEN 25 ELSE 0 END)
             + (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 25 ELSE 0 END)
             + (CASE WHEN CAST(n_dis AS DOUBLE) / n_tok > 0.3 THEN 25 ELSE 0 END)
            AS INT) AS quality
        FROM feats),
      top AS (
        SELECT lang, doc_id AS chosen_id, quality AS chosen_q FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY quality DESC, doc_id) AS rk FROM scored) WHERE rk = 1),
      bot AS (
        SELECT lang, doc_id AS rejected_id, quality AS rejected_q FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY quality ASC, doc_id) AS rk FROM scored) WHERE rk = 1)
      SELECT top.lang, chosen_id, chosen_q, rejected_id, rejected_q,
        chosen_q - rejected_q AS margin
      FROM top JOIN bot ON top.lang = bot.lang
      WHERE chosen_id <> rejected_id
    """))

  /** TOP-N-GRAM MASS (the Gopher repetition rule): per document, the
    * fraction of tokens covered by its single most-repeated bigram — the
    * cheap screen for boilerplate/template pages whose WITHIN-document
    * repetition q26's distinct-token ratio underweights (a page that
    * alternates two phrases has high distinct bigram count but one
    * dominant bigram). Per-doc argmax with a full (count desc, bigram)
    * tiebreak so both engines pick the identical winner; the fraction is
    * one exact-integer division (correctly rounded, engine-identical);
    * `flagged` applies Gopher's 0.2 threshold. All stages are doc-keyed
    * shuffles — token explode, grouped count, per-doc window — nothing
    * global. */
  lazy val q163TopNgramMass: Q = Q(
    "q163_top_ngram_mass",
    (s, dir) => {
      val wpos = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val wtop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("n").desc, col("w1"), col("w2"))
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
      val bi = toks.withColumn("w2", lead(col("w1"), 1).over(wpos))
        .filter(col("w2").isNotNull)
      val top = bi.groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(wtop))
        .filter(col("rk") === 1)
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      top.join(sizes, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          concat(col("w1"), lit(" "), col("w2")).as("top_bigram"),
          col("n").as("top_n"),
          ((col("n") * 2).cast("double") / col("n_tokens")).as("mass"),
          ((col("n") * 2).cast("double") / col("n_tokens") > 0.2).as("flagged"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
               unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
        FROM documents),
      bi AS (
        SELECT doc_id, w1, w2 FROM (
          SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM toks)
        WHERE w2 IS NOT NULL),
      top AS (
        SELECT doc_id, w1, w2, n FROM (
          SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n,
            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, w1, w2) AS rk
          FROM bi GROUP BY doc_id, w1, w2)
        WHERE rk = 1),
      sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY doc_id)
      SELECT doc_id, n_tokens,
        w1 || ' ' || w2 AS top_bigram, n AS top_n,
        CAST(n * 2 AS DOUBLE) / n_tokens AS mass,
        CAST(n * 2 AS DOUBLE) / n_tokens > 0.2e0 AS flagged
      FROM top JOIN sizes USING (doc_id)
    """))

  /** documents ∪ planted EXCERPTS: every 7th doc contributes a new doc
    * holding its first half (token-wise) — ground truth for asymmetric
    * containment (the excerpt's shingles all occur in its parent). */
  private def corpusWithExcerpts(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          array_join(slice(split(col("text"), " "), lit(1),
            (size(split(col("text"), " ")) / 2).cast("int")), " ").as("text")))
  }

  /** CONTAINMENT NEAR-DUP PAIRS ([[Dedup.containmentPairs]]): asymmetric
    * |A∩B|/|A| ≥ 0.9 over 3-word shingles — catches excerpts/quotations
    * that symmetric Jaccard (q30) structurally misses (a half-length
    * excerpt of its parent has Jaccard ≈ 0.5 but containment 1.0). The
    * corpus plants every 7th doc's first half as ground truth. Prefix
    * filter on each probe doc's rarest shingles bounds candidates; the
    * oracle re-derives the identical pair set from a shared-shingle join
    * (never all-pairs). Counts and the quotient are exact integers /
    * one exact-int division — engine-identical. */
  lazy val q167ContainmentPairs: Q = Q(
    "q167_containment_pairs",
    (s, dir) => Dedup.containmentPairs(corpusWithExcerpts(s, dir), "doc_id", "text", 0.9),
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000,
          array_to_string(string_split(text, ' ')[1 : len(string_split(text, ' ')) // 2], ' ')
        FROM documents WHERE doc_id % 7 = 0),
      toks AS (
        SELECT doc_id AS id, string_split(lower(trim(text)), ' ') AS arr FROM corpus),
      sh AS (
        SELECT id, list_distinct(list_transform(generate_series(1, len(arr) - 2),
          i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingles
        FROM toks),
      tok AS (
        SELECT id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
      shared AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, CAST(COUNT(*) AS BIGINT) AS inter
        FROM tok a JOIN tok b ON a.s = b.s AND a.id <> b.id
        GROUP BY 1, 2, 3)
      SELECT id_a, id_b, CAST(n_a AS BIGINT) AS n_a, inter,
        CAST(inter AS DOUBLE) / n_a AS containment
      FROM shared
      WHERE CAST(inter AS DOUBLE) / n_a >= 0.9e0
    """))

  /** TOKENIZER FERTILITY BY LANGUAGE — tokens-per-word and
    * chars-per-token of the BPE-ish tokenization, per language: the
    * multilingual-budget number every training-data team tracks (a
    * language with high fertility pays more sequence length per byte of
    * text, skewing compute allocation and effective mixture weights).
    * q59's per-doc token counting lifted to the per-language rollup:
    * exact integer sums, two final divisions. One grouped scan. */
  lazy val q190TokenizerFertility: Q = Q(
    "q190_tokenizer_fertility",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.nBpeTokens(col("text"))).as("n_tokens"),
          sum(TextStats.nTokens(col("text"))).as("n_words"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .withColumn("tokens_per_word",
          col("n_tokens").cast("double") / col("n_words"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("n_tokens")),
    Some {
      val sqlPat = TextStats.BpeTokenPattern.replace("'", "''")
      s"""
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(regexp_extract_all(text, '$sqlPat'))) AS BIGINT) AS n_tokens,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
        CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        CAST(SUM(len(regexp_extract_all(text, '$sqlPat'))) AS DOUBLE)
          / SUM(len(string_split(text, ' '))) AS tokens_per_word,
        CAST(SUM(length(text)) AS DOUBLE)
          / SUM(len(regexp_extract_all(text, '$sqlPat'))) AS chars_per_token
      FROM documents GROUP BY lang
    """
    })

  /** ZIPF SLOPE of the corpus vocabulary — the log-log least-squares fit
    * of frequency against rank over the top-200 terms: the distributional
    * health check every corpus card reports (natural text sits near −1;
    * a flat slope flags templated/synthetic text, a cliff flags
    * boilerplate domination). Scale shape: the count table is
    * vocabulary-sized but the fit needs only the TOP-200, which plans as
    * TakeOrderedAndProject (never a global sort); ranks come from a
    * window over those 200 rows (bounded support). Determinism: both
    * ln() values round @6 into the regression moments (q87's libm
    * recipe), moments sum as DECIMAL, one identical-order double chain
    * for slope and intercept, floor @6. */
  val q209ZipfSlope: Q = Q(
    "q209_zipf_slope",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val cnt = t(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val top = cnt.orderBy(col("cnt").desc, col("term")).limit(200)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("cnt").desc, col("term"))).cast("long"))
        .select(
          round(log(col("rank").cast("double")), 6).as("x"),
          round(log(col("cnt").cast("double")), 6).as("y"))
      def d18(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 6))
      val m = top.agg(
        count(lit(1)).as("n"),
        sum(d18(col("x"))).as("sx"), sum(d18(col("y"))).as("sy"),
        sum(round(col("x") * col("y"), 6).cast(DecimalType(18, 6))).as("sxy"),
        sum(round(col("x") * col("x"), 6).cast(DecimalType(18, 6))).as("sxx"))
      def dd(c: String) = col(c).cast("double")
      m.select(col("n").as("n_terms"),
          ((dd("n") * dd("sxy") - dd("sx") * dd("sy"))
            / (dd("n") * dd("sxx") - dd("sx") * dd("sx"))).as("raw_slope"),
          dd("sy").as("syd"), dd("sx").as("sxd"), dd("n").as("nd"))
        .select(col("n_terms"),
          (floor(col("raw_slope") * lit(1000000.0)).cast("double")
            / lit(1000000.0)).as("zipf_slope"),
          (floor((col("syd") / col("nd") - col("raw_slope") * (col("sxd") / col("nd")))
            * lit(1000000.0)).cast("double") / lit(1000000.0)).as("intercept"))
    },
    Some("""
      WITH cnt AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
          FROM documents)
        GROUP BY term),
      top AS (
        SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
               round(ln(CAST(cnt AS DOUBLE)), 6) AS y
        FROM (
          SELECT cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank
          FROM cnt ORDER BY cnt DESC, term LIMIT 200)),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(x AS DECIMAL(18,6))) AS sx,
          SUM(CAST(y AS DECIMAL(18,6))) AS sy,
          SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS sxy,
          SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS sxx
        FROM top),
      fit AS (
        SELECT n,
          (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS raw_slope,
          CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
          CAST(n AS DOUBLE) AS nd
        FROM m)
      SELECT n AS n_terms,
        floor(raw_slope * 1000000.0) / 1000000.0 AS zipf_slope,
        floor((syd / nd - raw_slope * (sxd / nd)) * 1000000.0)
          / 1000000.0 AS intercept
      FROM fit
    """))

  /** WITHIN-DOCUMENT REPETITION METRICS — the Gopher repetition rules
    * (Rae et al. 2021 §A1.1) the corpus-level passes can't see: a doc
    * whose 3-grams are 60% duplicated is boilerplate even if globally
    * unique (q163 measures CORPUS n-gram mass; q105 novelty vs a
    * reference; q90 cross-doc spans — none look inside one doc). Per doc:
    * duplicated-bigram and duplicated-trigram fractions
    * (1 − |distinct|/|all|, computed on the q30 shingle arrays in one
    * projection) and top-bigram mass via explode → (doc, gram) count →
    * per-doc max/sum — the distributed shape, never an O(tokens²)
    * per-row HOF scan. The keep flag applies Gopher-ish thresholds
    * (dup3 ≤ 0.3, top2 mass ≤ 0.4). All ratios are exact-int divides
    * rounded @6 ⇒ full oracle (DuckDB list ops rebuild identical
    * shingles, whole-text fallback included). */
  lazy val q229DocRepetition: Q = Q(
    "q229_doc_repetition",
    (s, dir) => {
      import graft.ext.Dedup
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
          Dedup.shingles(col("toks"), 2).as("g2"),
          Dedup.shingles(col("toks"), 3).as("g3"))
        .barrier() // feeds the metrics AND the mass explode
      val mass = d.select(col("doc_id"), explode(col("g2")).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("topc"), sum(col("c")).as("totc"))
      d.join(mass, Seq("doc_id"))
        .select(col("doc_id"), col("n_toks"),
          round(lit(1.0) - size(array_distinct(col("g2"))).cast("double")
            / size(col("g2")), 6).as("dup2_frac"),
          round(lit(1.0) - size(array_distinct(col("g3"))).cast("double")
            / size(col("g3")), 6).as("dup3_frac"),
          round(col("topc").cast("double") / col("totc"), 6).as("top2_mass"))
        .withColumn("keep",
          col("dup3_frac") <= 0.3 && col("top2_mass") <= 0.4)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      g AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
          CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
               ELSE list_transform(range(1, len(t)),
                 i -> array_to_string(t[i:i+1], ' ')) END AS g2,
          CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
               ELSE list_transform(range(1, len(t) - 1),
                 i -> array_to_string(t[i:i+2], ' ')) END AS g3
        FROM toks),
      flat AS (SELECT doc_id, UNNEST(g2) AS gram FROM g),
      mass AS (
        SELECT doc_id, MAX(c) AS topc, SUM(c) AS totc FROM (
          SELECT doc_id, gram, COUNT(*) AS c FROM flat GROUP BY 1, 2)
        GROUP BY 1)
      SELECT g.doc_id, n_toks,
        round(1.0e0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
          AS dup2_frac,
        round(1.0e0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
          AS dup3_frac,
        round(CAST(topc AS DOUBLE) / totc, 6) AS top2_mass,
        (round(1.0e0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) <= 0.3
          AND round(CAST(topc AS DOUBLE) / totc, 6) <= 0.4) AS keep
      FROM g JOIN mass ON g.doc_id = mass.doc_id
    """))

  /** TEXTRANK KEYWORDS (Mihalcea & Tarau 2004) — corpus keywords as
    * PageRank over the word co-occurrence graph: words are nodes, an
    * undirected edge links words appearing within a 2-token window, and
    * q130's integer-micromass damped walk ranks them. The cross-tier
    * composition (text explode → positional window → graph tier):
    * pair generation is the q188 LEAD recipe — two `lead`s over a
    * (doc_id, pos) window, so the JOIN WORK (not just the output) is
    * O(doc_len·w) per document; the r14 doc-keyed self-join enumerated
    * all O(doc_len²) position pairs before the ±2 filter, which a single
    * 100k-token document turns into 10¹⁰ comparisons in one join group.
    * The lead offsets see the FILTERED token stream, so each carries its
    * original position and the ≤2 gap check runs on positions — at most
    * two surviving tokens can sit within (pos, pos+2], so lead(1)/lead(2)
    * cover exactly the pairs the positional join produced (PlanSpec pins
    * the plan doc-self-join-free). The edge/vocabulary tables are
    * aggregate-bounded, and the walk is the proven exact recurrence —
    * node ids here are the WORDS themselves (the recurrence never does
    * arithmetic on node ids, only joins, so string nodes ride through
    * `PageRank.run` unchanged). FULL oracle: the DuckDB twin unrolls the
    * same 4 rounds in exact BIGINT (`//`), the q130/q207 pattern. */
  /** q233's pair generation, exposed so PlanSpec can pin ITS plan (the
    * PageRank recurrence localCheckpoints per round, so a pin on the final
    * query plan would be vacuous behind the lineage barrier): undirected
    * ±2-token co-occurrence edges from two LEADs over a (doc_id, pos)
    * window — O(doc_len·w) work per document, never a doc-keyed self-join. */
  private[graft] def textrankEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 3) // deterministic stopword-ish screen
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val p0 = toks
      .withColumn("w1",
        when(lead(col("pos"), 1).over(wDoc) - col("pos") <= 2,
          lead(col("w"), 1).over(wDoc)))
      .withColumn("w2",
        when(lead(col("pos"), 2).over(wDoc) - col("pos") <= 2,
          lead(col("w"), 2).over(wDoc)))
      .select(col("w").as("wa"),
        explode(array(col("w1"), col("w2"))).as("wb"))
      .filter(col("wb").isNotNull && col("wa") =!= col("wb"))
      .distinct()
    p0.select(col("wa").as("src"), col("wb").as("dst"))
      .unionAll(p0.select(col("wb").as("src"), col("wa").as("dst")))
      .distinct()
  }

  lazy val q233TextRank: Q = Q(
    "q233_textrank",
    (s, dir) => {
      val scale = 1000000000000L
      graft.ext.PageRank.run(textrankEdges(s, dir), 4, scale)
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
        .select(col("node").as("word"), col("rank"))
    },
    Some {
      val scale = "1000000000000"
      val stages = (1 to 4).map { i =>
        s"""r$i AS (
        SELECT e.dst AS node,
          CAST((SELECT tp FROM consts)
            + (85 * SUM(r${i - 1}.rank // d.outd)) // 100 AS BIGINT) AS rank
        FROM edges e
        JOIN r${i - 1} ON e.src = r${i - 1}.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
      )"""
      }.mkString(", ")
      s"""
      WITH toks0 AS (
        SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
      toks AS (
        SELECT doc_id, UNNEST(l) AS w, UNNEST(range(len(l))) AS pos
        FROM toks0),
      tf AS (SELECT doc_id, w, pos FROM toks WHERE length(w) >= 3),
      p0 AS (
        SELECT DISTINCT a.w AS wa, b.w AS wb
        FROM tf a JOIN tf b ON a.doc_id = b.doc_id
          AND b.pos > a.pos AND b.pos - a.pos <= 2 AND a.w <> b.w),
      edges AS (
        SELECT DISTINCT * FROM (
          SELECT wa AS src, wb AS dst FROM p0
          UNION ALL SELECT wb AS src, wa AS dst FROM p0)),
      deg AS (SELECT src, COUNT(*) AS outd FROM edges GROUP BY src),
      consts AS (
        SELECT CAST($scale // COUNT(*) AS BIGINT) AS base,
          CAST(15 * ($scale // COUNT(*)) // 100 AS BIGINT) AS tp
        FROM deg),
      r0 AS (
        SELECT src AS node, (SELECT base FROM consts) AS rank FROM deg),
      $stages
      SELECT node AS word, rank FROM r4
      ORDER BY rank DESC, node LIMIT 20
    """
    })

  /** PMI COLLOCATIONS — the corpus-linguistics "which word pairs belong
    * together" table (Church & Hanks 1990): pointwise mutual information
    * ln(p(ab)/(p(a)p(b))) over ADJACENT token pairs, min-count floored
    * (PMI without a count floor is a rare-pair leaderboard). Bigrams come
    * from one LEAD over the (doc_id, pos) window — the q233/q188 recipe,
    * O(tokens) work, never a positional self-join; unigram/bigram counts
    * are keyed aggregates; totals are 1-row broadcast cross joins. The
    * PMI ratio is assembled as one double product chain written
    * identically in both engines (the exact integer products would pass
    * 1e19 at sf0.1 — past int64 — so the doubles ARE the contract), ln is
    * the shared libm, ordering is on the rounded score with a full word
    * tiebreak ⇒ full oracle. */
  lazy val q238PmiCollocations: Q = Q(
    "q238_pmi_collocations",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bigAll = toks
        .withColumn("wb", lead(col("w"), 1).over(wDoc))
        .filter(col("wb").isNotNull)
        .groupBy(col("w").as("w1"), col("wb").as("w2"))
        .agg(count(lit(1)).as("c_ab"))
        .barrier() // feeds the total AND the scored join
      val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .barrier() // feeds the total AND two join arms
      val nb = bigAll.agg(sum(col("c_ab")).as("nb"))
      val nu = uni.agg(sum(col("c")).as("nu"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      bigAll.filter(col("c_ab") >= 5)
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .select(col("w1"), col("w2"), col("c_ab"),
          round(log((d(col("c_ab")) * d(col("nu")) * d(col("nu")))
            / (d(col("nb")) * d(col("c1")) * d(col("c2")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some("""
      WITH toks0 AS (
        SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
      toks AS (
        SELECT doc_id, UNNEST(l) AS w, UNNEST(range(len(l))) AS pos
        FROM toks0),
      uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
      nuni AS (SELECT SUM(c) AS nu FROM uni),
      big AS (
        SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c_ab
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      nbig AS (SELECT SUM(c_ab) AS nb FROM big)
      SELECT w1, w2, c_ab,
        round(ln((CAST(c_ab AS DOUBLE) * CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE))
          / (CAST(nb AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6)
          AS pmi
      FROM big, nuni, nbig
      JOIN uni u1 ON big.w1 = u1.w
      JOIN uni u2 ON big.w2 = u2.w
      WHERE c_ab >= 5
      ORDER BY pmi DESC, w1, w2 LIMIT 20
    """))

  /** PER-SOURCE KL DIVERGENCE — the corpus-drift leaderboard ("which
    * source's token distribution diverges most from the rest"), the text
    * twin of q100's numeric PSI: add-one-smoothed unigram distribution of
    * each source vs the complement, KL(p_s ‖ p_rest) in nats. The grid is
    * |sources| × |vocab| (source count is catalog metadata — bounded;
    * vocab data-sized but every join is keyed on the token), absent words
    * still contribute through smoothing via the left join. Float
    * discipline: each term is one identical double chain rounded @9, the
    * per-source sum runs in DECIMAL (a bare double Σ over a data-sized
    * vocab is partition-order-dependent — the q204 recipe), final KL
    * rounded @6 ⇒ full oracle. */
  lazy val q239SourceKl: Q = Q(
    "q239_source_kl",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      val sw = toks.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
        .barrier() // feeds gw, ns, and the grid join
      val gw = sw.groupBy(col("w")).agg(sum(col("c")).as("cg"))
      val ns = sw.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val tot = gw.agg(sum(col("cg")).as("ng"), count(lit(1)).as("v"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val grid = gw.crossJoin(broadcast(ns)) // |sources| × |vocab|, keyed below
        .join(sw, Seq("source", "w"), "left")
        .select(col("source"), col("n"), col("cg"),
          coalesce(col("c"), lit(0L)).as("c"))
        .crossJoin(broadcast(tot))
      grid
        .select(col("source"),
          round((d(col("c") + 1) / (col("n") + col("v")))
            * log((d(col("c") + 1) / (col("n") + col("v")))
              / (d(col("cg") - col("c") + 1)
                / (col("ng") - col("n") + col("v")))), 9).as("term"))
        .groupBy(col("source"))
        .agg(round(sum(col("term").cast(DecimalType(38, 9))).cast("double"), 6)
          .as("kl"))
    },
    Some("""
      WITH toks0 AS (
        SELECT source, string_split(lower(text), ' ') AS l FROM documents),
      toks AS (SELECT source, UNNEST(l) AS w FROM toks0),
      sw AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      gw AS (SELECT w, SUM(c) AS cg FROM sw GROUP BY w),
      ns AS (SELECT source, SUM(c) AS n FROM sw GROUP BY source),
      tot AS (SELECT SUM(cg) AS ng, COUNT(*) AS v FROM gw),
      grid AS (
        SELECT s.source, g.w, g.cg, COALESCE(sw.c, 0) AS c, s.n
        FROM ns s
        CROSS JOIN gw g
        LEFT JOIN sw ON sw.source = s.source AND sw.w = g.w),
      terms AS (
        SELECT source,
          round((CAST(c + 1 AS DOUBLE) / (n + v)) *
            ln((CAST(c + 1 AS DOUBLE) / (n + v)) /
               (CAST(cg - c + 1 AS DOUBLE) / (ng - n + v))), 9) AS term
        FROM grid, tot)
      SELECT source,
        round(CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE), 6) AS kl
      FROM terms GROUP BY source
    """))

  /** TOKEN BURSTINESS — the variance-to-mean ratio (index of dispersion)
    * of each frequent token's per-document count, zeros included: the
    * corpus-linguistics content/function-word split (Church & Gale 1995
    * class of statistics — bursty tokens concentrate in few docs, VMR ≫ 1;
    * boilerplate spreads Poisson-like, VMR ≈ 1). Per-(token, doc) counts
    * are one keyed aggregate; per-token (Σc, Σc²) exact integers (Σc²
    * through DECIMAL — overflow-safe at any SF); the zero-doc mass enters
    * through D (total docs) in the closing VMR chain, never a dense
    * token×doc grid. Min-count floor 50 keeps the leaderboard off rare
    * tokens. One identical double chain rounded @6, full tiebreak ⇒ full
    * oracle. */
  lazy val q244TokenBurstiness: Q = Q(
    "q244_token_burstiness",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      val dc = toks.groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
      val m = dc.groupBy(col("w")).agg(sum(col("c")).as("s1"),
          sum(col("c").cast(DecimalType(19, 0))
            * col("c").cast(DecimalType(19, 0))).as("s2d"))
        .select(col("w"), col("s1"), col("s2d").cast("long").as("s2"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      m.filter(col("s1") >= 50).crossJoin(broadcast(nd))
        .select(col("w"), col("s1"),
          round(((d(col("s2")) / col("nd"))
            - (d(col("s1")) / col("nd")) * (d(col("s1")) / col("nd")))
            / (d(col("s1")) / col("nd")), 6).as("vmr"))
        .orderBy(col("vmr").desc, col("w")).limit(20)
    },
    Some("""
      WITH toks0 AS (
        SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
      toks AS (SELECT doc_id, UNNEST(l) AS w FROM toks0),
      dc AS (SELECT w, doc_id, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      m AS (SELECT w, CAST(SUM(c) AS BIGINT) AS s1,
              CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS s2
            FROM dc GROUP BY w),
      d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents)
      SELECT w, s1,
        round(((CAST(s2 AS DOUBLE) / nd)
          - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd))
          / (CAST(s1 AS DOUBLE) / nd), 6) AS vmr
      FROM m, d WHERE s1 >= 50
      ORDER BY vmr DESC, w LIMIT 20
    """))

  val all: Seq[Q] = Seq(
    q26TextStats, q27LangQuality, q28Fingerprint, q29DedupExact,
    q30JaccardPairs, q31MinhashLsh, q32TokenHistogram, q50Tfidf, q59BpeTokens,
    q63DedupClusters, q67CanonicalDocs, q71LeakageSafeSplit, q72IncrementalDedup,
    q87BigramLm, q90DupSpans, q102IncrementalNearDup, q105NgramNovelty,
    q108HybridDedup, q111DatasetCard, q127CcnetBuckets, q129DupSpanRemoval,
    q131BpeMerges, q142BpeEncode, q143Bm25, q152PreferencePairs, q163TopNgramMass,
    q167ContainmentPairs, q190TokenizerFertility, q209ZipfSlope, q229DocRepetition,
    q233TextRank, q238PmiCollocations, q239SourceKl, q244TokenBurstiness)
}
