package graft.queries

import graft.plans.ScaleLint.BarrierSyntax

import graft.{Q, QueryDsl}
import QueryDsl._
import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity-search + vector-stats operators over `embeddings`
  * (north-star ANN surface).
  */
object EmbedQueries {

  private def corpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def queriesDf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Brute-force exact cosine top-10 per query vector. Oracle computes the
    * identical left-to-right double accumulation via list_dot_product on
    * DOUBLE[] casts. */
  val q33CosineTopK: Q = Q(
    "q33_cosine_topk",
    (s, dir) => Similarity.bruteForceTopK(corpus(s, dir), queriesDf(s, dir), 10),
    Some("""
      WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      sims AS (
        SELECT qid, id,
          list_dot_product(qvec, vec)
            / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) AS sim
        FROM c, q WHERE id <> qid
      ),
      ranked AS (
        SELECT qid, id, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS BIGINT) AS rank
        FROM sims
      )
      SELECT qid, rank, id, sim FROM ranked WHERE rank <= 10
    """),
    headline = true)

  /** LSH-bucketed approximate top-k (hyperplane signatures, multi-table
    * OR-amplification) — FULL-ORACLE since r16: planes come from the
    * [[graft.functions.PortableHyperplaneSig]] portable modular family
    * (not xxhash64), and the sign of each projection is a left-to-right
    * double chain both engines evaluate identically (the q33 recipe), so
    * DuckDB re-derives the exact bucket keys, the candidate pair set, and
    * the cosine ranking. Recall property-tested in SimilaritySpec and
    * measured in QUALITY.md. Operating point: the r9 single-table 8-plane
    * configuration measured recall@10 = 0.00 on the near-orthogonal
    * testdata (the analytic worst case for bucketed LSH); 6 planes × 9
    * OR'd tables (r17 — the 9th table recovered the r16 portable-plane
    * swap's recall dip, 0.32 → 0.34 at sf0.1 for +5.4% candidate volume,
    * 1637 → 1725 rows; the lsh_ntables_portable dial curve in QUALITY.md)
    * buys measurable recall by admitting ~nTables/2⁶ of the corpus as
    * candidates per query — the honest LSH price on structureless data. */
  val q34AnnLsh: Q = Q(
    "q34_ann_lsh",
    (s, dir) => Similarity.lshTopK(corpus(s, dir), queriesDf(s, dir), 10,
      nPlanes = 6, nTables = 9, portablePlanes = true),
    Some("""
      WITH c AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec FROM embeddings
        WHERE vec_id < 5),
      sigc AS (
        SELECT id, t.tbl AS tbl,
          CAST(list_sum(list_transform(generate_series(0, 5), p ->
            CASE WHEN list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(generate_series(1, len(vec)), d ->
                    vec[d] * (CAST((((7 * 8191 + (t.tbl * 6 + p)) % 1000003
                        * 8191 + (d - 1)) % 1000003 * 2654435761) % 2000001
                        - 1000000 AS DOUBLE) / 1000000.0))),
                (a, x) -> a + x) >= 0
              THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END))
            AS BIGINT) AS sig
        FROM c, generate_series(0, 8) t(tbl)),
      sigq AS (
        SELECT qid, t.tbl AS tbl,
          CAST(list_sum(list_transform(generate_series(0, 5), p ->
            CASE WHEN list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(generate_series(1, len(qvec)), d ->
                    qvec[d] * (CAST((((7 * 8191 + (t.tbl * 6 + p)) % 1000003
                        * 8191 + (d - 1)) % 1000003 * 2654435761) % 2000001
                        - 1000000 AS DOUBLE) / 1000000.0))),
                (a, x) -> a + x) >= 0
              THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END))
            AS BIGINT) AS sig
        FROM q, generate_series(0, 8) t(tbl)),
      cand AS (
        SELECT DISTINCT sq.qid, sc.id
        FROM sigc sc JOIN sigq sq ON sc.tbl = sq.tbl AND sc.sig = sq.sig
        WHERE sc.id <> sq.qid),
      sims AS (
        SELECT cand.qid, cand.id,
          list_dot_product(q.qvec, c.vec)
            / (sqrt(list_dot_product(q.qvec, q.qvec))
               * sqrt(list_dot_product(c.vec, c.vec))) AS sim
        FROM cand JOIN c ON c.id = cand.id JOIN q ON q.qid = cand.qid),
      ranked AS (
        SELECT qid, id, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id)
            AS BIGINT) AS rank
        FROM sims)
      SELECT qid, rank, id, sim FROM ranked WHERE rank <= 10
    """))

  /** IVF-Flat approximate top-k: deterministic sampled centroids, 2-probe.
    * FULLY oracle-checked since r10 — unlike the hash-bucketed LSH paths,
    * every step is deterministic arithmetic both engines evaluate
    * identically (the q33 bit-stable cosine + the q88 argmax-assignment
    * recipe): DuckDB re-derives assignment, probe selection, and the
    * in-list exact ranking. Recall vs brute force additionally
    * property-tested in SimilaritySpec. */
  val q56AnnIvf: Q = Q(
    "q56_ann_ivf",
    (s, dir) => {
      // bounded centroid count (≤64): assignment stays O(64·n) however big
      // the corpus — centroid count is a tuning dial, not data-proportional
      val cents = t(s, dir, "embeddings")
        .filter(col("vec_id") % 31 === 0 && col("vec_id") < 31 * 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfTopK(corpus(s, dir), queriesDf(s, dir), cents, 10, nProbe = 2)
    },
    Some("""
      WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
      k AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
        WHERE vec_id % 31 = 0 AND vec_id < 31 * 64),
      assigned AS (
        SELECT id, cid, vec FROM (
          SELECT c.id, k.cid, c.vec,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, k.cvec)
                / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(k.cvec, k.cvec)))
              DESC, k.cid) AS rn
          FROM c CROSS JOIN k) WHERE rn = 1),
      probes AS (
        SELECT qid, qvec, cid FROM (
          SELECT q.qid, q.qvec, k.cid,
            ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
              list_dot_product(q.qvec, k.cvec)
                / (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(k.cvec, k.cvec)))
              DESC, k.cid) AS rn
          FROM q CROSS JOIN k) WHERE rn <= 2),
      cand AS (
        SELECT p.qid, a.id,
          list_dot_product(p.qvec, a.vec)
            / (sqrt(list_dot_product(p.qvec, p.qvec)) * sqrt(list_dot_product(a.vec, a.vec))) AS sim
        FROM assigned a JOIN probes p USING (cid)
        WHERE a.id <> p.qid)
      SELECT qid, rank, id, sim FROM (
        SELECT qid, id, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS BIGINT) AS rank
        FROM cand)
      WHERE rank <= 10
    """))

  /** Embedding-cosine near-dup pairs (multi-table hyperplane LSH, exact
    * cosine verify ≥ 0.98) over the corpus ∪ synthesized perturbed dups
    * (all raw embeddings are near-orthogonal random vectors) —
    * FULL-ORACLE since r16 via [[graft.functions.PortableHyperplaneSig]]
    * (the q34 conversion applied to the pair path): DuckDB re-derives the
    * 4×12-plane bucket keys, the >500 degenerate-bucket cap, the distinct
    * pair set, and the exact cosine verify. Recall vs brute force stays
    * property-tested in SimilaritySpec. */
  val q57EmbedNearDup: Q = Q(
    "q57_embed_neardup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dups = emb.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000).as("id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") +
            (pmod(col("vec_id") * (i + lit(1)), lit(7)).cast("double") - 3.0) * 0.005)
            .cast("float")).as("vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        .unionByName(dups)
      // nTables 4 → 6 with the r16 portable plane family: the new draw
      // measured pair recall 0.94 at 4 tables (floor 0.95); two more OR'd
      // tables put the per-pair all-miss probability at ~0.43⁶ ≈ 0.006
      // (measured 1.00 on testdata) for +50% bucket-join volume
      Similarity.cosineNearDupPairs(corpus, threshold = 0.98, nTables = 6,
        portablePlanes = true)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS id,
          list_transform(generate_series(1, len(embedding)), i ->
            CAST(CAST(embedding[i]::DOUBLE
              + ((vec_id * i) % 7 - 3) * 0.005 AS REAL) AS DOUBLE)) AS vec
        FROM embeddings WHERE vec_id % 10 = 0),
      sigs AS (
        SELECT id, t.tbl AS tbl,
          CAST(list_sum(list_transform(generate_series(0, 11), p ->
            CASE WHEN list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(generate_series(1, len(vec)), d ->
                    vec[d] * (CAST((((7 * 8191 + (t.tbl * 12 + p)) % 1000003
                        * 8191 + (d - 1)) % 1000003 * 2654435761) % 2000001
                        - 1000000 AS DOUBLE) / 1000000.0))),
                (a, x) -> a + x) >= 0
              THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END))
            AS BIGINT) AS sig
        FROM corpus, generate_series(0, 5) t(tbl)),
      over_b AS (
        SELECT tbl, sig FROM sigs GROUP BY 1, 2 HAVING COUNT(*) > 500),
      capped AS (
        SELECT sigs.* FROM sigs ANTI JOIN over_b USING (tbl, sig)),
      pairs AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM capped a JOIN capped b USING (tbl, sig)
        WHERE a.id < b.id),
      scored AS (
        SELECT p.id_a, p.id_b,
          list_dot_product(ca.vec, cb.vec)
            / (sqrt(list_dot_product(ca.vec, ca.vec))
               * sqrt(list_dot_product(cb.vec, cb.vec))) AS cosine
        FROM pairs p
        JOIN corpus ca ON ca.id = p.id_a
        JOIN corpus cb ON cb.id = p.id_b)
      SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.98
    """))

  /** SemDeDup semantic dedup ([[Similarity.semanticDedup]]): nearest-centroid
    * clustering bounds the near-dup search to within-cluster pairs; the
    * higher-id member of every pair ≥ 0.98 cosine is dropped. Corpus = raw
    * embeddings ∪ the q57 perturbed dups (raw vectors are near-orthogonal).
    * Unlike the LSH near-dup paths every step is deterministic arithmetic
    * (argmax assignment with id tiebreak, exact cosine), so this one IS
    * exact-oracle-checked — DuckDB re-derives assignment, pairs, and drops. */
  val q88SemDedup: Q = Q(
    "q88_semdedup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dups = emb.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000).as("id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") +
            (pmod(col("vec_id") * (i + lit(1)), lit(7)).cast("double") - 3.0) * 0.005)
            .cast("float")).as("vec"))
      val all = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
        .unionByName(dups)
      val cents = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.semanticDedup(all, cents, threshold = 0.98)
    },
    Some("""
      WITH dups AS (
        SELECT vec_id + 100000 AS id,
          list_transform(generate_series(1, len(embedding)),
            i -> CAST(embedding[i]::DOUBLE
                   + ((vec_id * i) % 7 - 3) * 0.005 AS REAL)) AS embedding
        FROM embeddings WHERE vec_id % 10 = 0),
      corpus AS (
        SELECT id, embedding::DOUBLE[] AS vec FROM (
          SELECT vec_id AS id, embedding FROM embeddings
          UNION ALL SELECT id, embedding FROM dups)),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id % 100 = 0),
      assigned AS (
        SELECT id, cid, vec FROM (
          SELECT id, cid, vec, ROW_NUMBER() OVER (PARTITION BY id ORDER BY
            list_dot_product(vec, cvec)
              / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(cvec, cvec)))
            DESC, cid) AS rn
          FROM corpus CROSS JOIN cents)
        WHERE rn = 1),
      drops AS (
        SELECT DISTINCT b.id FROM assigned a JOIN assigned b
          ON a.cid = b.cid AND a.id < b.id
        WHERE list_dot_product(a.vec, b.vec)
                / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)))
              >= 0.98)
      SELECT a.id, a.cid AS cluster_id, (d.id IS NOT NULL) AS is_dropped
      FROM assigned a LEFT JOIN drops d ON a.id = d.id
    """))

  /** Vector stats: dimension + L2 norm per vector (sequential double
    * accumulation on both engines). */
  val q35VectorStats: Q = Q(
    "q35_vector_stats",
    (s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        col("label").cast("int").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        Similarity.l2Norm(col("embedding")).as("l2_norm")),
    Some("""
      SELECT vec_id, label,
        len(embedding) AS dim,
        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2_norm
      FROM embeddings
    """))

  /** Per-label centroid via posexplode (generator) + exact decimal mean —
    * the elementwise-aggregate shape for embedding analytics. */
  /** Per-label centroid of the first 8 dimensions. Components are
    * FLOOR-QUANTIZED at 1e-9 before summing: `floor(x·1e9)` is the same
    * IEEE multiply + rule-free floor in every engine, and the resulting
    * LONG sum is exact — where the previous double→DECIMAL(28,12) cast
    * left each engine rounding the binary value by its own tie rule (one
    * element in 55k×8 disagreed at sf0.1; hash-parity failures of this
    * class only surface once the corpus is big enough to hit a boundary). */
  val q36LabelCentroids: Q = Q(
    "q36_label_centroids",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("int").as("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(
          (sum(floor(col("x").cast("double") * lit(1000000000.0))).cast("double") /
            lit(1000000000.0) / count(lit(1))).as("centroid"))
        .filter(col("pos") < 8),
    Some("""
      SELECT label, CAST(i - 1 AS BIGINT) AS pos,
        CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 1000000000.0) AS BIGINT)) AS DOUBLE)
          / 1000000000.0 / COUNT(*) AS centroid
      FROM embeddings, generate_series(1, 8) t(i)
      GROUP BY label, i
    """))

  /** Scalar int8 quantization of embeddings (the ANN memory-compression
    * step): per-DIMENSION min/max from one aggregate, broadcast back as
    * arrays, codes = floor((x-mn)/(mx-mn)*255) clamped. Output is
    * integer-exact (code sums/extremes), so the oracle hash-matches —
    * float reconstruction error is a derived metric left engine-side.
    * Scale: one posexplode aggregate (|dims| groups) + one projection scan
    * with the broadcast stats — no per-vector shuffle. */
  val q73QuantizeEmbeddings: Q = Q(
    "q73_quantize_embeddings",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val stats = e
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("pos"), col("x").cast("double").as("x"))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(
          transform(sort_array(collect_list(struct(col("pos"), col("mn")))),
            s => s.getField("mn")).as("mns"),
          transform(sort_array(collect_list(struct(col("pos"), col("mx")))),
            s => s.getField("mx")).as("mxs"))
      e.crossJoin(broadcast(stats))
        .select(col("vec_id"),
          transform(sequence(lit(1), size(col("embedding"))), i => {
            val x = element_at(col("embedding"), i).cast("double")
            val mn = element_at(col("mns"), i)
            val mx = element_at(col("mxs"), i)
            when(mx === mn, lit(0L)).otherwise(
              least(floor((x - mn) / (mx - mn) * 255.0), lit(255.0)).cast("long"))
          }).as("codes"))
        .select(col("vec_id"),
          size(col("codes")).cast("long").as("n_dims"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
          array_min(col("codes")).as("code_min"),
          array_max(col("codes")).as("code_max"))
    },
    Some("""
      WITH dims AS (
        SELECT unnest(embedding::DOUBLE[]) AS x,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
      ), stats AS (
        SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY pos
      ), arrs AS (
        SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats
      ), coded AS (
        SELECT vec_id,
          list_transform(generate_series(1, len(embedding)),
            i -> CASE WHEN mxs[i] = mns[i] THEN 0
                 ELSE CAST(least(floor((embedding[i]::DOUBLE - mns[i])
                        / (mxs[i] - mns[i]) * 255.0), 255.0) AS BIGINT) END) AS codes
        FROM embeddings, arrs
      )
      SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
        CAST(list_sum(codes) AS BIGINT) AS code_sum,
        list_min(codes) AS code_min, list_max(codes) AS code_max
      FROM coded
    """))

  /** Lloyd's k-means ([[Similarity.kmeansLloyd]]): k=8 first-id init, two
    * assignment passes with a centroid re-estimate between them; output =
    * per-cluster size + rounded inertia. Deterministic end-to-end (argmin
    * id tiebreak, exact decimal component means), so the oracle re-derives
    * both iterations with the same dot-product arithmetic. Scale: per pass
    * one broadcast-centroid scan + one keyed aggregate — O(iters) shuffles,
    * nothing on the driver. */
  val q92Kmeans: Q = Q(
    "q92_kmeans",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val init = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      Similarity.kmeansLloyd(corpus, init, iters = 2)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          round(sum(round(col("d2"), 6).cast(DecimalType(28, 8))).cast("double"), 4)
            .as("inertia_r"))
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents0 AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      d0 AS (
        SELECT c.id, c.vec, k.cid,
          list_dot_product(c.vec, c.vec) - 2 * list_dot_product(c.vec, k.cvec)
            + list_dot_product(k.cvec, k.cvec) AS d2
        FROM corpus c CROSS JOIN cents0 k),
      a0 AS (
        SELECT id, vec, cid FROM (
          SELECT id, vec, cid,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
          FROM d0) WHERE rn = 1),
      exp0 AS (
        SELECT cid, generate_subscripts(vec, 1) AS dim, unnest(vec) AS comp
        FROM a0),
      comp0 AS (
        SELECT cid, dim,
          CAST(SUM(CAST(round(comp, 7) AS DECIMAL(28,10))) AS DOUBLE)
            / COUNT(*) AS c
        FROM exp0 GROUP BY cid, dim),
      cents1 AS (SELECT cid, list(c ORDER BY dim) AS cvec FROM comp0 GROUP BY cid),
      d1 AS (
        SELECT c.id, k.cid,
          list_dot_product(c.vec, c.vec) - 2 * list_dot_product(c.vec, k.cvec)
            + list_dot_product(k.cvec, k.cvec) AS d2
        FROM corpus c CROSS JOIN cents1 k),
      a1 AS (
        SELECT id, cid, d2 FROM (
          SELECT id, cid, d2,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
          FROM d1) WHERE rn = 1)
      SELECT cid AS cluster, COUNT(*) AS n_members,
        round(CAST(SUM(CAST(round(d2, 6) AS DECIMAL(28,8))) AS DOUBLE), 4) AS inertia_r
      FROM a1 GROUP BY cid
    """))

  /** PRODUCT QUANTIZATION encode + ADC top-k
    * ([[Similarity.pqCodebooks]]/[[Similarity.pqEncode]]/
    * [[Similarity.pqTopK]]): vectors sliced into 4 subspaces, coded
    * against 16-entry seed codebooks (the q92 init protocol; training via
    * per-subspace Lloyd is spec-covered — seed mode keeps the oracle one
    * argmin instead of a re-derived k-means), then 5 queries ranked by
    * asymmetric distance — table lookups over the 4-int codes, never the
    * raw corpus vectors. Deterministic end-to-end (argmin id tiebreaks,
    * decimal-exact ADC sums) ⇒ full oracle, unlike bucketed ANN. */
  val q117PqAdcTopK: Q = Q(
    "q117_pq_adc_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val books = Similarity.pqCodebooks(corpus, m = 4, ksub = 16, iters = 1)
      val codes = Similarity.pqEncode(corpus, books, m = 4)
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.pqTopK(codes, books, queries, m = 4, k = 10)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      subs AS (SELECT unnest(generate_series(0, 3)) AS subspace),
      books AS (
        SELECT s.subspace, CAST(c.id AS INT) AS cid,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS cvec
        FROM corpus c CROSS JOIN subs s WHERE c.id < 16),
      parts AS (
        SELECT c.id, s.subspace,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS sub
        FROM corpus c CROSS JOIN subs s),
      enc AS (
        SELECT id, subspace, cid AS code FROM (
          SELECT p.id, p.subspace, b.cid,
            ROW_NUMBER() OVER (PARTITION BY p.id, p.subspace ORDER BY
              list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
                + list_dot_product(b.cvec, b.cvec), b.cid) AS rn
          FROM parts p JOIN books b USING (subspace))
        WHERE rn = 1),
      dtable AS (
        SELECT p.id AS qid, p.subspace, b.cid AS code,
          list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
            + list_dot_product(b.cvec, b.cvec) AS d2
        FROM parts p JOIN books b USING (subspace) WHERE p.id < 5),
      scored AS (
        SELECT d.qid, e.id,
          CAST(SUM(CAST(round(d.d2, 6) AS DECIMAL(28,8))) AS DOUBLE) AS adc
        FROM enc e JOIN dtable d ON e.subspace = d.subspace AND e.code = d.code
        GROUP BY d.qid, e.id)
      SELECT qid, rank, id, adc FROM (
        SELECT qid, id, adc,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, id) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 10
    """))

  /** CLUSTER-BALANCED sampling: nearest-centroid assignment
    * ([[Similarity.kmeansAssign]], the q92 protocol) + exactly-k-per-cluster
    * selection by the engine-portable Knuth multiplicative hash (the
    * q69/q91 recipe) — the semantic-diversity curation step (equal
    * representation per embedding cluster, not per metadata class).
    * Deterministic end-to-end ⇒ full oracle. Scale: one broadcast-centroid
    * scan + a WindowGroupLimit top-k per cluster (≤k rows move per input
    * partition — never a per-cluster sort of the corpus). */
  val q118ClusterBalancedSample: Q = Q(
    "q118_cluster_balanced_sample",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val init = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val h = pmod(pmod(col("id"), lit(1000003L)) * lit(2654435761L),
        lit(1000000007L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster")).orderBy(h, col("id"))
      Similarity.kmeansAssign(corpus, init)
        .select(col("id"), col("cluster"), h.as("h"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("cluster"), col("rk"), col("id").as("vec_id"), col("h"))
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      d0 AS (
        SELECT c.id, k.cid,
          list_dot_product(c.vec, c.vec) - 2 * list_dot_product(c.vec, k.cvec)
            + list_dot_product(k.cvec, k.cvec) AS d2
        FROM corpus c CROSS JOIN cents k),
      a0 AS (
        SELECT id, cid AS cluster FROM (
          SELECT id, cid,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
          FROM d0) WHERE rn = 1)
      SELECT cluster, rk, id AS vec_id, h FROM (
        SELECT cluster, id, (id % 1000003) * 2654435761 % 1000000007 AS h,
          CAST(ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY (id % 1000003) * 2654435761 % 1000000007, id)
            AS BIGINT) AS rk
        FROM a0)
      WHERE rk <= 10
    """))

  /** IVF×PQ composed top-k ([[Similarity.ivfPqIndex]] +
    * [[Similarity.ivfPqTopK]]): the q117 PQ codes bucketed into 8 coarse
    * inverted lists (q92 first-id centroid protocol), each query probing
    * its 2 nearest lists and ADC-scanning ONLY those lists' codes — the
    * FAISS IVFPQ search shape, closing r8's flat-ADC full-scan gap.
    * Deterministic end-to-end (L2 argmins with id tiebreaks, decimal-exact
    * ADC sums) ⇒ full oracle: DuckDB re-derives coarse assignment, probe
    * selection, PQ encode, and the list-pruned ADC ranking. */
  val q120IvfPqTopK: Q = Q(
    "q120_ivfpq_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val books = Similarity.pqCodebooks(corpus, m = 4, ksub = 16, iters = 1)
      val index = Similarity.ivfPqIndex(corpus, cents, books, m = 4)
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.ivfPqTopK(index, cents, books, queries, m = 4, k = 10, nProbe = 2)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      subs AS (SELECT unnest(generate_series(0, 3)) AS subspace),
      books AS (
        SELECT s.subspace, CAST(c.id AS INT) AS bcid,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS cvec
        FROM corpus c CROSS JOIN subs s WHERE c.id < 16),
      lists AS (
        SELECT id, cid FROM (
          SELECT c.id, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k) WHERE rn = 1),
      parts AS (
        SELECT c.id, s.subspace,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS sub
        FROM corpus c CROSS JOIN subs s),
      enc AS (
        SELECT id, subspace, bcid AS code FROM (
          SELECT p.id, p.subspace, b.bcid,
            ROW_NUMBER() OVER (PARTITION BY p.id, p.subspace ORDER BY
              list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
                + list_dot_product(b.cvec, b.cvec), b.bcid) AS rn
          FROM parts p JOIN books b USING (subspace))
        WHERE rn = 1),
      probes AS (
        SELECT qid, cid FROM (
          SELECT c.id AS qid, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k WHERE c.id < 5) WHERE rn <= 2),
      dtable AS (
        SELECT p.id AS qid, p.subspace, b.bcid AS code,
          list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
            + list_dot_product(b.cvec, b.cvec) AS d2
        FROM parts p JOIN books b USING (subspace) WHERE p.id < 5),
      scored AS (
        SELECT d.qid, e.id,
          CAST(SUM(CAST(round(d.d2, 6) AS DECIMAL(28,8))) AS DOUBLE) AS adc
        FROM enc e
        JOIN lists l ON l.id = e.id
        JOIN probes pr ON pr.cid = l.cid
        JOIN dtable d ON e.subspace = d.subspace AND e.code = d.code
          AND d.qid = pr.qid
        GROUP BY d.qid, e.id)
      SELECT qid, rank, id, adc FROM (
        SELECT qid, id, adc,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, id) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 10
    """))

  /** IVF×PQ + EXACT RE-RANK ([[Similarity.ivfPqRefine]], the FAISS
    * refine stage): q120's list-pruned ADC search over-fetches a
    * 100-candidate shortlist per query, raw vectors are fetched for THOSE
    * ROWS ONLY (broadcast-pruned keyed join — full-precision data is
    * ~100 rows/query at any corpus size, never a scan), and exact
    * squared-L2 re-ranks the final 10. The refined distance is the
    * dot-product combination both engines evaluate with identical
    * left-to-right accumulation (the q33 recipe) ⇒ full oracle with the
    * RAW double in the output — no rounding step to introduce ties.
    * Shortlist 50 → 100 in r16: QUALITY.md's dial sweep puts recall@10 at
    * 0.58 vs 0.70 on this corpus — the shortlist is the dominant recall
    * lever (ADC error demotes true neighbors WITHIN the fetch, never out
    * of it until the fetch itself truncates), and the cost is ~100 keyed
    * raw-vector fetches per query, corpus-size-independent. */
  val q121IvfPqRefine: Q = Q(
    "q121_ivfpq_refine",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val books = Similarity.pqCodebooks(corpus, m = 4, ksub = 16, iters = 1)
      val index = Similarity.ivfPqIndex(corpus, cents, books, m = 4)
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.ivfPqRefine(index, cents, books, queries, corpus,
        m = 4, k = 10, nProbe = 2, shortlist = 100)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      subs AS (SELECT unnest(generate_series(0, 3)) AS subspace),
      books AS (
        SELECT s.subspace, CAST(c.id AS INT) AS bcid,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS cvec
        FROM corpus c CROSS JOIN subs s WHERE c.id < 16),
      lists AS (
        SELECT id, cid FROM (
          SELECT c.id, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k) WHERE rn = 1),
      parts AS (
        SELECT c.id, s.subspace,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS sub
        FROM corpus c CROSS JOIN subs s),
      enc AS (
        SELECT id, subspace, bcid AS code FROM (
          SELECT p.id, p.subspace, b.bcid,
            ROW_NUMBER() OVER (PARTITION BY p.id, p.subspace ORDER BY
              list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
                + list_dot_product(b.cvec, b.cvec), b.bcid) AS rn
          FROM parts p JOIN books b USING (subspace))
        WHERE rn = 1),
      probes AS (
        SELECT qid, cid FROM (
          SELECT c.id AS qid, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k WHERE c.id < 5) WHERE rn <= 2),
      dtable AS (
        SELECT p.id AS qid, p.subspace, b.bcid AS code,
          list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
            + list_dot_product(b.cvec, b.cvec) AS d2
        FROM parts p JOIN books b USING (subspace) WHERE p.id < 5),
      scored AS (
        SELECT d.qid, e.id,
          CAST(SUM(CAST(round(d.d2, 6) AS DECIMAL(28,8))) AS DOUBLE) AS adc
        FROM enc e
        JOIN lists l ON l.id = e.id
        JOIN probes pr ON pr.cid = l.cid
        JOIN dtable d ON e.subspace = d.subspace AND e.code = d.code
          AND d.qid = pr.qid
        GROUP BY d.qid, e.id),
      shortlist AS (
        SELECT qid, id FROM (
          SELECT qid, id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, id) AS srank
          FROM scored)
        WHERE srank <= 100),
      refined AS (
        SELECT sl.qid, sl.id,
          list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, q.vec)
            + list_dot_product(q.vec, q.vec) AS d2
        FROM shortlist sl
        JOIN corpus c ON c.id = sl.id
        JOIN corpus q ON q.id = sl.qid)
      SELECT qid, rank, id, d2 FROM (
        SELECT qid, id, d2,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS BIGINT) AS rank
        FROM refined)
      WHERE rank <= 10
    """))

  /** RESIDUAL IVF×PQ top-k ([[Similarity.ivfPqResidual]] +
    * [[Similarity.ivfPqResidualTopK]]): the FAISS IndexIVFPQ DEFAULT
    * encoding — each vector quantized as its residual to its coarse
    * centroid, codebooks trained on the residuals, and the ADC table
    * built per (query, probed list) from the query's residual to that
    * list's centroid. Same search cost as q120 (identical code rows
    * joined; the broadcast table grows nProbe×); the code budget spends
    * its resolution on post-coarse detail instead of re-describing the
    * list structure. Deterministic end-to-end ⇒ full oracle: DuckDB
    * re-derives assignment, residuals, residual codebooks, encode, probe
    * selection, per-list ADC tables, and the ranking. */
  val q122IvfPqResidual: Q = Q(
    "q122_ivfpq_residual",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      // seedFrom = 0 (default): ids 0-7 are the coarse centroids, so 8 of
      // the 16 seed residuals are the exact zero vector. MEASURED as the
      // better trade here (recall@10 0.28 vs 0.16 seeding past them):
      // residual distributions concentrate near zero, so a zero code is
      // the densest region's representative, not wasted budget. The
      // seedFrom dial + trained mode (iters > 1) are quality-compared in
      // QUALITY.md.
      val (index, books) = Similarity.ivfPqResidual(corpus, cents, m = 4,
        ksub = 16, iters = 1)
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.ivfPqResidualTopK(index, cents, books, queries,
        m = 4, k = 10, nProbe = 2)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      subs AS (SELECT unnest(generate_series(0, 3)) AS subspace),
      lists AS (
        SELECT id, cid FROM (
          SELECT c.id, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k) WHERE rn = 1),
      resid AS (
        SELECT c.id, l.cid,
          list_transform(list_zip(c.vec, k.cvec), x -> x[1] - x[2]) AS vec
        FROM corpus c JOIN lists l ON l.id = c.id JOIN cents k ON k.cid = l.cid),
      books AS (
        SELECT s.subspace, CAST(r.id AS INT) AS bcid,
          list_slice(r.vec, s.subspace*16+1, s.subspace*16+16) AS cvec
        FROM resid r CROSS JOIN subs s WHERE r.id < 16),
      parts AS (
        SELECT r.id, s.subspace,
          list_slice(r.vec, s.subspace*16+1, s.subspace*16+16) AS sub
        FROM resid r CROSS JOIN subs s),
      enc AS (
        SELECT id, subspace, bcid AS code FROM (
          SELECT p.id, p.subspace, b.bcid,
            ROW_NUMBER() OVER (PARTITION BY p.id, p.subspace ORDER BY
              list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
                + list_dot_product(b.cvec, b.cvec), b.bcid) AS rn
          FROM parts p JOIN books b USING (subspace))
        WHERE rn = 1),
      probes AS (
        SELECT qid, cid, cvec FROM (
          SELECT c.id AS qid, k.cid, k.cvec,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k WHERE c.id < 5) WHERE rn <= 2),
      qres AS (
        SELECT p.qid, p.cid,
          list_transform(list_zip(c.vec, p.cvec), x -> x[1] - x[2]) AS vec
        FROM probes p JOIN corpus c ON c.id = p.qid),
      qparts AS (
        SELECT q.qid, q.cid, s.subspace,
          list_slice(q.vec, s.subspace*16+1, s.subspace*16+16) AS qsub
        FROM qres q CROSS JOIN subs s),
      dtable AS (
        SELECT qp.qid, qp.cid, qp.subspace, b.bcid AS code,
          list_dot_product(qp.qsub, qp.qsub) - 2*list_dot_product(qp.qsub, b.cvec)
            + list_dot_product(b.cvec, b.cvec) AS d2
        FROM qparts qp JOIN books b USING (subspace)),
      scored AS (
        SELECT d.qid, e.id,
          CAST(SUM(CAST(round(d.d2, 6) AS DECIMAL(28,8))) AS DOUBLE) AS adc
        FROM enc e
        JOIN lists l ON l.id = e.id
        JOIN dtable d ON d.cid = l.cid AND e.subspace = d.subspace
          AND e.code = d.code
        GROUP BY d.qid, e.id)
      SELECT qid, rank, id, adc FROM (
        SELECT qid, id, adc,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, id) AS BIGINT) AS rank
        FROM scored)
      WHERE rank <= 10
    """))

  /** RESIDUAL ADC + EXACT RE-RANK ([[Similarity.ivfPqResidualTopK]] ∘
    * [[Similarity.refineShortlist]]): the best-recall configuration of the
    * IVF×PQ tier — q122's residual-encoded list-pruned ADC search
    * over-fetches a 50-candidate shortlist per query, and q121's exact
    * re-rank stage (raw vectors fetched for shortlist rows ONLY via the
    * broadcast-pruned keyed join, never scanned) selects the final 10 by
    * true squared-L2 (recall@10 0.48 vs 0.28 unrefined on sf0.1, recorded
    * in QUALITY.md). Deterministic end-to-end ⇒ full
    * oracle: DuckDB re-derives residual index, per-list ADC tables,
    * shortlist, and the exact re-rank. */
  val q123IvfPqResidualRefine: Q = Q(
    "q123_ivfpq_residual_refine",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val (index, books) = Similarity.ivfPqResidual(corpus, cents, m = 4,
        ksub = 16, iters = 1)
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.refineShortlist(
        Similarity.ivfPqResidualTopK(index, cents, books, queries,
          m = 4, k = 50, nProbe = 2).select(col("qid"), col("id")),
        queries, corpus, k = 10)
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      subs AS (SELECT unnest(generate_series(0, 3)) AS subspace),
      lists AS (
        SELECT id, cid FROM (
          SELECT c.id, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k) WHERE rn = 1),
      resid AS (
        SELECT c.id, l.cid,
          list_transform(list_zip(c.vec, k.cvec), x -> x[1] - x[2]) AS vec
        FROM corpus c JOIN lists l ON l.id = c.id JOIN cents k ON k.cid = l.cid),
      books AS (
        SELECT s.subspace, CAST(r.id AS INT) AS bcid,
          list_slice(r.vec, s.subspace*16+1, s.subspace*16+16) AS cvec
        FROM resid r CROSS JOIN subs s WHERE r.id < 16),
      parts AS (
        SELECT r.id, s.subspace,
          list_slice(r.vec, s.subspace*16+1, s.subspace*16+16) AS sub
        FROM resid r CROSS JOIN subs s),
      enc AS (
        SELECT id, subspace, bcid AS code FROM (
          SELECT p.id, p.subspace, b.bcid,
            ROW_NUMBER() OVER (PARTITION BY p.id, p.subspace ORDER BY
              list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
                + list_dot_product(b.cvec, b.cvec), b.bcid) AS rn
          FROM parts p JOIN books b USING (subspace))
        WHERE rn = 1),
      probes AS (
        SELECT qid, cid, cvec FROM (
          SELECT c.id AS qid, k.cid, k.cvec,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k WHERE c.id < 5) WHERE rn <= 2),
      qres AS (
        SELECT p.qid, p.cid,
          list_transform(list_zip(c.vec, p.cvec), x -> x[1] - x[2]) AS vec
        FROM probes p JOIN corpus c ON c.id = p.qid),
      qparts AS (
        SELECT q.qid, q.cid, s.subspace,
          list_slice(q.vec, s.subspace*16+1, s.subspace*16+16) AS qsub
        FROM qres q CROSS JOIN subs s),
      dtable AS (
        SELECT qp.qid, qp.cid, qp.subspace, b.bcid AS code,
          list_dot_product(qp.qsub, qp.qsub) - 2*list_dot_product(qp.qsub, b.cvec)
            + list_dot_product(b.cvec, b.cvec) AS d2
        FROM qparts qp JOIN books b USING (subspace)),
      scored AS (
        SELECT d.qid, e.id,
          CAST(SUM(CAST(round(d.d2, 6) AS DECIMAL(28,8))) AS DOUBLE) AS adc
        FROM enc e
        JOIN lists l ON l.id = e.id
        JOIN dtable d ON d.cid = l.cid AND e.subspace = d.subspace
          AND e.code = d.code
        GROUP BY d.qid, e.id),
      shortlist AS (
        SELECT qid, id FROM (
          SELECT qid, id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, id) AS srank
          FROM scored)
        WHERE srank <= 50),
      refined AS (
        SELECT sl.qid, sl.id,
          list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, q.vec)
            + list_dot_product(q.vec, q.vec) AS d2
        FROM shortlist sl
        JOIN corpus c ON c.id = sl.id
        JOIN corpus q ON q.id = sl.qid)
      SELECT qid, rank, id, d2 FROM (
        SELECT qid, id, d2,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS BIGINT) AS rank
        FROM refined)
      WHERE rank <= 10
    """))

  /** SEARCH OVER THE PERSISTED IVF×PQ INDEX ([[graft.ext.AnnIndex]]) —
    * the maintained-artifact flow as a catalog query: quantizers trained
    * once and committed through [[graft.sources.VersionedTable]], the
    * corpus ingested in two incremental batches (each encoded against the
    * FROZEN quantizers and written as its own shard — the streaming
    * [[graft.streaming.StreamPipes.annIngest]] step, exercised as such in
    * StreamingSpec), then residual-ADC search against the on-disk code
    * table. The artifact is built once per testdata dir and REUSED across
    * runs (the point of a maintained index): after the first build this
    * query reads quantizer + codes from parquet and never sees the raw
    * corpus except for the 5 query vectors. Results are bit-identical to
    * q122's inline rebuild (extension == rebuild is spec-pinned;
    * assignment/encode/ADC are deterministic arithmetic) ⇒ the same full
    * DuckDB re-derivation oracle. */
  val q124IvfPqPersisted: Q = Q(
    "q124_ivfpq_persisted",
    (s, dir) => {
      import graft.ext.AnnIndex
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      // per-sfDir artifact root; _BUILT is written LAST so a crashed build
      // is rebuilt, never half-reused. v2 = protocol version: bump on ANY
      // change to the train/encode/manifest protocol so a stale /tmp
      // artifact from older code can't serve wrong results or trip the
      // reader (the r10 lesson: the manifest landed mid-round without a
      // bump, and pre-manifest artifacts with a _BUILT marker threw "no
      // ingested shards" forever).
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_annindex_v2_${
        new java.io.File(dir).getName}"
      val done = new java.io.File(s"$base/_BUILT")
      // STRUCTURAL reuse guard, not marker trust: the version tag already
      // failed once (a human forgot to bump it), so the marker alone is
      // not evidence. Reuse only if the artifact actually serves: trained
      // quantizer resolves AND the current generation has readable
      // manifested shards. Anything else — missing, half-written, or from
      // an incompatible layout — is wiped and rebuilt from the corpus.
      val usable = done.exists() && (try {
        AnnIndex.readIndex(s, base).limit(1).count() == 1L
      } catch { case _: Throwable => false })
      if (!usable) {
        val fs = new org.apache.hadoop.fs.Path(base)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
        AnnIndex.train(s, base, corpus, nCentroids = 8, m = 4, ksub = 16)
        AnnIndex.extendBatch(s, base, corpus.filter(col("id") % 2 === 0), 0L)
        AnnIndex.extendBatch(s, base, corpus.filter(col("id") % 2 === 1), 1L)
        done.createNewFile()
      }
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      AnnIndex.search(s, base, queries, k = 10, nProbe = 2)
    },
    // identical derivation to q122: the persisted two-batch extension is
    // bit-identical to the inline full rebuild over the same corpus
    q122IvfPqResidual.oracle)

  /** TWO-PHASE RETRAIN END-TO-END ([[graft.ext.AnnIndex.retrain]] →
    * backfill → [[graft.ext.AnnIndex.promote]]) as an oracle-checked
    * catalog query: the index bootstraps on a DIFFERENT quantizer config
    * (4 coarse lists), retrains to the q122 config (8 lists) as a PENDING
    * generation, backfills it in two batches while the old generation
    * keeps serving, then promotes. The final search must equal q122's
    * inline build bit-for-bit — proving the promoted generation is a
    * clean rebuild under the new quantizers with zero bootstrap-era
    * artifacts leaking through (AnnIndexSpec pins the mid-flight
    * serving behavior; this pins the end state against the full DuckDB
    * re-derivation). Artifact cached per sfDir like q124, reused only
    * after the same structural validity probe. */
  val q125AnnRetrainPromote: Q = Q(
    "q125_ann_retrain_promote",
    (s, dir) => {
      import graft.ext.AnnIndex
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_annretrain_v1_${
        new java.io.File(dir).getName}"
      val done = new java.io.File(s"$base/_BUILT")
      val usable = done.exists() && (try {
        AnnIndex.readIndex(s, base).limit(1).count() == 1L
      } catch { case _: Throwable => false })
      if (!usable) {
        val fs = new org.apache.hadoop.fs.Path(base)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
        AnnIndex.train(s, base, corpus, nCentroids = 4, m = 4, ksub = 16)
        AnnIndex.extendBatch(s, base, corpus, 0L)
        AnnIndex.retrain(s, base, corpus, nCentroids = 8, m = 4, ksub = 16)
        AnnIndex.extendBatch(s, base, corpus.filter(col("id") % 2 === 0), 0L)
        AnnIndex.extendBatch(s, base, corpus.filter(col("id") % 2 === 1), 1L)
        AnnIndex.promote(s, base)
        done.createNewFile()
      }
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      AnnIndex.search(s, base, queries, k = 10, nProbe = 2)
    },
    // the promoted generation IS the q122 configuration built from
    // scratch (extension == rebuild), so the q122 oracle re-derives it
    q122IvfPqResidual.oracle)

  /** CONTRASTIVE PAIR MINING ([[graft.ext.Similarity.contrastivePairs]]):
    * for the first 50 vectors as anchors, mine a positive (nearest
    * in-cluster neighbor) and a hard negative (next-nearest) from the
    * anchor's nearest-centroid cluster — the embedding-model training-
    * data prep step. Assignment is the q88 argmax recipe, similarities
    * the q33 bit-stable cosine, ranks id-tiebroken ⇒ full DuckDB
    * re-derivation. */
  val q128ContrastivePairs: Q = Q(
    "q128_contrastive_pairs",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val all = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val cents = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      Similarity.contrastivePairs(
        Similarity.assignNearestCentroid(all, cents), col("id") < 50)
    },
    Some("""
      WITH c AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id % 100 = 0),
      assigned AS (
        SELECT id, cid, vec FROM (
          SELECT id, cid, vec, ROW_NUMBER() OVER (PARTITION BY id ORDER BY
            list_dot_product(vec, cvec)
              / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(cvec, cvec)))
            DESC, cid) AS rn
          FROM c CROSS JOIN cents)
        WHERE rn = 1),
      cand AS (
        SELECT a.id AS anchor_id, b.id AS id,
          list_dot_product(a.vec, b.vec)
            / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS sim
        FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.id <> b.id
        WHERE a.id < 50),
      ranked AS (
        SELECT anchor_id, id, sim,
          ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, id) AS rk
        FROM cand)
      SELECT anchor_id,
        MAX(CASE WHEN rk = 1 THEN id END) AS pos_id,
        MAX(CASE WHEN rk = 1 THEN sim END) AS sim_pos,
        MAX(CASE WHEN rk = 2 THEN id END) AS neg_id,
        MAX(CASE WHEN rk = 2 THEN sim END) AS sim_neg
      FROM ranked WHERE rk <= 2
      GROUP BY 1
      HAVING MAX(CASE WHEN rk = 2 THEN id END) IS NOT NULL
    """))

  /** Sign-matrix random projection 64→16 dims ([[Similarity
    * .randomProject]], Achlioptas 2003): integer-exact JL dimensionality
    * reduction — components floor-quantized @1e-6, ±1 signs from the
    * portable Knuth hash of (input dim, output dim), BIGINT sums. The
    * DuckDB twin regenerates the identical implicit matrix; QUALITY.md
    * carries the measured pairwise-distance distortion this dial buys.
    * One projection scan, no shuffle, nothing materialized. */
  val q133RandomProjection: Q = Q(
    "q133_random_projection",
    (s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding",
        dOut = 16)
        // flattened (vec_id, dim, val) — arrow list child names differ
        // across engines, scalar rows compare exactly
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "val")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("val")),
    Some("""
      SELECT vec_id,
        unnest(generate_series(0, 15)) AS dim,
        unnest(list_transform(generate_series(0, 15), i ->
          CAST(list_sum(list_transform(
            generate_series(0, CAST(len(embedding) AS INT) - 1), j ->
              CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * 1000000.0) AS BIGINT)
              * (1 - 2 * ((j * 1000003 + i) * 2654435761 % 1000000007 % 2))))
          AS BIGINT))) AS val
      FROM embeddings
    """))

  /** EMBEDDING DRIFT MONITORING — the vector-tier PSI (q100's scalar
    * drift check lifted to embedding space): the corpus split into two
    * epochs (even/odd ids standing in for before/after snapshots), and
    * each label's centroid compared across them by cosine. A shifted
    * cosine flags the label whose representation moved — the retrain
    * trigger for downstream ANN/classifier artifacts. Exactness recipe:
    * per-dim sums floor-quantized @1e-9 (the q36 rule) are integer-exact
    * per (label, epoch, dim); cosine is taken on the SUM vectors
    * (scaling cancels — cos(sum) == cos(mean), no division before the
    * bit-stable sequential dot). One posexplode aggregate (|labels|·2·d
    * groups) + a labels-sized join: no per-vector shuffle, counts from a
    * second single scan. */
  val q140EmbeddingDrift: Q = Q(
    "q140_embedding_drift",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val sums = e.select(col("label").cast("int").as("label"),
          (col("vec_id") % 2 === 0).as("snap_a"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("snap_a"), col("pos"))
        .agg(sum(floor(col("x").cast("double") * lit(1000000000.0)))
          .cast("double").as("sc"))
      val vecs = sums.groupBy(col("label"), col("snap_a"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("sc")))),
          f => f.getField("sc")).as("v"))
      val a = vecs.filter(col("snap_a")).select(col("label"), col("v").as("va"))
      val b = vecs.filter(!col("snap_a")).select(col("label"), col("v").as("vb"))
      val cnt = e.groupBy(col("label").cast("int").as("label")).agg(
        countIf(col("vec_id") % 2 === 0).as("n_a"),
        countIf(col("vec_id") % 2 =!= 0).as("n_b"))
      a.join(b, Seq("label")).join(cnt, Seq("label"))
        .select(col("label"), col("n_a"), col("n_b"),
          Similarity.cosine(col("va"), col("vb")).as("centroid_cosine"))
    },
    Some("""
      WITH s AS (
        SELECT label, vec_id % 2 = 0 AS snap_a, i - 1 AS pos,
          CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 1000000000.0) AS BIGINT)) AS DOUBLE) AS sc
        FROM embeddings, generate_series(1, 64) t(i)
        GROUP BY 1, 2, 3),
      v AS (
        SELECT label, snap_a, list(sc ORDER BY pos) AS v FROM s GROUP BY 1, 2),
      cnt AS (
        SELECT label,
          CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(SUM(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM embeddings GROUP BY 1)
      SELECT a.label, cnt.n_a, cnt.n_b,
        list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          AS centroid_cosine
      FROM v a
      JOIN v b ON a.label = b.label AND a.snap_a AND NOT b.snap_a
      JOIN cnt ON cnt.label = a.label
    """))

  /** CLUSTER LABELING by class-based TF-IDF (the BERTopic topic-naming
    * step, Grootendorst 2022): nearest-centroid embedding clusters joined
    * to their documents' text (the doc_id == vec_id fixture convention),
    * each cluster named by its top-5 terms under c-TF-IDF — term count in
    * the cluster × rational idf over CLUSTERS-containing-term (the q143
    * rule: no ln, fixed-order divisions of identical doubles). Candidates:
    * one tokenize scan keyed by cluster; cluster-df and the cluster count
    * are broadcast-small; per-cluster top-5 is a window over |vocab·C|
    * scored rows. Bridges the embedding and text tiers into the
    * curation-report operator a corpus pipeline actually ships. */
  val q150ClusterLabels: Q = Q(
    "q150_cluster_labels",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val all = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val cents = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val assigned = Similarity.assignNearestCentroid(all, cents)
        .select("id", "cid")
        .barrier() // r18: fused-projection assignment, referenced twice below
      val toks = t(s, dir, "documents")
        .join(assigned, col("doc_id") === col("id"))
        .select(col("cid"),
          explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("term"))
      val tf = toks.groupBy(col("cid"), col("term")).agg(count(lit(1)).as("tf"))
      val cdf = tf.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
      val nC = assigned.agg(countDistinct(col("cid")).as("n_clusters"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("score").desc, col("term"))
      tf.join(broadcast(cdf), Seq("term"))
        .crossJoin(broadcast(nC))
        .withColumn("score",
          col("tf") * ((col("n_clusters") - col("cdf") + lit(0.5)) / (col("cdf") + lit(0.5))))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("cid"), col("rk"), col("term"), col("tf"), col("score"))
    },
    Some("""
      WITH c AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id % 100 = 0),
      assigned AS (
        SELECT id, cid FROM (
          SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY
            list_dot_product(vec, cvec)
              / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(cvec, cvec)))
            DESC, cid) AS rn
          FROM c CROSS JOIN cents)
        WHERE rn = 1),
      toks AS (
        SELECT a.cid, unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS term
        FROM documents d JOIN assigned a ON d.doc_id = a.id),
      tf AS (SELECT cid, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      cdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cdf FROM tf GROUP BY 1),
      nc AS (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clusters FROM assigned),
      scored AS (
        SELECT tf.cid, tf.term, tf.tf,
          tf.tf * ((nc.n_clusters - cdf.cdf + 0.5e0) / (cdf.cdf + 0.5e0)) AS score
        FROM tf JOIN cdf USING (term) CROSS JOIN nc)
      SELECT cid, rk, term, tf, score FROM (
        SELECT cid, term, tf, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY score DESC, term) AS BIGINT) AS rk
        FROM scored)
      WHERE rk <= 5
    """))

  /** PCA SPECTRUM of the embedding corpus ([[graft.ext.Pca]]) — the
    * whitening/decorrelation fit every embedding pipeline runs before
    * compressed indexing: one mergeable-moments pass (count/Σx/Σxxᵀ
    * typed Aggregator, buffers sized by MODEL dimension), a driver-side
    * d×d Jacobi eigen (the k-means-centroid class of driver math), and
    * here the SPECTRUM as the output — per-component eigenvalue,
    * variance share, cumulative share, plus the corpus-side check that
    * the projected first-component variance matches its eigenvalue
    * (the fit-vs-transform consistency a pipeline asserts before
    * trusting the projection). Eigen output is float-path-dependent
    * across engines ⇒ rows-only (the sketch precedent); algebraic
    * invariants are spec-pinned in PcaSpec. */
  lazy val q172PcaSpectrum: Q = Q(
    "q172_pca_spectrum",
    (s, dir) => {
      import graft.ext.Pca
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val model = Pca.fit(emb, "vec", d = 64, k = 8)
      val total = model.eigenvalues.sum // trace share of the top-k only
      val pc1Var = Pca.project(emb, "vec", model)
        .select(element_at(col("pc"), 1).as("p1"))
        .agg(variance(col("p1"))).head().getDouble(0)
      val rows = model.eigenvalues.zipWithIndex.map { case (ev, i) =>
        (i + 1, ev, ev / total,
          model.eigenvalues.take(i + 1).sum / total,
          if (i == 0) Some(pc1Var) else None)
      }
      import s.implicits._
      rows.toSeq.toDF("component", "eigenvalue", "var_share", "cum_share",
        "projected_variance")
    },
    None)

  /** MATRYOSHKA TRUNCATION EVAL — how much exact-retrieval quality
    * survives when embeddings are truncated to a prefix of their
    * dimensions (the deployment question MRL-trained models pose: serve
    * d=16 or d=32 instead of 64 and keep most of the recall at a
    * fraction of the memory/compute). For each query: exact top-10 under
    * the FULL dimension vs exact top-10 under each prefix, overlap
    * counted. Fully deterministic — both rankings are exact sqDist
    * (`‖a‖²−2ab+‖b‖²`, the q33-proven bit-stable recipe) with id
    * tiebreaks, prefix slicing is `slice` ↔ `vec[1:p]` — so unlike the
    * ANN recall rows this eval is FULL-oracle. Cost: brute-force over
    * |queries|·|corpus| pairs per dim, broadcast queries — an EVAL
    * operator (runs on samples), not a serving path. */
  lazy val q191MatryoshkaEval: Q = Q(
    "q191_matryoshka_eval",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
        .barrier() // one read feeds all three rankings
      val queries = corpus.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      def topk(p: Option[Int]): org.apache.spark.sql.DataFrame = {
        val (v, qv) = p match {
          case Some(n) => (slice(col("vec"), 1, n), slice(col("qvec"), 1, n))
          case None => (col("vec"), col("qvec"))
        }
        corpus.crossJoin(broadcast(queries))
          .withColumn("d2", Similarity.sqDist(v, qv))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))))
          .filter(col("rk") <= 10).select(col("qid"), col("id"))
      }
      val full = topk(None).barrier()
      Seq(16, 32).map { pfx =>
        full.join(topk(Some(pfx)), Seq("qid", "id"))
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n_overlap"))
          .select(col("qid"), lit(pfx.toLong).as("d_prefix"), col("n_overlap"),
            (col("n_overlap").cast("double") / 10.0).as("overlap_frac"))
      }.reduce(_ unionByName _)
    },
    Some("""
      WITH c AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      q AS (SELECT id AS qid, vec AS qvec FROM c WHERE id < 5),
      full_r AS (
        SELECT qid, id FROM (
          SELECT q.qid, c.id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
            list_dot_product(c.vec, c.vec) - 2 * list_dot_product(c.vec, q.qvec)
              + list_dot_product(q.qvec, q.qvec), c.id) AS rk
          FROM c CROSS JOIN q) WHERE rk <= 10),
      p16 AS (
        SELECT qid, id FROM (
          SELECT q.qid, c.id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
            list_dot_product(c.vec[1:16], c.vec[1:16])
              - 2 * list_dot_product(c.vec[1:16], q.qvec[1:16])
              + list_dot_product(q.qvec[1:16], q.qvec[1:16]), c.id) AS rk
          FROM c CROSS JOIN q) WHERE rk <= 10),
      p32 AS (
        SELECT qid, id FROM (
          SELECT q.qid, c.id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
            list_dot_product(c.vec[1:32], c.vec[1:32])
              - 2 * list_dot_product(c.vec[1:32], q.qvec[1:32])
              + list_dot_product(q.qvec[1:32], q.qvec[1:32]), c.id) AS rk
          FROM c CROSS JOIN q) WHERE rk <= 10)
      SELECT qid, CAST(16 AS BIGINT) AS d_prefix,
        CAST(COUNT(*) AS BIGINT) AS n_overlap,
        CAST(COUNT(*) AS DOUBLE) / 10.0 AS overlap_frac
      FROM full_r JOIN p16 USING (qid, id) GROUP BY qid
      UNION ALL
      SELECT qid, CAST(32 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        CAST(COUNT(*) AS DOUBLE) / 10.0
      FROM full_r JOIN p32 USING (qid, id) GROUP BY qid
    """))

  /** LABEL-AWARE HARD-NEGATIVE MINING — the supervised-contrastive
    * training-data step q128's unsupervised miner can't do: for each
    * anchor, the most similar SAME-label vector (positive) and the most
    * similar DIFFERENT-label vector (the hard negative — the confusable
    * example that actually moves a margin loss), plus the margin between
    * them. Uses the embeddings table's `label` column; similarities are
    * the q33 bit-stable cosine with id tiebreaks ⇒ full oracle. Anchors
    * broadcast; at scale the candidate side would route through the ANN
    * tier (q120+) instead of the exact scan — same mining logic, bounded
    * candidates. */
  lazy val q194HardNegatives: Q = Q(
    "q194_hard_negatives",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("label"),
        col("embedding").cast("array<double>").as("vec"))
      val anchors = corpus.filter(col("id") < 20)
        .select(col("id").as("qid"), col("label").as("qlabel"),
          col("vec").as("qvec"))
      val scored = corpus.crossJoin(broadcast(anchors))
        .filter(col("id") =!= col("qid"))
        .withColumn("sim", Similarity.cosine(col("vec"), col("qvec")))
        .barrier() // feeds the positive AND negative picks
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
      def pick(cond: org.apache.spark.sql.Column, pre: String) =
        scored.filter(cond)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("qid"), col("qlabel"),
            col("id").as(s"${pre}_id"), col("sim").as(s"${pre}_sim"))
      pick(col("label") === col("qlabel"), "pos")
        .join(pick(col("label") =!= col("qlabel"), "neg").drop("qlabel"),
          Seq("qid"))
        .withColumn("margin", col("pos_sim") - col("neg_sim"))
        .select(col("qid"), col("qlabel"), col("pos_id"), col("pos_sim"),
          col("neg_id"), col("neg_sim"), col("margin"))
    },
    Some("""
      WITH c AS (
        SELECT vec_id AS id, label, embedding::DOUBLE[] AS vec FROM embeddings),
      a AS (
        SELECT id AS qid, label AS qlabel, vec AS qvec FROM c WHERE id < 20),
      scored AS (
        SELECT a.qid, a.qlabel, c.id, c.label,
          list_dot_product(c.vec, a.qvec)
            / (sqrt(list_dot_product(c.vec, c.vec))
              * sqrt(list_dot_product(a.qvec, a.qvec))) AS sim
        FROM c CROSS JOIN a WHERE c.id <> a.qid),
      pos AS (
        SELECT qid, qlabel, id AS pos_id, sim AS pos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, id) AS rn
          FROM scored WHERE label = qlabel) WHERE rn = 1),
      neg AS (
        SELECT qid, id AS neg_id, sim AS neg_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, id) AS rn
          FROM scored WHERE label <> qlabel) WHERE rn = 1)
      SELECT qid, qlabel, pos_id, pos_sim, neg_id, neg_sim,
        pos_sim - neg_sim AS margin
      FROM pos JOIN neg USING (qid)
    """))

  /** ANN-ROUTED HARD-NEGATIVE MINING — q194's label-aware miner with the
    * candidate side routed through the IVF×PQ tier instead of the exact
    * broadcast scan: the q120 index ADC-retrieves an over-fetched
    * shortlist (top-64, nProbe 4) per anchor, raw vectors + labels are
    * fetched for THOSE rows only (broadcast-pruned keyed join — the
    * q121 refine shape), and the q194 mining logic picks the most
    * similar same-label (positive) and different-label (hard negative)
    * candidates. This is the 100 TB path q194's scaladoc promised:
    * per-anchor work ∝ probed-list size, never the corpus. Every stage
    * is deterministic (L2/ADC argmins with id tiebreaks, q33 bit-stable
    * cosine) ⇒ FULL oracle — DuckDB re-derives the index, the probe-
    * pruned shortlist, and the mining picks. Mining-quality floor vs
    * exact q194 lives in QualityGuardSpec (the q34-vs-q33 pattern). */
  lazy val q196HardNegativesAnn: Q = Q(
    "q196_hard_negatives_ann",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("label"),
        col("embedding").cast("array<double>").as("vec"))
      val plain = corpus.select(col("id"), col("vec"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val books = Similarity.pqCodebooks(plain, m = 4, ksub = 16, iters = 1)
      val index = Similarity.ivfPqIndex(plain, cents, books, m = 4)
      val anchors = corpus.filter(col("id") < 20)
        .select(col("id").as("qid"), col("label").as("qlabel"),
          col("vec").as("qvec"))
        .barrier() // feeds the search AND the join-back
      val cand = Similarity.ivfPqTopK(index, cents, books,
          anchors.select(col("qid"), col("qvec")), m = 4, k = 64, nProbe = 4)
        .select(col("qid"), col("id"))
      val scored = corpus.join(broadcast(cand), Seq("id"))
        .join(broadcast(anchors), Seq("qid"))
        .filter(col("id") =!= col("qid"))
        .withColumn("sim", Similarity.cosine(col("vec"), col("qvec")))
        .barrier() // feeds the positive AND negative picks
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
      def pick(cond: org.apache.spark.sql.Column, pre: String) =
        scored.filter(cond)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("qid"), col("qlabel"),
            col("id").as(s"${pre}_id"), col("sim").as(s"${pre}_sim"))
      pick(col("label") === col("qlabel"), "pos")
        .join(pick(col("label") =!= col("qlabel"), "neg").drop("qlabel"),
          Seq("qid"))
        .withColumn("margin", col("pos_sim") - col("neg_sim"))
        .select(col("qid"), col("qlabel"), col("pos_id"), col("pos_sim"),
          col("neg_id"), col("neg_sim"), col("margin"))
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, label, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      subs AS (SELECT unnest(generate_series(0, 3)) AS subspace),
      books AS (
        SELECT s.subspace, CAST(c.id AS INT) AS bcid,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS cvec
        FROM corpus c CROSS JOIN subs s WHERE c.id < 16),
      lists AS (
        SELECT id, cid FROM (
          SELECT c.id, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k) WHERE rn = 1),
      parts AS (
        SELECT c.id, s.subspace,
          list_slice(c.vec, s.subspace*16+1, s.subspace*16+16) AS sub
        FROM corpus c CROSS JOIN subs s),
      enc AS (
        SELECT id, subspace, bcid AS code FROM (
          SELECT p.id, p.subspace, b.bcid,
            ROW_NUMBER() OVER (PARTITION BY p.id, p.subspace ORDER BY
              list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
                + list_dot_product(b.cvec, b.cvec), b.bcid) AS rn
          FROM parts p JOIN books b USING (subspace))
        WHERE rn = 1),
      probes AS (
        SELECT qid, cid FROM (
          SELECT c.id AS qid, k.cid,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, c.vec) - 2*list_dot_product(c.vec, k.cvec)
                + list_dot_product(k.cvec, k.cvec), k.cid) AS rn
          FROM corpus c CROSS JOIN cents k WHERE c.id < 20) WHERE rn <= 4),
      dtable AS (
        SELECT p.id AS qid, p.subspace, b.bcid AS code,
          list_dot_product(p.sub, p.sub) - 2*list_dot_product(p.sub, b.cvec)
            + list_dot_product(b.cvec, b.cvec) AS d2
        FROM parts p JOIN books b USING (subspace) WHERE p.id < 20),
      adc AS (
        SELECT d.qid, e.id,
          CAST(SUM(CAST(round(d.d2, 6) AS DECIMAL(28,8))) AS DOUBLE) AS adc
        FROM enc e
        JOIN lists l ON l.id = e.id
        JOIN probes pr ON pr.cid = l.cid
        JOIN dtable d ON e.subspace = d.subspace AND e.code = d.code
          AND d.qid = pr.qid
        GROUP BY d.qid, e.id),
      cand AS (
        SELECT qid, id FROM (
          SELECT qid, id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, id) AS rank
          FROM adc) WHERE rank <= 64),
      a AS (
        SELECT id AS qid, label AS qlabel, vec AS qvec
        FROM corpus WHERE id < 20),
      scored AS (
        SELECT a.qid, a.qlabel, c.id, c.label,
          list_dot_product(c.vec, a.qvec)
            / (sqrt(list_dot_product(c.vec, c.vec))
              * sqrt(list_dot_product(a.qvec, a.qvec))) AS sim
        FROM cand JOIN corpus c ON cand.id = c.id JOIN a ON cand.qid = a.qid
        WHERE c.id <> a.qid),
      pos AS (
        SELECT qid, qlabel, id AS pos_id, sim AS pos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, id) AS rn
          FROM scored WHERE label = qlabel) WHERE rn = 1),
      neg AS (
        SELECT qid, id AS neg_id, sim AS neg_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, id) AS rn
          FROM scored WHERE label <> qlabel) WHERE rn = 1)
      SELECT qid, qlabel, pos_id, pos_sim, neg_id, neg_sim,
        pos_sim - neg_sim AS margin
      FROM pos JOIN neg USING (qid)
    """))

  /** SQ8 (int8 scalar quantization) ADC TOP-K SEARCH — the search half of
    * q73's per-dimension min/max codec, completing the third quantizer
    * family next to PQ (q117) and the rotation-augmented OPQ: each corpus
    * vector is 8-bit-coded per dim (4× smaller than float32, 8× smaller
    * than the doubles PQ trains on), DECODED to the code midpoint grid on
    * the fly, and scored against the EXACT query vector by dot product —
    * asymmetric distance computation, so only the corpus side pays
    * quantization error. Shapes: the 64×2 min/max stats row is one
    * mergeable aggregate broadcast everywhere (per-dim bounds never grow
    * with rows); encode+decode is a map-side transform; the scan is the
    * q33 broadcast-query shape with the only wide exchange the k-row
    * per-qid top-k. At 100 TB the same codes drop into the IVF tier
    * (q120's inverted lists bound the scan set; SQ8 replaces PQ books
    * when recall matters more than compression). Full oracle: quantize /
    * decode / dot are identical-order IEEE chains (the q73 + q33 parity
    * recipes composed); rank ties broken by id. QualityGuardSpec floors
    * recall@10 against the exact scan. */
  lazy val q205Sq8AdcTopK: Q = Q(
    "q205_sq8_adc_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val stats = e
        .select(posexplode(col("embedding")).as(Seq("pos", "xf")))
        .select(col("pos"), col("xf").cast("double").as("x"))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(
          transform(sort_array(collect_list(struct(col("pos"), col("mn")))),
            t => t.getField("mn")).as("mns"),
          transform(sort_array(collect_list(struct(col("pos"), col("mx")))),
            t => t.getField("mx")).as("mxs"))
      val dec = e.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .crossJoin(broadcast(stats))
        .select(col("id"),
          transform(sequence(lit(1), size(col("vec"))), i => {
            val x = element_at(col("vec"), i)
            val mn = element_at(col("mns"), i)
            val mx = element_at(col("mxs"), i)
            val code = when(mx === mn, lit(0L)).otherwise(
              least(floor((x - mn) / (mx - mn) * 255.0), lit(255.0))
                .cast("long"))
            mn + code.cast("double") * (mx - mn) / lit(255.0)
          }).as("dec"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("id"))
      dec.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .withColumn("adc", Similarity.dot(col("dec"), col("qvec")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("id"), col("rank").cast("long").as("rank"),
          col("adc"))
    },
    Some("""
      WITH dims AS (
        SELECT unnest(embedding::DOUBLE[]) AS x,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
      ), stats AS (
        SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY pos
      ), arrs AS (
        SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats
      ), dec AS (
        SELECT vec_id AS id,
          list_transform(generate_series(1, len(embedding)),
            i -> mns[i] + CAST(CASE WHEN mxs[i] = mns[i] THEN 0
                 ELSE CAST(least(floor((embedding[i]::DOUBLE - mns[i])
                        / (mxs[i] - mns[i]) * 255.0), 255.0) AS BIGINT) END
                 AS DOUBLE) * (mxs[i] - mns[i]) / 255.0) AS dec
        FROM embeddings, arrs
      ), q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        FROM embeddings WHERE vec_id < 10
      ), scored AS (
        SELECT q.qid, d.id, list_dot_product(d.dec, q.qvec) AS adc
        FROM dec d CROSS JOIN q WHERE d.id <> q.qid
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc DESC, id) AS rank
        FROM scored)
      SELECT qid, id, CAST(rank AS BIGINT) AS rank, adc
      FROM ranked WHERE rank <= 10
    """))

  /** RECIPROCAL RANK FUSION — the standard hybrid-retrieval combiner
    * (Cormack et al.): a LEXICAL arm (q143's BM25 over the three-term
    * query, documents table) and a SEMANTIC arm (q33's exact cosine
    * against query vector 0, embeddings table, doc_id = vec_id bridge)
    * each produce a top-50 ranking; fused score = Σ 1/(60+rank) over the
    * arms that retrieved the doc. RRF needs only each arm's RANKS — no
    * score normalization across incomparable scales, which is why it is
    * the default fuser in hybrid search stacks. Scale shape: each arm is
    * an orderBy+limit that plans as TakeOrderedAndProject (never a global
    * sort); the only windows run over the ≤50-row retrieved lists; the
    * fusion join touches ≤100 rows. Determinism: ranks are integers from
    * bit-stable scores (q143's e-notation double chain; q33's fold
    * cosine), and 1/(60+r) sums in a fixed two-term order. */
  lazy val q206RrfFusion: Q = Q(
    "q206_rrf_fusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // lexical arm — q143's BM25, summed in fixed per-term order
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total"))
      val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val qterms = s.range(1).select(
        explode(typedLit(Seq("spark", "join", "window"))).as("term"))
      val avgdl = col("total").cast("double") / col("n_docs")
      val bm = tf.join(broadcast(qterms), Seq("term"))
        .join(broadcast(dft), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("score_t",
          (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)) *
            ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .groupBy(col("doc_id")).agg(
          max(when(col("term") === "spark", col("score_t"))).as("s1"),
          max(when(col("term") === "join", col("score_t"))).as("s2"),
          max(when(col("term") === "window", col("score_t"))).as("s3"))
        .select(col("doc_id").as("id"),
          (coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))
            + coalesce(col("s3"), lit(0.0))).as("bm25"))
      val lex = bm.orderBy(col("bm25").desc, col("id")).limit(50)
        .withColumn("r_lex", row_number()
          .over(Window.orderBy(col("bm25").desc, col("id"))).cast("long"))
        .select(col("id"), col("r_lex"))
      // semantic arm — q33's exact cosine vs query vector 0
      val c = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val qv = c.filter(col("id") === 0).select(col("vec").as("qvec"))
      val sem = c.crossJoin(broadcast(qv)).filter(col("id") =!= 0)
        .withColumn("sim", Similarity.cosine(col("vec"), col("qvec")))
        .orderBy(col("sim").desc, col("id")).limit(50)
        .withColumn("r_sem", row_number()
          .over(Window.orderBy(col("sim").desc, col("id"))).cast("long"))
        .select(col("id"), col("r_sem"))
      lex.join(sem, Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)))
        .orderBy(col("rrf").desc, col("id")).limit(20)
        .select(col("id"), col("r_lex"), col("r_sem"), col("rrf"))
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
        SELECT tf.doc_id, tf.term,
          (tf.tf * 2.2e0)
            / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / (CAST(stats.total AS DOUBLE) / stats.n_docs)))
            * ((stats.n_docs - df.df + 0.5e0) / (df.df + 0.5e0)) AS score_t
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        WHERE tf.term IN ('spark', 'join', 'window')),
      bm AS (
        SELECT doc_id AS id,
          COALESCE(MAX(CASE WHEN term = 'spark' THEN score_t END), 0.0e0)
            + COALESCE(MAX(CASE WHEN term = 'join' THEN score_t END), 0.0e0)
            + COALESCE(MAX(CASE WHEN term = 'window' THEN score_t END), 0.0e0) AS bm25
        FROM scored GROUP BY doc_id),
      lex AS (
        SELECT id, r_lex FROM (
          SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS BIGINT) AS r_lex
          FROM bm) WHERE r_lex <= 50),
      c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      qv AS (SELECT vec AS qvec FROM c WHERE id = 0),
      sem AS (
        SELECT id, r_sem FROM (
          SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, id) AS BIGINT) AS r_sem
          FROM (
            SELECT c.id, list_dot_product(c.vec, qv.qvec)
              / (sqrt(list_dot_product(c.vec, c.vec))
                * sqrt(list_dot_product(qv.qvec, qv.qvec))) AS sim
            FROM c, qv WHERE c.id <> 0)) WHERE r_sem <= 50)
      SELECT COALESCE(l.id, s.id) AS id, l.r_lex, s.r_sem,
        COALESCE(1.0e0 / (60 + l.r_lex), 0.0e0)
          + COALESCE(1.0e0 / (60 + s.r_sem), 0.0e0) AS rrf
      FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
      ORDER BY rrf DESC, id LIMIT 20
    """))

  /** MMR DIVERSIFIED RETRIEVAL — [[Similarity.mmrTopKFused]] over the q33
    * query set: exact top-30 candidate pool per query, then the greedy
    * λ=0.7 marginal-relevance re-rank down to 10. The iterative greedy
    * argmax is not SQL-expressible (each pick conditions on the previous
    * picks), so the driver records rows-only; correctness is pinned in
    * MmrSpec instead — bit-equality against a sequential reference
    * implementation, the λ=1 ≡ plain-top-k reduction, and a
    * planted-duplicate test where MMR must skip the redundant cluster.
    * Scale: pool generation is the only corpus-sized step (swap in the
    * IVF×PQ candidate source at 100 TB — q196's pattern); the re-rank
    * itself is data-independent: one qid-keyed aggregation runs the
    * greedy inside the Aggregator buffer (~5× less scheduling overhead
    * than k checkpointed join rounds). */
  lazy val q217MmrRerank: Q = Q(
    "q217_mmr_rerank",
    (s, dir) => Similarity.mmrTopKFused(corpus(s, dir), queriesDf(s, dir),
      k = 10, poolSize = 30, lambda = 0.7),
    None)

  /** SIMPLIFIED SILHOUETTE — is the q92 clustering any GOOD? The
    * centroid-based silhouette (a = distance to own centroid, b = distance
    * to the nearest OTHER centroid, s = (b−a)/max(a,b)) — the O(n·k)
    * form production uses at scale because the textbook pairwise
    * silhouette is O(n²). Clustering protocol = exactly q92's first
    * update (assign → update → the cents1 the second pass would use), so
    * the two queries audit the same model. Per-point distances are the
    * bit-stable sqDist chain (fused native expression ≡ dot−2dot+dot,
    * the q33/q92 recipe), √ is correctly-rounded IEEE, per-point s
    * rounds @9 into DECIMAL so per-cluster means are exact sums over
    * identical terms. One broadcast-centroid scan + one keyed argmin —
    * the q92 cost shape. */
  val q260Silhouette: Q = Q(
    "q260_silhouette",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val init = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val cents1 = Similarity.kmeansUpdate(Similarity.kmeansAssign(corpus, init))
      val d = corpus.crossJoin(broadcast(cents1))
        .select(col("id"), col("cid"),
          Similarity.sqDist(col("vec"), col("cvec")).as("d2"))
      val two = d.groupBy(col("id"))
        .agg(slice(sort_array(collect_list(struct(col("d2"), col("cid")))),
          1, 2).as("t2"))
        .select(col("id"),
          element_at(col("t2"), 1).getField("cid").as("cluster"),
          // clamp: the dot-product identity can go fractionally negative by
          // cancellation when a point ~coincides with a centroid; sqrt(-ε)
          // would be NaN and poison the cluster mean (oracle mirrors)
          sqrt(greatest(element_at(col("t2"), 1).getField("d2"), lit(0.0))).as("a"),
          sqrt(greatest(element_at(col("t2"), 2).getField("d2"), lit(0.0))).as("b"))
      val sPoint = when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
      two.select(col("cluster"),
          round(sPoint, 9).cast(DecimalType(18, 9)).as("s"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          (sum(col("s")).cast("double") / count(lit(1))).as("mean_silhouette"))
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents0 AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8),
      d0 AS (
        SELECT c.id, c.vec, k.cid,
          list_dot_product(c.vec, c.vec) - 2 * list_dot_product(c.vec, k.cvec)
            + list_dot_product(k.cvec, k.cvec) AS d2
        FROM corpus c CROSS JOIN cents0 k),
      a0 AS (
        SELECT id, vec, cid FROM (
          SELECT id, vec, cid,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
          FROM d0) WHERE rn = 1),
      exp0 AS (
        SELECT cid, generate_subscripts(vec, 1) AS dim, unnest(vec) AS comp
        FROM a0),
      comp0 AS (
        SELECT cid, dim,
          CAST(SUM(CAST(round(comp, 7) AS DECIMAL(28,10))) AS DOUBLE)
            / COUNT(*) AS c
        FROM exp0 GROUP BY cid, dim),
      cents1 AS (SELECT cid, list(c ORDER BY dim) AS cvec FROM comp0 GROUP BY cid),
      d1 AS (
        SELECT c.id, k.cid,
          list_dot_product(c.vec, c.vec) - 2 * list_dot_product(c.vec, k.cvec)
            + list_dot_product(k.cvec, k.cvec) AS d2
        FROM corpus c CROSS JOIN cents1 k),
      two AS (
        SELECT id,
          MAX(CASE WHEN rn = 1 THEN cid END) AS cluster,
          sqrt(greatest(MAX(CASE WHEN rn = 1 THEN d2 END), 0)) AS a,
          sqrt(greatest(MAX(CASE WHEN rn = 2 THEN d2 END), 0)) AS b
        FROM (
          SELECT id, cid, d2,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
          FROM d1) WHERE rn <= 2
        GROUP BY id),
      pts AS (
        SELECT cluster,
          CAST(round(CASE WHEN greatest(a, b) = 0.0 THEN 0.0
            ELSE (b - a) / greatest(a, b) END, 9) AS DECIMAL(18,9)) AS s
        FROM two)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
        CAST(SUM(s) AS DOUBLE) / COUNT(*) AS mean_silhouette
      FROM pts GROUP BY cluster
    """))

  /** CLUSTER–LABEL NMI — how much does the unsupervised clustering KNOW
    * about the ground-truth labels? Normalized mutual information between
    * the q150 nearest-centroid assignment and the embeddings' `label`
    * column: NMI = I(C;L)/√(H(C)·H(L)) — the external clustering-quality
    * score that, unlike accuracy, needs no cluster↔label matching. All
    * three count tables from one assignment scan (the q211 discipline:
    * per-cell terms round@6 into DECIMAL so the sums are exact); the
    * cell grid is |clusters|×|labels|, support-bounded. */
  val q261ClusterNmi: Q = Q(
    "q261_cluster_nmi",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val all0 = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      val cents = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("cvec"))
      val assigned = Similarity.assignNearestCentroid(all0, cents)
        .select(col("id"), col("cid"))
      val c = assigned
        .join(emb.select(col("vec_id").as("id"), col("label")), Seq("id"))
        .select(col("cid").as("x"), col("label").cast("long").as("y"))
        .barrier() // feeds all three count tables
      val nxy = c.groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      val nx = c.groupBy(col("x")).agg(count(lit(1)).as("n_x"))
      val ny = c.groupBy(col("y")).agg(count(lit(1)).as("n_y"))
      val tot = c.agg(count(lit(1)).as("n"))
      val dd = (cc: org.apache.spark.sql.Column) => cc.cast("double")
      val mi = nxy.join(broadcast(nx), Seq("x")).join(broadcast(ny), Seq("y"))
        .crossJoin(broadcast(tot))
        .select(round((dd(col("n_xy")) / dd(col("n")))
          * log((dd(col("n_xy")) * dd(col("n"))) / (dd(col("n_x")) * dd(col("n_y")))),
          6).cast(DecimalType(18, 6)).as("term"))
        .agg(sum(col("term")).cast("double").as("mi"))
      def entropy(cnt: org.apache.spark.sql.DataFrame, ccol: String, out: String) =
        cnt.crossJoin(broadcast(tot))
          .select(round(-(dd(col(ccol)) / dd(col("n")))
            * log(dd(col(ccol)) / dd(col("n"))), 6)
            .cast(DecimalType(18, 6)).as("term"))
          .agg(sum(col("term")).cast("double").as(out))
      val hx = entropy(nx, "n_x", "hx")
      val hy = entropy(ny, "n_y", "hy")
      val counts = c.agg(count(lit(1)).as("n"),
        countDistinct(col("x")).as("n_clusters"),
        countDistinct(col("y")).as("n_labels"))
      counts.crossJoin(broadcast(mi)).crossJoin(broadcast(hx))
        .crossJoin(broadcast(hy))
        .select(col("n"), col("n_clusters"), col("n_labels"),
          col("mi"), round(col("hx"), 6).as("h_cluster"),
          round(col("hy"), 6).as("h_label"),
          round(col("mi") / sqrt(col("hx") * col("hy")), 6).as("nmi"))
    },
    Some("""
      WITH c0 AS (
        SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id % 100 = 0),
      assigned AS (
        SELECT id, cid FROM (
          SELECT id, cid,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY
              list_dot_product(vec, cvec)
                / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(cvec, cvec)))
              DESC, cid) AS rn
          FROM c0 CROSS JOIN cents)
        WHERE rn = 1),
      c AS (
        SELECT a.cid AS x, CAST(e.label AS BIGINT) AS y
        FROM assigned a JOIN embeddings e ON a.id = e.vec_id),
      nxy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_xy FROM c GROUP BY 1, 2),
      nx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x FROM c GROUP BY 1),
      ny AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_y FROM c GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
      mi AS (
        SELECT CAST(SUM(CAST(round((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
            * ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
              / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6)
          AS DECIMAL(18,6))) AS DOUBLE) AS mi
        FROM nxy JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN tot),
      hx AS (
        SELECT CAST(SUM(CAST(round(-(CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE))
            * ln(CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE)), 6)
          AS DECIMAL(18,6))) AS DOUBLE) AS hx
        FROM nx CROSS JOIN tot),
      hy AS (
        SELECT CAST(SUM(CAST(round(-(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE))
            * ln(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE)), 6)
          AS DECIMAL(18,6))) AS DOUBLE) AS hy
        FROM ny CROSS JOIN tot),
      counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          COUNT(DISTINCT x) AS n_clusters, COUNT(DISTINCT y) AS n_labels
        FROM c)
      SELECT n, n_clusters, n_labels, mi,
        round(hx, 6) AS h_cluster, round(hy, 6) AS h_label,
        round(mi / sqrt(hx * hy), 6) AS nmi
      FROM counts, mi, hx, hy
    """))

  /** RETRIEVAL EVAL HARNESS (recall@10 / MRR / NDCG@10) — the measurement
    * operator that closes the ANN tier: score q56's IVF ranking against
    * q33's exact brute-force truth, per query, with the three metrics
    * every retrieval deployment tracks. Both rankings are deterministic
    * oracle-checked queries already, so the EVAL is oracle-checkable too
    * — the DuckDB twin re-derives truth, index, probes, candidates, and
    * the metric arithmetic. Gains 1/log₂(rank+1) are transcendentals of
    * identical small-int inputs rounded @9 into DECIMAL sums (the q127
    * rule). Everything is |queries|×k-sized after the two ANN passes. */
  val q262RetrievalEval: Q = Q(
    "q262_retrieval_eval",
    (s, dir) => {
      val cents = t(s, dir, "embeddings")
        .filter(col("vec_id") % 31 === 0 && col("vec_id") < 31 * 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val truth = Similarity.bruteForceTopK(corpus(s, dir), queriesDf(s, dir), 10)
        .select(col("qid"), col("id"), col("rank").as("rank_t"))
        .barrier() // joined AND idcg sides
      val ann = Similarity.ivfTopK(corpus(s, dir), queriesDf(s, dir), cents, 10,
        nProbe = 2)
        .select(col("qid"), col("id"), col("rank").as("rank_a"))
      val gain = (r: org.apache.spark.sql.Column) =>
        round(lit(1.0) / log2(r.cast("double") + 1.0), 9).cast(DecimalType(18, 9))
      val joined = ann.join(truth, Seq("qid", "id"), "left")
      val perQ = joined.groupBy(col("qid")).agg(
        countIf(col("rank_t").isNotNull).as("hits"),
        (countIf(col("rank_t").isNotNull).cast("double") / 10.0).as("recall10"),
        coalesce(max(when(col("rank_t") === 1,
          lit(1.0) / col("rank_a").cast("double"))), lit(0.0)).as("mrr"),
        sum(when(col("rank_t").isNotNull, gain(col("rank_a")))
          .otherwise(lit(0.0).cast(DecimalType(18, 9)))).as("dcg"))
      val idcg = truth.groupBy(col("qid"))
        .agg(sum(gain(col("rank_t"))).as("idcg"))
      perQ.join(idcg, Seq("qid"))
        .select(col("qid"), col("hits"), col("recall10"),
          round(col("mrr"), 6).as("mrr"),
          round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
            .as("ndcg10"))
    },
    Some("""
      WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
            FROM embeddings WHERE vec_id < 5),
      k AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
        WHERE vec_id % 31 = 0 AND vec_id < 31 * 64),
      truth AS (
        SELECT qid, id, CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, id) AS BIGINT) AS rank_t
        FROM (
          SELECT qid, id,
            list_dot_product(qvec, vec)
              / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) AS sim
          FROM c, q WHERE id <> qid)
        QUALIFY rank_t <= 10),
      assigned AS (
        SELECT id, cid, vec FROM (
          SELECT c.id, k.cid, c.vec,
            ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
              list_dot_product(c.vec, k.cvec)
                / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(k.cvec, k.cvec)))
              DESC, k.cid) AS rn
          FROM c CROSS JOIN k) WHERE rn = 1),
      probes AS (
        SELECT qid, qvec, cid FROM (
          SELECT q.qid, q.qvec, k.cid,
            ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
              list_dot_product(q.qvec, k.cvec)
                / (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(k.cvec, k.cvec)))
              DESC, k.cid) AS rn
          FROM q CROSS JOIN k) WHERE rn <= 2),
      ann AS (
        SELECT qid, id, CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, id) AS BIGINT) AS rank_a
        FROM (
          SELECT p.qid, a.id,
            list_dot_product(p.qvec, a.vec)
              / (sqrt(list_dot_product(p.qvec, p.qvec)) * sqrt(list_dot_product(a.vec, a.vec))) AS sim
          FROM assigned a JOIN probes p USING (cid)
          WHERE a.id <> p.qid)
        QUALIFY rank_a <= 10),
      joined AS (
        SELECT ann.qid, ann.rank_a, truth.rank_t
        FROM ann LEFT JOIN truth ON ann.qid = truth.qid AND ann.id = truth.id),
      perq AS (
        SELECT qid,
          CAST(SUM(CASE WHEN rank_t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
          CAST(SUM(CASE WHEN rank_t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            / 10.0 AS recall10,
          COALESCE(MAX(CASE WHEN rank_t = 1
            THEN 1.0 / CAST(rank_a AS DOUBLE) END), 0.0) AS mrr,
          SUM(CASE WHEN rank_t IS NOT NULL
            THEN CAST(round(1.0 / log2(CAST(rank_a AS DOUBLE) + 1.0), 9)
              AS DECIMAL(18,9))
            ELSE CAST(0.0 AS DECIMAL(18,9)) END) AS dcg
        FROM joined GROUP BY qid),
      idcg AS (
        SELECT qid, SUM(CAST(round(1.0 / log2(CAST(rank_t AS DOUBLE) + 1.0), 9)
          AS DECIMAL(18,9))) AS idcg
        FROM truth GROUP BY qid)
      SELECT perq.qid, hits, recall10,
        round(mrr, 6) AS mrr,
        round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg10
      FROM perq JOIN idcg ON perq.qid = idcg.qid
    """))

  val all: Seq[Q] = Seq(
    q33CosineTopK, q34AnnLsh, q35VectorStats, q36LabelCentroids, q56AnnIvf,
    q57EmbedNearDup, q73QuantizeEmbeddings, q88SemDedup, q92Kmeans, q117PqAdcTopK,
    q118ClusterBalancedSample, q120IvfPqTopK, q121IvfPqRefine, q122IvfPqResidual,
    q123IvfPqResidualRefine, q124IvfPqPersisted, q125AnnRetrainPromote,
    q128ContrastivePairs, q133RandomProjection, q140EmbeddingDrift,
    q150ClusterLabels, q172PcaSpectrum, q191MatryoshkaEval, q194HardNegatives,
    q196HardNegativesAnn, q205Sq8AdcTopK, q206RrfFusion, q217MmrRerank,
    q260Silhouette, q261ClusterNmi, q262RetrievalEval)
}
