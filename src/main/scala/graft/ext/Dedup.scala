package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash-LSH,
  * and exact-Jaccard verification.
  *
  * Scale design:
  *  - Exact dedup is one hash groupBy on the (cheap, pre-computed) key —
  *    the canonical 100 TB dedup pass.
  *  - MinHash-LSH avoids the O(n²) pair explosion: signatures are computed
  *    scan-side by a native expression (no UDF), candidates come from one
  *    aggregate per (band, bucket) ([[bucketPairs]]) — shuffle keyed on the
  *    bucket hash, so only colliding docs ever meet. Band count × rows
  *    bounds the explode factor.
  *  - Exact Jaccard verifies candidates — native overlap counting on
  *    distinct token sets.
  */
object Dedup {

  /** Canonical text normalization for exact dedup. */
  def normalized(text: Column): Column = lower(trim(text))

  /** Exact dedup: one row per distinct key with representative id + dup
    * count. `keep` must be an ordering-safe representative (min id). */
  def exact(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** 3-word shingles of the token array (w-shingling). */
  def shingles(toks: Column, w: Int = 3): Column =
    when(size(toks) < w, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))

  /** Exact Jaccard similarity of two distinct-token-set columns — native
    * overlap-counting expression (same exact values as the
    * intersect/union formulation, no per-pair array materialization). */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.JaccardSim.jaccardSim(a, b)

  /** Default document-frequency threshold above which a prefix token is
    * routed through the salted (chunked-asymmetric) join in
    * [[prefixJaccardPairs]]/[[dedupComponents]]: postings of 64k+ docs mean
    * up to ~2×10⁹ candidate pairs from ONE join key — far past the point
    * where one task should own a key — while corpora without such tokens
    * keep the pure symmetric plan (the probe finds no hot token). */
  val AutoSaltMinPostings: Long = 65536L

  /** Per-tile pair ceiling for the hot-token 2-D grid decomposition in
    * [[prefixJaccardPairs]]/[[dedupComponents]] (r18 — the knnGraph
    * [[graft.plans.Salt.tiledPairJoin]] budget applied to the PPJoin hot
    * branch): a hot token with df postings splits into ⌈df/√budget⌉² tiles
    * of ≤ 4M row-pairs each — the positional prefilter then prunes inside
    * each tile. At the dial threshold (df = 64k) that is 32×32 tiles,
    * each ~2 s of merge-verify work; per-task pair work is bounded by the
    * budget NO MATTER how hot the token, where the former fixed-chunk
    * salting still held m²/chunks (quadratic in the postings). */
  val HotPairBudget: Long = 4L * 1024 * 1024

  /** End-to-end MinHash-LSH near-dup candidate pairs on [[PortableHash]]'s
    * modular-BIGINT family (token fold → shingle chain → k seeded mixes →
    * band chain), verified with exact Jaccard ≥ `threshold`. Output:
    * (id_a, id_b, jaccard), id_a < id_b. Every signature and bucket is
    * re-derivable by an ANSI engine, so the FULL pair set (not just the
    * verified-Jaccard semantics) is oracle-checkable (q31). The signature
    * is the NATIVE fused [[graft.functions.PortableMinHashSig]] (one
    * codegen'd pass; the Column composition is interpreted and
    * CollapseProject clones it per seed — measured 4× q31's budget),
    * spec-pinned bit-equal to the Column reference in `PortableHashRefs`.
    *
    * Shaped for scale:
    *  1. candidate pairs are integer-only — token arrays are NOT carried
    *     through the bucket aggregate;
    *  2. pairs are deduplicated BEFORE Jaccard, so a pair colliding in
    *     several bands is verified once, not `bands` times;
    *  3. degenerate buckets (> `maxBucketSize` docs — e.g. boilerplate
    *     shingles) are dropped, bounding any bucket's pair blow-up at
    *     maxBucketSize²/2; the standard LSH cap, trades bounded recall loss
    *     on pathological buckets for a hard cost ceiling.
    *  4. the band table feeds one branch, the [[bucketPairs]] aggregate,
    *     so the signature scan runs once and nothing is materialized.
    */
  def minhashNearDupsPortable(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, threshold: Double = 0.6,
      maxBucketSize: Int = 500): DataFrame = {
    val toksOf = df.select(
      col(idCol).as("id"),
      array_distinct(split(normalized(col(textCol)), " ")).as("toks"))
    val buckets = df
      .select(col(idCol).as("id"),
        graft.functions.PortableHashSig.portableMinhashSig(
          split(normalized(col(textCol)), " "), k).as("sig"))
      .select(explode(PortableHash.lshBands(col("sig"), k, bands)).as("bucket"), col("id"))
    bucketPairs(buckets, maxBucketSize)
      .join(toksOf.select(col("id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(toksOf.select(col("id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
      // fence (r19): single merge per candidate — see repStructure
      .select(col("id_a"), col("id_b"), graft.functions.EvalFence.fence(
        jaccard(col("toks_a"), col("toks_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH candidate pairs from ONE aggregate per non-null bucket, no
    * self-join: (bucket, id) rows → distinct (id_a, id_b), id_a < id_b.
    * The aggregate counts each bucket's rows (null and repeated ids too)
    * and keeps its `maxBucketSize + 1` smallest long ids
    * ([[graft.functions.BottomKPairs]]); a bucket of fewer than 2 or more
    * than `maxBucketSize` rows yields no pair. */
  private[graft] def bucketPairs(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    membersToPairs(buckets.filter(col("bucket").isNotNull).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), graft.functions.BottomKPairs.bottomkPairs(
        col("id"), col("id"), maxBucketSize + 1).as("members"))
      .filter(col("n").between(2, maxBucketSize)), Seq("id"))

  /** Uncapped [[bucketPairs]] carrying a payload: (bucket, id, payload) →
    * distinct (id_a, id_b, payload_a, payload_b), from each bucket's
    * sorted (id, payload) members. */
  private[graft] def bucketPayloadPairs(buckets: DataFrame): DataFrame =
    membersToPairs(buckets.filter(col("bucket").isNotNull).groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(col("id"), col("payload")))).as("members")),
      Seq("id", "payload"))

  /** Each id-sorted member against the ones after it; `id_a < id_b` also
    * drops repeated and null ids. */
  private def membersToPairs(grouped: DataFrame, fields: Seq[String]): DataFrame =
    grouped.select(posexplode(col("members")).as(Seq("i", "a")), col("members"))
      .select(col("a"), explode(slice(col("members"), col("i") + 2, size(col("members")))).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(fields.flatMap(f => Seq(col(s"a.$f").as(s"${f}_a"), col(s"b.$f").as(s"${f}_b"))): _*)
      .distinct()

  /** HYBRID text + embedding dedup clustering: near-dup edges from BOTH
    * modalities — exact token-set Jaccard ≥ `textThreshold` (PPJoin
    * prefix-filtered, [[prefixJaccardPairs]]) and exact embedding cosine ≥
    * `cosThreshold` within nearest-centroid clusters (the SemDeDup pair
    * stage, [[graft.ext.Similarity.cosinePairsWithinClusters]]) — unioned
    * into one graph and resolved with connected components. Catches what
    * either modality alone misses: verbatim copies with re-computed
    * embeddings, and paraphrases/translations whose token sets share
    * nothing.
    *
    * Every stage is deterministic (PPJoin is lossless-exact; centroid
    * assignment argmax has an id tiebreak) ⇒ the full pipeline is
    * exact-oracle-checkable, unlike LSH-bucketed fusion. Scale: each edge
    * generator keeps its own audited shape (no quadratic stage; cluster-
    * bounded pair search), CC runs on the union — rounds O(log diameter).
    * Input: (id, text, vec); output: (id, component). */
  def hybridDedup(df: DataFrame, centroids: DataFrame,
      textThreshold: Double, cosThreshold: Double): DataFrame = {
    val textPairs = prefixJaccardPairs(
        df.select(col("id"), col("text")), "id", "text", textThreshold)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    // pin (r18): the fused assignment is a pure projection and feeds both
    // sides of the cluster-keyed pair self-join
    val assigned = graft.ext.Similarity.assignNearestCentroid(
      df.select(col("id"), col("vec")), centroids).barrier()
    val embPairs = graft.ext.Similarity.cosinePairsWithinClusters(assigned, cosThreshold)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    Components.connectedComponents(
      df.select(col("id")), textPairs.unionByName(embPairs))
      .select(col("id"), col("comp").as("component"))
  }

  /** Persisted PREFIX-POSTINGS INDEX for EXACT incremental admission
    * ([[incrementalNearDupExact]]): `(postings, vocab)`.
    *
    *  - `vocab` (tok, tid): the corpus vocabulary with DENSE INTEGER ids
    *    ranked by (document frequency over unique sets, token) ascending —
    *    it FIXES the shared total order (rarest first) that both the index
    *    and every future batch sort by. The PPJoin ordering step,
    *    persisted: prefixes then hold the corpus's RARE tokens, whose
    *    postings lists are tiny by construction, and every set becomes one
    *    ascending long array (narrow shuffles, allocation-free
    *    sorted-merge verification — the [[prefixJaccardPairs]] step-2
    *    machinery as a maintained artifact).
    *  - `postings` (tid, p, n, itoks): one row per (prefix token id,
    *    unique set), the set's full ordered id array carried inline so
    *    verification never re-reads corpus text. Only UNIQUE sets are
    *    indexed (the identical-set collapse): admission needs ANY ≥t
    *    match, so duplicate corpus docs add nothing but candidates.
    *
    * Both are the maintained artifacts of a growing corpus — admitted
    * batches append their postings and extend the vocabulary. */
  def prefixIndex(existing: DataFrame, idCol: String, textCol: String,
      threshold: Double): (DataFrame, DataFrame) = {
    // lazy checkpoint (materializes once at the first action, no extra job
    // barrier): sid must be stable across the vocab and postings branches
    // (monotonically_increasing_id is partition-layout-dependent)
    val sets = existing.select(
        array_sort(array_distinct(split(normalized(col(textCol)), " "))).as("stoks"))
      .groupBy(col("stoks")).agg(count(lit(1)).as("cnt"))
      .select(col("stoks"), monotonically_increasing_id().as("sid"))
      .barrier()
    val vocab = distributedDenseRank(
        sets.select(explode(col("stoks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .barrier(),
        Seq(col("df"), col("tok")), "tid")
      .select(col("tok"), col("tid"))
    (orderedPrefixPostings(sets, "sid", vocab, threshold).drop("sid"), vocab)
  }

  /** Map each set's tokens to the vocab's dense ids — batch-only tokens
    * get NEGATIVE ids (ranked by token), so they sort FIRST, consistent
    * with df = 0 being the rarest; they cannot collide with corpus
    * prefixes, and within a batch they are the best discriminators — then
    * explode the Jaccard prefix: (keyCol, tid, p, n, itoks). */
  private def orderedPrefixPostings(sets: DataFrame, keyCol: String,
      vocab: DataFrame, threshold: Double): DataFrame = {
    val unseen = distributedDenseRank(
        sets.select(explode(col("stoks")).as("tok")).distinct()
          .join(vocab.select("tok"), Seq("tok"), "left_anti")
          .barrier(),
        Seq(col("tok")), "urank")
      .select(col("tok"), (-col("urank")).as("tid"))
    val lookup = vocab.select(col("tok"), col("tid")).unionByName(unseen)
    sets.select(col(keyCol), explode(col("stoks")).as("tok"))
      .join(lookup, Seq("tok"))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(col("tid"))).as("itoks"))
      .withColumn("n", size(col("itoks")))
      .withColumn("plen", (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
      .select(col(keyCol), col("n"), col("itoks"),
        posexplode(slice(col("itoks"), lit(1), col("plen"))).as(Seq("pos", "tid")))
      .select(col(keyCol), col("tid"), (col("pos") + 1).as("p"), col("n"), col("itoks"))
  }

  /** EXACT incremental near-dup admission — [[incrementalExact]]'s
    * contract lifted from exact keys to near-duplicates, with a LOSSLESS
    * candidate generator: the batch probes the corpus's persisted
    * [[prefixIndex]], never re-reading existing documents. By the
    * prefix lemma every pair with Jaccard ≥ `threshold` shares a token
    * inside both prefixes (under the index's fixed df order), so the
    * admission decision is EXACTLY "keep iff no existing doc and no
    * lower-id batch doc with Jaccard ≥ threshold" — brute-force-derivable
    * by an oracle, zero recall loss.
    *
    * Scale shape, mirroring [[prefixJaccardPairs]]: identical-set
    * collapse on the batch (dup-heavy batches shrink quadratically; the
    * index already holds unique sets only), candidates ∝ postings² over
    * RARE prefix tokens, size + positional prefilters (only-false-keep)
    * ahead of every exact-Jaccard verify, existing docs never re-read
    * (their ordered token arrays live in the postings). Within-batch
    * admission runs on cluster representatives: non-min members of a
    * cluster always drop (J = 1 with their min), and a cluster min drops
    * iff a verified ≥t cluster with a smaller min exists — exactly the
    * "lower-id member of a verified pair" rule on the expanded docs. */
  def incrementalNearDupExact(
      incoming: DataFrame, postings: DataFrame, vocab: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.6): DataFrame = {
    val alpha = threshold / (1.0 + threshold)
    val clusters = incoming.select(col(idCol).as("id"),
        array_sort(array_distinct(split(normalized(col(textCol)), " "))).as("stoks"))
      .groupBy(col("stoks")).agg(collect_list(col("id")).as("members"))
      .withColumn("rid", array_min(col("members")))
      .barrier()
    val inPost = orderedPrefixPostings(
        clusters.select(col("rid"), col("stoks")), "rid", vocab, threshold)
      .barrier()
    def verified(pairs: DataFrame): DataFrame = pairs
      .filter(col("n_a") >= col("n_b") * threshold && col("n_b") >= col("n_a") * threshold)
      .filter(lit(1) + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")) >=
        lit(alpha) * (col("n_a") + col("n_b")) - lit(1e-9))
      .filter(graft.functions.SortedJaccard.sortedJaccard(
        col("toks_a"), col("toks_b")) >= threshold)
    // vs corpus: any verified match kills the whole batch cluster
    val dupOfOld = verified(
        inPost.select(col("tid"), col("rid"), col("p").as("p_a"), col("n").as("n_a"),
            col("itoks").as("toks_a"))
          .join(postings.select(col("tid"), col("p").as("p_b"),
            col("n").as("n_b"), col("itoks").as("toks_b")), Seq("tid")))
      .select(col("rid")).distinct()
    // within the batch, on cluster reps: the larger rid's cluster min drops
    val repDropped = verified(
        inPost.select(col("tid"), col("rid").as("rid_a"), col("p").as("p_a"),
            col("n").as("n_a"), col("itoks").as("toks_a"))
          .join(inPost.select(col("tid"), col("rid").as("rid_b"), col("p").as("p_b"),
            col("n").as("n_b"), col("itoks").as("toks_b")), Seq("tid"))
          .filter(col("rid_a") < col("rid_b")))
      .select(col("rid_b").as("rid")).distinct()
    val clusterDropped = dupOfOld.unionByName(repDropped).distinct()
    // expand: drop whole clusters matched above, plus every non-min member
    val docDropped = clusters.join(clusterDropped, Seq("rid"), "left_semi")
      .select(explode(col("members")).as("id"))
      .unionByName(clusters
        .select(col("rid"), explode(col("members")).as("id"))
        .filter(col("id") =!= col("rid")).select(col("id")))
      .distinct()
    incoming.join(docDropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** EXTEND a [[prefixIndex]] with an ADMITTED batch — the per-increment
    * index maintenance step of a growing corpus, O(batch), never touching
    * existing entries:
    *
    *  - batch-only tokens are APPENDED to the vocabulary with tids above
    *    the current max (ranked by token among themselves). Appending at
    *    the END of the total order keeps every existing postings row
    *    valid: old sets contain no new tokens and the relative order of
    *    old tokens is unchanged, so their stored prefixes are unchanged
    *    under the extended order — no re-indexing.
    *  - the admitted docs' UNIQUE sets are indexed under the extended
    *    vocab and unioned in.
    *
    * Drift note: appended tokens rank after all existing tokens regardless
    * of their eventual frequency, so prefix selectivity decays as the
    * corpus grows far beyond the originally indexed base — rebuild the
    * index periodically (a full [[prefixIndex]] pass) to restore
    * rarest-first pruning; admission correctness is unaffected either way
    * (the order only steers pruning, never the verified decision). */
  def extendPrefixIndex(
      admitted: DataFrame, postings: DataFrame, vocab: DataFrame,
      idCol: String, textCol: String, threshold: Double): (DataFrame, DataFrame) = {
    val sets = admitted.select(
        array_sort(array_distinct(split(normalized(col(textCol)), " "))).as("stoks"))
      .groupBy(col("stoks")).agg(count(lit(1)).as("cnt"))
      .select(col("stoks"), monotonically_increasing_id().as("sid"))
      .barrier()
    val maxTid = vocab.agg(coalesce(max(col("tid")), lit(0L))).head.getLong(0)
    val newVocab = distributedDenseRank(
        sets.select(explode(col("stoks")).as("tok")).distinct()
          .join(vocab.select("tok"), Seq("tok"), "left_anti")
          .barrier(),
        Seq(col("tok")), "nrank")
      .select(col("tok"), (col("nrank") + maxTid).as("tid"))
    val vocabExt = vocab.unionByName(newVocab)
    val newPostings = orderedPrefixPostings(sets, "sid", vocabExt, threshold).drop("sid")
    (postings.unionByName(newPostings), vocabExt)
  }

  /** Cross-corpus near-dup MATCHES against a persisted [[prefixIndex]]:
    * for each probe doc with at least one index set at Jaccard ≥
    * `threshold`, the MAX such Jaccard (no-match docs are absent from the
    * output). Same lossless prefix-filter candidate generation as
    * [[incrementalNearDupExact]], but pure cross-matching — no
    * within-probe pairing — which is the FUZZY DECONTAMINATION primitive:
    * index the benchmark/eval suite (tiny), probe the training corpus
    * (huge); candidates ∝ the benchmark's prefix postings, so corpus-
    * internal near-dup density never inflates the cost. */
  def prefixNearDupMatches(
      probe: DataFrame, postings: DataFrame, vocab: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val alpha = threshold / (1.0 + threshold)
    val clusters = probe.select(col(idCol).as("id"),
        array_sort(array_distinct(split(normalized(col(textCol)), " "))).as("stoks"))
      .groupBy(col("stoks")).agg(collect_list(col("id")).as("members"))
      .withColumn("rid", array_min(col("members")))
      .barrier()
    val inPost = orderedPrefixPostings(
      clusters.select(col("rid"), col("stoks")), "rid", vocab, threshold)
    val repMatch = inPost
      .select(col("tid"), col("rid"), col("p").as("p_a"), col("n").as("n_a"),
        col("itoks").as("toks_a"))
      .join(postings.select(col("tid"), col("p").as("p_b"),
        col("n").as("n_b"), col("itoks").as("toks_b")), Seq("tid"))
      .filter(col("n_a") >= col("n_b") * threshold && col("n_b") >= col("n_a") * threshold)
      .filter(lit(1) + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")) >=
        lit(alpha) * (col("n_a") + col("n_b")) - lit(1e-9))
      // fence (r19): single merge per candidate — see repStructure
      .select(col("rid"), graft.functions.EvalFence.fence(
        graft.functions.SortedJaccard.sortedJaccard(
          col("toks_a"), col("toks_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("rid")).agg(max(col("jaccard")).as("max_jaccard"))
    clusters.select(col("rid"), explode(col("members")).as("id"))
      .join(repMatch, Seq("rid"))
      .select(col("id"), col("max_jaccard"))
  }

  /** EXACT near-dup pairs via prefix filtering (PPJoin-lite) — the
    * scale-safe exact path. Lossless: returns exactly the pairs an all-pairs
    * scan with `jaccard >= threshold` would, with NO quadratic stage.
    *
    * Prefix-filter principle (SSJoin/PPJoin family): sort every doc's
    * distinct tokens by one global total order (document frequency
    * ascending — rarest first — then token). For J(A,B) ≥ t the overlap
    * must be ≥ ⌈t·max(|A|,|B|)⌉; by the prefix lemma the two docs then
    * share at least one token inside both their prefixes of length
    * |x| − ⌈t·|x|⌉ + 1 (≈ (1−t)·|x| + 1). So candidates come from an
    * inverted index over PREFIX tokens only — rare tokens by construction,
    * tiny postings lists — instead of any blocking key. Cost is linear in
    * Σ postings² over rare tokens, not O(n²) per block; candidate volume
    * shrinks as t grows. All stages are hash shuffles on high-cardinality
    * keys (token, id) — no low-cardinality block key anywhere, so the plan
    * survives a 100× scale-up.
    *
    * Output: (id_a, id_b, jaccard), id_a < id_b, global (no block column).
    *
    * Skew dial: `saltMinPostings` > 0 (the default, 64k) routes only
    * tokens whose document frequency reaches it through the 2-D grid
    * decomposition ([[graft.plans.Salt.tiledPairJoinWithFactors]], r18 —
    * per-tile pairs ≤ [[HotPairBudget]] no matter how hot the token; the
    * pre-r18 fixed-chunk salting still held m²/chunks, quadratic in the
    * postings); all other tokens keep the symmetric self-join.
    * `saltMinPostings = 0` disables the dial (the fully symmetric plan);
    * `saltMinPostings = 1` routes every token through the grid (use it for
    * skew below the default dial). The hot set is a lazy broadcast
    * subquery: plan construction runs NO job, and on a skew-free corpus
    * AQE's empty-relation propagation removes the hot branch at runtime.
    *
    * NOTE: `spark.sql.adaptive.enabled` is sampled at PLAN-CONSTRUCTION
    * time (it selects between the lazy-AQE-pruned and the eager-probe
    * plan shapes). Toggling AQE between constructing this DataFrame and
    * executing it leaves that choice stale — worst case an unpruned
    * salted branch (~1.8× cost on a skew-free corpus) or one unnecessary
    * eager probe; results are lossless either way. Construct the plan
    * under the session conf it will execute with.
    */
  def prefixJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      saltMinPostings: Long = AutoSaltMinPostings): DataFrame = {
    val (clusters, repPairs) =
      repStructure(df, idCol, textCol, threshold, saltMinPostings)
    // 5. Expand back to doc pairs: cross-cluster pairs inherit the verified
    //    rep Jaccard; intra-cluster pairs are exact dups (J = 1). Linear in
    //    the OUTPUT size — the only quadratic term left is the answer itself.
    val mem = clusters.select(col("rid"), col("members"))
    val cross = repPairs
      .join(mem.select(col("rid").as("rid_a"), col("members").as("mem_a")), Seq("rid_a"))
      .join(mem.select(col("rid").as("rid_b"), col("members").as("mem_b")), Seq("rid_b"))
      .select(explode(col("mem_a")).as("ma"), col("mem_b"), col("jaccard"))
      .select(col("ma"), explode(col("mem_b")).as("mb"), col("jaccard"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    val intra = clusters.filter(size(col("members")) >= 2)
      .select(explode(col("members")).as("ma"), col("members"))
      .select(col("ma"), explode(col("members")).as("mb"))
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("id_a"), col("mb").as("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Near-dup CLUSTERING: (id, component) for every input doc, component =
    * min doc id reachable through exact-Jaccard ≥ `threshold` edges — the
    * "keep one per group" step fused with pair generation.
    *
    * Runs connected components on the CONTRACTED graph — one node per
    * UNIQUE token set (cluster representative), edges = verified rep pairs —
    * instead of the fully expanded member-pair list [[prefixJaccardPairs]]
    * returns. Identical components: members of one cluster form a clique
    * (J = 1) whose connectivity a rep↔member star preserves, and every
    * cross-cluster doc pair has the same endpoints-by-rep. Labels also
    * agree: rid = min(members), so the min rep id reachable IS the min doc
    * id reachable. The iterative step therefore never touches the (output-
    * sized, quadratic-in-cluster-size) expanded pair list — on dup-heavy
    * corpora the CC input shrinks by the dup factor squared.
    */
  def dedupComponents(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      saltMinPostings: Long = AutoSaltMinPostings): DataFrame = {
    // the cluster table is materialized inside repStructure (r19: always —
    // CC additionally references it from three separate jobs, which is why
    // dedupComponents needed it even before the pair query did)
    val (clusters, repPairs) =
      repStructure(df, idCol, textCol, threshold, saltMinPostings)
    val repComp = Components.connectedComponents(
      clusters.select(col("rid").as("id")),
      repPairs.select(col("rid_a").as("a"), col("rid_b").as("b")))
    clusters.select(col("rid"), explode(col("members")).as("id"))
      .join(repComp.withColumnRenamed("id", "rid"), Seq("rid"))
      .select(col("id"), col("comp").as("component"))
  }

  /** Steps 1–4 of the PPJoin pipeline, shared by [[prefixJaccardPairs]] and
    * [[dedupComponents]]: identical-set collapse + dense token ordering +
    * prefix inverted-index join + verified REP-level pairs.
    * Returns (clusters: (stoks, members, rid, n), repPairs: (rid_a, rid_b,
    * jaccard)). */
  private def repStructure(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      saltMinPostings: Long = 0): (DataFrame, DataFrame) = {
    // 1. Collapse IDENTICAL token sets into clusters first (the exact-dedup
    //    composition): all expensive work then runs once per UNIQUE set, and
    //    member pairs are re-expanded linearly at the end. On corpora with
    //    many exact/case dups this shrinks the verification input by the dup
    //    factor; it never loses a pair (members of one cluster have J = 1,
    //    cross-cluster pairs inherit their representatives' Jaccard, which
    //    depends only on the sets).
    val docs = df.select(
      col(idCol).as("id"),
      array_sort(array_distinct(split(normalized(col(textCol)), " "))).as("stoks"))
    // The cluster table feeds several plan branches (vocab postings,
    // ordered postings, member expansion ×2). r16 measured an explicit
    // persist() NET-NEGATIVE (q63 6.7s→11s — the cache manager's
    // normalization + columnar conversion barrier), but r19's warm stage
    // profile showed the tokenize+collapse map side executing 3× per run
    // (runtime exchange reuse does not cover all the differently-shaped
    // consumers), and a localCheckpoint barrier — plain block
    // materialization, none of persist()'s machinery — measured a win
    // across the family (see OPTIMIZATION_r19.md §PPJoin).
    val clusters = docs.groupBy(col("stoks"))
      .agg(collect_list(col("id")).as("members"))
      .withColumn("rid", array_min(col("members")))
      .withColumn("n", size(col("stoks")))
      .barrier(eager = true)
    // 2. Map tokens to DENSE INTEGER ids ranked by (document frequency,
    //    token). Each unique set then becomes one ascending long array whose
    //    NUMERIC order IS the canonical rarest-first order: the Jaccard
    //    prefix is literally the first `plen` elements, and verification is
    //    an allocation-free sorted merge over longs instead of hashing UTF8
    //    strings per pair. (The id assignment is a sort of the VOCABULARY
    //    table — the standard token-ordering step of PPJoin — done as a
    //    DISTRIBUTED dense rank: a global-Window row_number would funnel the
    //    whole vocabulary through one partition, the one single-threaded
    //    stage in the pipeline. Here the range sort spreads the vocabulary,
    //    each partition ranks locally, and a broadcast of the ~shuffle-
    //    partition-count per-partition offsets makes the rank global.)
    val post = clusters.select(col("rid"), explode(col("stoks")).as("token"))
    // The range sort inside the dense rank samples its input for partition
    // boundaries BEFORE shuffling it — two evaluations of the vocabulary
    // aggregate (an explode + groupBy over every document) unless the
    // aggregate is materialized. The LAZY checkpoint keeps plan construction
    // job-free: the sampling pass materializes vocab-sized blocks, the
    // shuffle re-reads them.
    val vocab = distributedDenseRank(
      post.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .barrier(),
      Seq(col("df"), col("token")), "tid")
    val ordered = post.join(vocab, Seq("token"))
      .groupBy(col("rid"))
      .agg(sort_array(collect_list(col("tid"))).as("itoks"))
    // 3. Inverted-index self-join on PREFIX token ids, the (narrow) long
    //    arrays carried inline so verification happens IN the join stage —
    //    no multi-million-row candidate distinct, no array re-join; a pair
    //    colliding in several prefix tokens re-verifies cheaply and the
    //    dedup runs on the tiny VERIFIED output. The PPJoin positional
    //    filter (1 + min remaining tokens ≥ required overlap
    //    α = t(nₐ+n_b)/(1+t), with an epsilon slack so double rounding can
    //    only FALSE-KEEP, never prune a true pair) prunes deep-prefix
    //    collisions before any merge runs.
    val alpha = threshold / (1.0 + threshold)
    val prefixes = ordered
      .withColumn("n", size(col("itoks")))
      .withColumn("plen", (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
      .select(col("rid"), col("n"), col("itoks"),
        posexplode(slice(col("itoks"), lit(1), col("plen"))).as(Seq("pos", "tid")))
      .select(col("rid"), col("n"), col("itoks"), (col("pos") + 1).as("p"), col("tid"))
    // Hot-token decomposition: a prefix token with a huge postings list
    // puts ALL its pairs in one join task (per-key work is quadratic in
    // the postings). r18: hot tokens route through the 2-D grid
    // (Salt.tiledPairJoinWithFactors) — each side hash-tiled into
    // f = ceil(df/sqrt(HotPairBudget)) groups and replicated f× across the
    // other axis, so a pair meets EXACTLY once (at tile (h(a)%f, h(b)%f))
    // and NO tile holds more than the budget, however hot the token (the
    // pre-r18 1-D chunked salting only divided the quadratic by a
    // constant). Lossless — spec-tested against the unsalted plan. The
    // cost is extra evaluations of the upstream pipeline (asymmetric sides defeat
    // Catalyst's exchange reuse; measured ~1.8× when EVERY token is
    // salted on a skew-free corpus).
    //
    // The dial is therefore DATA-DRIVEN (`saltMinPostings` > 0, the
    // default): only tokens whose document frequency — already computed
    // for the vocabulary ranking — reaches the threshold are routed
    // through the tiled join; everything else keeps the
    // symmetric self-join whose identical subplans share one exchange.
    // Skew-free corpora have no hot token, the broadcast hot set comes
    // back empty at runtime, and AQE's empty-relation propagation prunes
    // the salted branch before its upstream runs — measured within noise
    // of the pure symmetric plan (q30 sf0.1: 3.99s vs 3.90s).
    // `saltMinPostings = 0` disables the dial: the fully lazy symmetric
    // plan.
    def aSide(p: DataFrame) = p.select(col("tid"), col("rid").as("rid_a"),
      col("n").as("n_a"), col("p").as("p_a"), col("itoks").as("toks_a"))
    def bSide(p: DataFrame) = p.select(col("tid"), col("rid").as("rid_b"),
      col("n").as("n_b"), col("p").as("p_b"), col("itoks").as("toks_b"))
    val repBase =
      if (saltMinPostings > 0) {
        // The hot set stays a LAZY broadcast subquery — plan construction
        // runs no job (the former eager probe-and-collapse broke deferred-
        // execution callers). At runtime the broadcast materializes from
        // the vocab checkpoint the main plan shares anyway; on a skew-free
        // corpus it comes back EMPTY and AQE's empty-relation propagation
        // eliminates the hot branch before its upstream ever runs, so the
        // executed plan still collapses to the symmetric join. That lazy
        // collapse IS an AQE mechanism — with AQE disabled in the caller's
        // session there is nothing to prune the empty branch at runtime,
        // so pay one construction-time probe (the only case where eager
        // beats lazy: the ~1.8× asymmetric-branch cost would otherwise be
        // paid on EVERY skew-free run) and emit the symmetric plan direct.
        val hotTids = vocab.filter(col("df") >= saltMinPostings).select("tid")
        val aqeOn = df.sparkSession.conf
          .get("spark.sql.adaptive.enabled", "true").toBoolean
        if (!aqeOn && hotTids.isEmpty) {
          aSide(prefixes).join(bSide(prefixes), Seq("tid"))
        } else {
          val cold = prefixes.join(broadcast(hotTids), Seq("tid"), "left_anti")
          val hot = prefixes.join(broadcast(hotTids), Seq("tid"), "left_semi")
          // r18 (verdict ask #5): the hot branch routes through the SAME
          // 2-D grid decomposition as knnGraph (Salt.tiledPairJoin) instead
          // of fixed-chunk 1-D salting — fixed chunks bound per-task pairs
          // at m²/chunks, which still grows quadratically with the postings
          // list; the grid caps every tile at HotPairBudget regardless of
          // m. Tile factors come from the vocabulary's document frequency
          // (≥ the prefix postings count — an upper bound, which only
          // shrinks tiles), so no extra counting aggregate runs and the
          // factor table reuses the vocab checkpoint the plan reads anyway.
          val hotFactors = vocab.filter(col("df") >= saltMinPostings)
            .select(col("tid"), greatest(lit(1),
              ceil(col("df") / lit(math.sqrt(HotPairBudget.toDouble)))
                .cast("int")).as("__f"))
          aSide(cold).join(bSide(cold), Seq("tid"))
            .unionByName(graft.plans.Salt.tiledPairJoinWithFactors(
              aSide(hot), bSide(hot), "tid", "rid_a", "rid_b", hotFactors))
        }
      } else {
        aSide(prefixes).join(bSide(prefixes), Seq("tid"))
      }
    val repPairs = repBase
      .filter(col("rid_a") < col("rid_b"))
      // size prefilter (t ≤ |A|/|B| ≤ 1/t), before any set op runs
      .filter(col("n_a") >= col("n_b") * threshold && col("n_b") >= col("n_a") * threshold)
      .filter(lit(1) + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")) >=
        lit(alpha) * (col("n_a") + col("n_b")) - lit(1e-9))
      // fence (r19): without it the optimizer pushes `jaccard >= t` into
      // the join condition while the projection still emits the score —
      // the per-pair merge runs TWICE per surviving pair (measured in
      // plans/r19/q30_jaccard_pairs_before.txt). See EvalFence.
      .select(col("rid_a"), col("rid_b"),
        graft.functions.EvalFence.fence(graft.functions.SortedJaccard
          .sortedJaccard(col("toks_a"), col("toks_b"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("rid_a"), col("rid_b")).agg(min(col("jaccard")).as("jaccard"))
    (clusters, repPairs)
  }

  /** INCREMENTAL exact dedup — the production flow for a growing corpus:
    * an incoming batch is deduped against the existing corpus (and within
    * itself) WITHOUT rescanning existing data beyond its key column.
    * Returns the incoming rows that are genuinely new (first occurrence
    * wins within the batch by min id). Rows whose dedup key is NULL are
    * dropped — a null key means the key expression failed, and SQL null
    * semantics would otherwise make them unjoinable (never deduped).
    *
    * Scale shape: one anti-join against the existing KEY index (keys only
    * — at 100 TB the fingerprint index is a fraction of the corpus and is
    * the thing you maintain, not re-derive) plus one within-batch groupBy.
    * Both shuffles are keyed on the dedup key.
    */
  def incrementalExact(
      incoming: DataFrame, existingKeys: DataFrame,
      key: Column, idCol: Column): DataFrame = {
    require(existingKeys.columns.length == 1,
      s"existingKeys must be a single-column key index, got ${existingKeys.columns.mkString(", ")}")
    // Null keys never match an anti-join (SQL null semantics), so a null key
    // in `existing` would NOT suppress incoming null-keyed rows — which
    // diverges from the documented NOT-IN oracle. A null dedup key means the
    // key expression failed; such rows are dropped on both sides (the
    // existing-side filter makes the anti-join behave like NOT IN over the
    // non-null key domain even when the index contains nulls).
    val keyed = incoming.select(idCol.as("id"), key.as("dedup_key"))
      .filter(col("dedup_key").isNotNull)
      .groupBy(col("dedup_key")).agg(min(col("id")).as("keep_id"))
    keyed.join(
        existingKeys.select(col(existingKeys.columns.head).as("dedup_key"))
          .filter(col("dedup_key").isNotNull),
        Seq("dedup_key"), "left_anti")
      .select(col("keep_id"), col("dedup_key"))
  }

  /** Distributed global row_number: range-sort on `order`, rank WITHIN each
    * partition (parallel — the partition id pins rows to their sort
    * partition, so the per-pid window never re-shuffles across the global
    * order), then add each partition's cumulative row offset via a broadcast
    * join against the per-partition counts (one tiny single-partition window
    * over ~shuffle-partition-count rows, instead of over the whole table).
    * Lazy end to end; ids are 1-based, dense, unique, and ordered by
    * `order`. */
  private[graft] def distributedDenseRank(
      df: DataFrame, order: Seq[Column], rankCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pid = "__rank_pid"
    // PIN the ranked table before branching: offsets and the final join must
    // observe the SAME spark_partition_id assignment, which only holds if
    // the range exchange is planned exactly once. Exchange reuse currently
    // guarantees that, but spark_partition_id is nondeterministic by
    // contract — if the exchange were ever planned twice (AQE edge case,
    // future refactor), independently sampled range boundaries would
    // misalign offsets and silently duplicate/skip ranks. The LAZY
    // checkpoint materializes at the first action and both branches then
    // read the same pinned blocks; plan construction stays job-free.
    val local = df.repartitionByRange(order: _*)
      .withColumn(pid, spark_partition_id())
      .withColumn("__local_rn",
        row_number().over(Window.partitionBy(col(pid)).orderBy(order: _*)))
      .barrier()
    val offsets = local.groupBy(col(pid)).agg(count(lit(1)).as("__pn"))
      .withColumn("__offset",
        coalesce(sum(col("__pn")).over(
          Window.orderBy(col(pid)).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(pid), col("__offset"))
    local.join(broadcast(offsets), Seq(pid))
      .withColumn(rankCol, (col("__offset") + col("__local_rn")).cast("long"))
      .drop(pid, "__local_rn", "__offset")
  }

  /** Edit-distance-1 pair detection via DELETION-NEIGHBORHOOD blocking
    * (the SymSpell scheme): every string emits itself plus its n delete-one
    * variants; two strings within Levenshtein distance 1 necessarily share
    * a variant (substitution ⇒ deleting the differing position from both
    * yields the same string; insert/delete ⇒ the shorter string IS a
    * variant of the longer; equality ⇒ the strings themselves), so an
    * equi-join on the variant generates a complete candidate set. Each
    * variant also carries its deletion POSITION, and candidates must meet at
    * the same position or via an identity (pos 0) — still complete (see the
    * inline proof sketch) but ~5× fewer candidates on digit-dense keys.
    * Sharing a variant does NOT imply distance ≤ 1 ("ab"/"ba" share both
    * variants at distance 2), so candidates are verified with the exact `levenshtein`
    * — same generate → bucket-join → verify shape as the MinHash/SimHash
    * paths, with the same scale properties: work is linear in Σ|s| variant
    * rows and candidate pairs, never all-pairs. Variant join keys are
    * HASHED to fixed-width longs (xxhash64), so the shuffle carries 8-byte
    * keys instead of near-full-length strings; a hash collision can only
    * add a candidate, which verification then drops.
    *
    * For names/titles/ids (short strings, typo-class errors) this finds
    * exact fuzzy matches at corpus scale; for distance k > 1 the
    * neighborhood is C(n,k)-sized — use the token-level paths
    * ([[prefixJaccardPairs]]) instead. Output: (id_a, id_b, dist) with
    * id_a < id_b, one row per pair. */
  def editDistancePairs(
      df: DataFrame, idCol: String, strCol: String): DataFrame =
    editDistanceCandidates(df, idCol, strCol)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= 1)
      .select("id_a", "id_b", "dist")

  /** The CANDIDATE pair set of [[editDistancePairs]] — everything that
    * reaches Levenshtein verification: (id_a, id_b, s_a, s_b), distinct.
    * Exposed (package-private) so scaling audits can count candidates vs
    * verified pairs per scale factor: candidate growth tracking true-pair
    * growth is the signature of answer-proportional cost; candidates
    * outgrowing true pairs means the position restriction needs
    * tightening. */
  private[graft] def editDistanceCandidates(
      df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
    // variants = [s, delete(s,1), delete(s,2), ...] — one sequence+transform
    // (codegen'd), posexploded once so each variant carries WHICH position
    // was deleted (pos 0 = identity, pos i = delete-at-i).
    val variants = base.select(col("id"), col("s"),
        posexplode(concat(
          array(col("s")),
          transform(sequence(lit(1), length(col("s"))),
            i => concat(col("s").substr(lit(1), i - 1),
              col("s").substr(i + 1, length(col("s"))))))).as(Seq("pos", "v")))
      .select(xxhash64(col("v")).as("vh"), col("pos"), col("id"), col("s"))
    // Position restriction — lossless for dist ≤ 1: a SUBSTITUTION pair
    // shares the delete at the (single) differing position — the SAME pos
    // on both sides; an INSERT/DELETE pair matches the shorter string's
    // IDENTITY (pos 0) against a delete of the longer; equal strings match
    // identity-identity. Any candidate meeting only at pos_a≠pos_b>0
    // differs in ≥2 positions and can never verify. Realized as TWO
    // EQUI-JOINS — (vh, pos) for the same-pos class, vh for identity ×
    // delete — instead of a vh-join filtered by the OR predicate, so the
    // unrestricted candidate set (5.5× larger: 1.46M rows vs 262k at
    // sf0.1) is never materialized through the shuffle at all.
    val samePos = variants
      .select(col("vh"), col("pos"), col("id").as("id_a"), col("s").as("s_a"))
      .join(variants.select(col("vh"), col("pos"),
        col("id").as("id_b"), col("s").as("s_b")), Seq("vh", "pos"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b")
    val idents = variants.filter(col("pos") === 0)
      .select(col("vh"), col("id").as("id_i"), col("s").as("s_i"))
    val dels = variants.filter(col("pos") > 0)
      .select(col("vh"), col("id").as("id_d"), col("s").as("s_d"))
    val identDel = idents.join(dels, Seq("vh"))
      .filter(col("id_i") =!= col("id_d"))
      // normalize to unordered (id_a < id_b) pairs, strings tracking ids
      .select(
        least(col("id_i"), col("id_d")).as("id_a"),
        greatest(col("id_i"), col("id_d")).as("id_b"),
        when(col("id_i") < col("id_d"), col("s_i")).otherwise(col("s_d")).as("s_a"),
        when(col("id_i") < col("id_d"), col("s_d")).otherwise(col("s_i")).as("s_b"))
    samePos.unionByName(identDel).distinct()
  }

  /** ASYMMETRIC CONTAINMENT near-dup pairs: emit (a, b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ `threshold` — "a is
    * (mostly) contained in b". Jaccard resemblance ([[prefixJaccardPairs]])
    * misses exactly this case: an excerpt quoted inside a much longer
    * document has low Jaccard (the union is large) but containment ≈ 1 —
    * the duplicated-passage / quotation screen a training-corpus pipeline
    * needs alongside symmetric near-dup.
    *
    * Shingle space (word `ngram`s, default 3) rather than single tokens:
    * on a small-vocabulary corpus every doc's TOKEN set is contained in
    * every other's (measured: 32% of all pairs at threshold 0.9 on the
    * test corpus); shingles restore the positional structure containment
    * is supposed to detect.
    *
    * Scale shape — the PPJoin prefix idea adapted to the asymmetric
    * predicate: if C(a→b) ≥ t, then a can miss at most ⌊(1−t)·n_a⌋ of its
    * shingles in b, so among a's (n_a − ⌈t·n_a⌉ + 1) RAREST shingles
    * (global df order, ties by shingle) at least one occurs in b. Probe
    * side explodes only that prefix; index side is the FULL postings
    * list (asymmetry: b must index everything — there is no length
    * filter on b). Candidates → distinct → exact verify via
    * `array_intersect` on the carried shingle arrays. Every join is
    * shingle- or id-keyed; no all-pairs stage. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, ngram: Int = 3,
      saltMinPostings: Long = AutoSaltMinPostings): DataFrame = {
    // Tokenize ONCE per doc and pin the array behind a checkpoint
    // barrier before the shingle transform reads it. Without the
    // barrier, CollapseProject inlines `split(...)` into every
    // element_at — ngram array reads per shingle × ~n shingles per doc
    // re-tokenizes each document O(n·ngram) times (measured: the whole
    // query 2.5× slower with the split inlined).
    val toked = docs
      .select(col(idCol).as("id"), split(normalized(col(textCol)), " ").as("arr"))
      .barrier()
    // guard n < ngram: Spark's sequence(1, n-2) runs DOWNHILL for n < 3.
    // Shingles are carried as xxhash64 LONGS, not strings — every later
    // stage (postings joins, df sort, per-pair array_intersect) compares
    // them, and 8-byte compares beat ~20-char strings. 64-bit collisions
    // are negligible at any realistic per-corpus shingle cardinality
    // (birthday bound ~2^32); a collision could only ever ADD a shared
    // shingle, nudging one containment quotient up by 1/n_a.
    val arr = col("arr")
    val shingle = when(size(arr) >= ngram,
      array_distinct(transform(sequence(lit(1), size(arr) - (ngram - 1)),
        i => xxhash64(concat_ws(" ",
          (0 until ngram).map(j => element_at(arr, i + lit(j))): _*)))))
      .otherwise(array().cast("array<long>"))
    val sets = toked.select(col("id"), shingle.as("sh"))
      .filter(size(col("sh")) > 0)
      .barrier() // feeds postings, prefix, and verify
    val postings = sets.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val dfS = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = postings.join(dfS, Seq("s"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ord"),
        count(lit(1)).as("n"))
    val plen = (col("n") - ceil(col("n") * lit(threshold)).cast("long") + 1).cast("int")
    val prefix = ranked.select(col("id").as("id_a"), col("n").as("n_a"),
      explode(slice(transform(col("ord"), x => x.getField("s")), lit(1), plen)).as("s"))
    val postB = postings.select(col("id").as("id_b"), col("n").as("n_b"), col("s"))
    // HOT-SHINGLE GRID TILING (r18, verdict ask #5 — the knnGraph/PPJoin
    // budget applied to the containment generator): a boilerplate shingle
    // with df postings lands up to p·df candidate rows (p = its prefix
    // occurrences, p ≤ df since every prefix row is a postings row) on ONE
    // join task. Keys with df ≥ the salt dial route through
    // [[graft.plans.Salt.tiledPairJoinWithFactors]] with f = ⌈df/√budget⌉,
    // capping any tile at ≤ HotPairBudget row-pairs; the factors broadcast
    // is hot-keys-only (tiny), its inner attach doubles as the hot semi-join
    // on both sides, and on a boilerplate-free corpus it is EMPTY — AQE's
    // empty-relation propagation prunes the whole hot branch at runtime.
    // saltMinPostings <= 0 turns the dial OFF (pure cold plan)
    val dial = if (saltMinPostings <= 0) Long.MaxValue else saltMinPostings
    val hotFactors = dfS.filter(col("df") >= dial)
      .select(col("s"), greatest(lit(1),
        ceil(col("df") / lit(math.sqrt(HotPairBudget.toDouble)))
          .cast("int")).as("__f"))
    val coldCand = prefix
      .join(broadcast(hotFactors.select(col("s"))), Seq("s"), "left_anti")
      .join(postB, Seq("s"))
    val hotCand = graft.plans.Salt.tiledPairJoinWithFactors(
      prefix, postB, "s", "id_a", "id_b", hotFactors)
    val cands = coldCand.unionByName(hotCand.select(coldCand.columns.map(col): _*))
      // containment HAS a one-sided length bound: |A∩B| ≤ |B|, so
      // C(a→b) ≥ t forces n_b ≥ ⌈t·n_a⌉ — prune before the (expensive,
      // array-carrying) verify join. The other direction has no bound
      // (b may be arbitrarily larger), which is the asymmetry.
      .filter(col("id_a") =!= col("id_b") &&
        col("n_b") >= ceil(col("n_a") * lit(threshold)))
      .select(col("id_a"), col("n_a"), col("id_b")).distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_a"), col("inter"), col("containment"))
  }

  // ─────────────── streaming admission state ───────────────
  //
  // [[graft.streaming.StreamPipes.dedupIngest]] and
  // [[graft.streaming.StreamPipes.dsirIngest]] keep the same layout under
  // their `base`: a `state/` [[graft.sources.VersionedTable]] committed once
  // per micro-batch (the dedup prefix index, or the DSIR bucket counts),
  // and the admitted docs as `corpus/batch=<id>` delta dirs. The table's
  // log is the one record of which batches committed and which corpus
  // compaction is current ([[graft.sources.VersionedTable.commitBatch]]).

  private[graft] def admitState(base: String): String = s"$base/state"
  private[graft] def admitCorpus(base: String): String = s"$base/corpus"

  /** The admitted corpus of a stream admission stage at `base`: the latest
    * recorded compaction plus the `corpus/batch=<id>` dirs of batches
    * whose commit landed — a dir left by a batch that crashed before its
    * commit is invisible until the retry commits it. Use this, not a raw
    * read of `corpus/`. None before any admission. */
  def readCorpus(spark: org.apache.spark.sql.SparkSession,
      base: String): Option[DataFrame] =
    graft.sources.VersionedTable.readDeltas(spark, admitState(base), admitCorpus(base))
}
