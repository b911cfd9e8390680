package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import graft.functions.ArgExtremum.{argmax, argmin}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`), north-star
  * extension. All vector math is built from codegen'd higher-order functions
  * (`zip_with`/`aggregate`/`transform`) — no UDFs, no per-row JVM boxing
  * beyond the array itself.
  *
  * Scale paths:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set, one scan
  *    of the corpus, per-query top-k. cost O(|corpus|·|queries|·d); the
  *    baseline and the verifier for approximate paths.
  *  - [[lshTopK]] — approximate: random-hyperplane signature buckets the
  *    corpus (one scan), candidates meet in a bucket-keyed shuffle instead
  *    of a cross join. Recall tunable via planes/tables; each table is one
  *    cheap integer key.
  */
object Similarity {

  /** Elementwise ops accumulate left-to-right in doubles — the same order a
    * serial engine uses, so results are bit-stable across engines. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine via the native fused-loop expression ([[graft.functions
    * .CosineSimilarity]]) — bit-identical to `dot/(‖a‖·‖b‖)` in HOFs (same
    * cast + accumulation order), minus the per-element lambda interpretation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosineSimilarity(a, b)

  /** Exact top-k neighbors for each query vector.
    * `queries`: (qid, qvec); `corpus`: (id, vec). Self-pairs excluded.
    * The query side is broadcast: the corpus never shuffles for the join;
    * the only wide exchange is the per-qid top-k (tiny: k rows/qid). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim", cosine(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    joined
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim"))
  }

  /** One MMR candidate riding in the [[MmrAgg]] buffer. */
  private[ext] case class MmrCand(id: Long, sim: Double, vec: Seq[Float])
  /** One MMR selection: `pick` is the 1-based greedy round. */
  private[ext] case class MmrPick(pick: Long, id: Long, sim: Double, mmr: Double)
  private[ext] case class MmrPicks(picks: Seq[MmrPick])

  /** Exactly [[graft.functions.CosineSimilarity]]'s accumulation (float →
    * double, one left-to-right fused loop) so the fused greedy is bit-equal
    * to a greedy over the native [[cosine]] pair expressions. */
  private def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-query greedy MMR over the buffered candidate pool (λ-weighted
    * marginal score, ties by id, first pick pure relevance), run entirely
    * inside one aggregation buffer. */
  private class MmrAgg(k: Int, lambda: Double)
      extends org.apache.spark.sql.expressions.Aggregator[MmrCand, Seq[MmrCand], MmrPicks] {
    def zero: Seq[MmrCand] = Nil
    def reduce(b: Seq[MmrCand], c: MmrCand): Seq[MmrCand] = c +: b
    def merge(a: Seq[MmrCand], b: Seq[MmrCand]): Seq[MmrCand] = a ++ b
    def finish(buf: Seq[MmrCand]): MmrPicks = {
      var remaining = buf.sortBy(c => (-c.sim, c.id)).toVector
      var selected = Vector.empty[MmrCand]
      val out = Vector.newBuilder[MmrPick]
      var round = 1
      while (round <= k && remaining.nonEmpty) {
        var bestIdx = -1; var bestScore = Double.NegativeInfinity; var bestId = Long.MaxValue
        var i = 0
        while (i < remaining.length) {
          val c = remaining(i)
          val score =
            if (selected.isEmpty) c.sim * lambda
            else {
              var div = Double.NegativeInfinity
              var j = 0
              while (j < selected.length) {
                val p = cosLocal(c.vec, selected(j).vec)
                if (p > div) div = p
                j += 1
              }
              c.sim * lambda - (1.0 - lambda) * div
            }
          if (score > bestScore || (score == bestScore && c.id < bestId)) {
            bestIdx = i; bestScore = score; bestId = c.id
          }
          i += 1
        }
        val picked = remaining(bestIdx)
        out += MmrPick(round.toLong, picked.id, picked.sim, bestScore)
        selected :+= picked
        remaining = remaining.patch(bestIdx, Nil, 1)
        round += 1
      }
      MmrPicks(out.result())
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[MmrCand]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[MmrPicks] =
      org.apache.spark.sql.Encoders.product[MmrPicks]
  }

  /** MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein 1998): pick
    * `k` results from the exact top-`poolSize` candidate pool, greedily
    * maximizing `λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)` — the
    * standard diversified-retrieval combiner (dedup'd RAG contexts, varied
    * few-shot exemplars). λ=1 reduces to plain relevance ranking (pinned in
    * MmrSpec); λ→0 maximizes novelty. Output (qid, pick, id, sim, mmr),
    * `pick` the 1-based greedy round.
    *
    * Scale shape: the greedy runs over the BOUNDED candidate pool, not the
    * corpus — one exact top-`poolSize` pass (or an ANN candidate source at
    * 100 TB: swap [[bruteForceTopK]] for [[ivfFlatTopK]], same contract),
    * then ONE query-keyed aggregation: the pool (poolSize rows × d floats
    * per query — KBs) rides in a typed Aggregator buffer with map-side
    * partial merge, and the k-round greedy runs in `finish` — no k
    * scheduled joins, no localCheckpoint chain, one shuffle keyed on qid.
    * This is the RIGHT shape precisely because MMR's pool is bounded by
    * contract (30–100 candidates from the exact or ANN tier): the
    * per-group state is O(poolSize·d), and pair similarities are computed
    * on demand inside the greedy (≤ k·poolSize cosines) instead of
    * materializing the poolSize² matrix.
    *
    * Determinism: [[cosLocal]] reproduces the native cosine expression's
    * accumulation order and score ties break by id, so output is unique —
    * MmrSpec pins it to a sequential reference greedy exactly. Float
    * corpora only — an array<double> corpus is downcast here. */
  def mmrTopKFused(corpus: DataFrame, queries: DataFrame, k: Int, poolSize: Int,
      lambda: Double): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need poolSize >= k >= 1, got k=$k pool=$poolSize")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pool = bruteForceTopK(corpus, queries, poolSize)
      .join(corpus, "id")
      .select(col("qid"), col("id"), col("sim"),
        col("vec").cast("array<float>").as("vec"))
    val agg = new MmrAgg(k, lambda).toColumn
    pool.select(col("qid"), struct(col("id"), col("sim"), col("vec")).as("c"))
      .as[(Long, MmrCand)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("r"))
      .toDF("qid", "r")
      .select(col("qid"), explode(col("r.picks")).as("p"))
      .select(col("qid"), col("p.pick").as("pick"), col("p.id").as("id"),
        col("p.sim").as("sim"), col("p.mmr").as("mmr"))
  }

  /** Random-hyperplane (SimHash) signature of a vector: one sign bit per
    * plane, packed into a long — the LSH bucket key. Native fused expression
    * ([[graft.functions.HyperplaneSig]]): one primitive loop instead of
    * ~d×nPlanes interpreted HOF lambda evals per row (the corpus-bucketing
    * bottleneck at scale). Bit-identical to the HOF reference, proven in
    * SimilaritySpec. */
  def hyperplaneSignature(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    graft.functions.HyperplaneSig.hyperplaneSig(vec, nPlanes, planeOffset)

  /** IVF-Flat approximate top-k — the second ANN scale path (coarse
    * quantization instead of hashing): every corpus vector is assigned to
    * its nearest centroid in ONE scan against the (constant-size,
    * broadcast) centroid set; each query probes its `nProbe` nearest
    * centroids and ranks only those inverted lists with exact cosine.
    *
    * Recall/cost dial: nProbe/|centroids|. At scale |centroids| should grow
    * ~√|corpus| so a list holds ~√n vectors and the probe join reads
    * nProbe·√n candidates per query; the centroid set stays broadcastable
    * for millions of centroids of small dimension. Centroids here are
    * caller-supplied (deterministic samples work; a k-means refinement
    * would drop in without changing the plan shape).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int = 2): DataFrame = {
    val assigned = assignNearestCentroid(corpus, centroids)
    val wq = Window.partitionBy(col("qid")).orderBy(col("sim_c").desc, col("cid"))
    // barrier (r18): probes carry the centroid filter's constraints, and
    // the cand equi-join below would otherwise INFER those predicates onto
    // assigned.cid — which is now a nearest_key(...) projection alias, so
    // each inferred conjunct re-evaluates the full candidate scan per
    // corpus row (measured 2× on q56). The barrier is bounded
    // (queries × nProbe rows) and erases the constraints.
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("sim_c", cosine(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qvec"), col("cid"))
      .barrier()
    val cand = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim", cosine(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim"))
  }

  /** Embedding-cosine near-dup PAIRS via multi-table hyperplane LSH
    * (OR-amplification): `nTables` independent signature tables bucket the
    * corpus; a pair is a candidate if it collides in ANY table (recall ≈
    * 1-(1-pᵖˡᵃⁿᵉˢ)ᵗᵃᵇˡᵉˢ, p = 1-θ/π); exact cosine verifies against
    * `threshold`. Same scale shape as the MinHash near-dup: integer-only
    * candidate pairs from one capped aggregate per (table, signature)
    * bucket ([[Dedup.bucketPairs]], no self-join), pair-distinct BEFORE
    * the vector attach + verify, oversized buckets dropped. `id` is a
    * long. Output (id_a, id_b, cosine), id_a < id_b.
    */
  def cosineNearDupPairs(
      corpus: DataFrame, threshold: Double,
      nPlanes: Int = 12, nTables: Int = 4,
      maxBucketSize: Int = 500,
      portablePlanes: Boolean = false): DataFrame = {
    import graft.functions.HyperplaneSig.hyperplaneSig
    // portablePlanes: see [[lshTopK]] — q57's full-oracle conversion (r16)
    def sig(t: Int) =
      if (portablePlanes)
        graft.functions.PortableHashSig.portableHyperplaneSig(
          col("vec"), nPlanes, planeOffset = t * nPlanes)
      else hyperplaneSig(col("vec"), nPlanes, planeOffset = t * nPlanes)
    val buckets = corpus.select(col("id"), explode(array((0 until nTables).map(t =>
      struct(lit(t).as("table"), sig(t).as("sig"))): _*)).as("bucket"))
    Dedup.bucketPairs(buckets, maxBucketSize)
      .join(corpus.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(corpus.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (cluster → within-cluster prune,
    * after Abbas et al. 2023, arXiv:2303.09540): every vector is assigned to
    * its nearest centroid in ONE scan against the broadcast centroid set
    * (deterministic tiebreak: lowest centroid id), near-duplicate pairs are
    * searched WITHIN each cluster only, and the higher-id member of every
    * pair ≥ `threshold` is marked dropped (one-pass greedy keep-lowest-id —
    * a vector is dropped if ANY lower-id cluster-mate is a near-dup,
    * regardless of that mate's own fate).
    *
    * Scale shape: the clustering bounds the quadratic — per-cluster pair
    * work is O(Σ nc²), and growing |centroids| ~ n/c keeps cluster sizes ~c
    * constant, so total pair work stays linear in n at fixed c. The
    * centroid set is the broadcast dial exactly as in [[ivfTopK]]; the
    * only corpus-sized shuffles are the per-id argmax and the cluster-keyed
    * self-join. Output: (id, cluster_id, is_dropped) — fully deterministic,
    * so (unlike the hash-bucketed LSH paths) it is exact-oracle-checkable.
    */
  def semanticDedup(
      corpus: DataFrame, centroids: DataFrame, threshold: Double): DataFrame = {
    // barrier (r18): the fused assignment is a pure projection now, and it
    // feeds THREE plan branches here (both self-join sides + the final
    // labeling join) — pin it once so the candidate scan runs once, as the
    // old aggregate shape's exchange reuse used to guarantee
    val assigned = assignNearestCentroid(corpus, centroids).barrier()
    val dropped = cosinePairsWithinClusters(assigned, threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("hit", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cid").as("cluster_id"),
        coalesce(col("hit"), lit(false)).as("is_dropped"))
  }

  /** Nearest-centroid assignment (deterministic lowest-cid tiebreak), the
    * shared first stage of [[semanticDedup]] and the hybrid dedup path:
    * one broadcast-centroid corpus scan + per-id argmax over NARROW
    * (cid, score) rows, vectors re-attached by key afterwards — see
    * [[kmeansAssign]] for why the payload must not ride the aggregation
    * buffers. */
  def assignNearestCentroid(corpus: DataFrame, centroids: DataFrame): DataFrame =
    // fused (r18): ONE one-row broadcast (the sorted candidate array) and a
    // single NearestKey evaluation per corpus row inside the scan's codegen
    // span — no n·|cents| cross-product materialization, no per-id argmax
    // hash aggregate over it, no payload re-attach join. Bit-equal to the
    // former crossJoin + argmax + join shape (NearestKeySpec pins it;
    // selection semantics identical to functions/ArgExtremum).
    corpus.crossJoin(broadcast(candsOf(centroids, "cid", "cvec")))
      .withColumn("__nk",
        graft.functions.NearestKey.nearestByCosine(col("vec"), col("__cands")))
      .select(col("id"),
        col("__nk.key").cast(centroids.schema("cid").dataType).as("cid"),
        col("vec"))

  /** The one-row sorted candidate array `(key: long, cvec)` a fused
    * [[graft.functions.NearestKey]] scan broadcasts — shared by every
    * assignment/encode path (r18).
    *
    * EMPTY-CANDIDATE CONTRACT (r19, advisor find): this global aggregate
    * always emits ONE row (an empty array for an empty centroid table),
    * so a fused assignment keeps every corpus row with a NULL key, where
    * the pre-r18 crossJoin(broadcast(centroids)) emitted zero rows. No
    * catalog caller passes an empty centroid/codebook set (every protocol
    * derives centroids from the corpus itself); callers that could must
    * filter null keys after the fused assignment to recover the old
    * inner-join semantics. */
  private def candsOf(centroids: DataFrame, keyCol: String,
      vecCol: String): DataFrame =
    centroids.agg(sort_array(collect_list(struct(
      col(keyCol).cast("long").as("k"), col(vecCol).as("cv")))).as("__cands"))

  /** Exact-cosine near-dup PAIRS searched within each nearest-centroid
    * cluster of an [[assignNearestCentroid]] output — the SemDeDup pair
    * stage on its own, for callers that feed the pairs into clustering
    * instead of greedy dropping. Deterministic ⇒ oracle-checkable.
    * Output (id_a, id_b, cosine), id_a < id_b. */
  def cosinePairsWithinClusters(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cid"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = assigned.select(col("cid"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** CONTRASTIVE PAIR MINING for embedding-model training data (the
    * SimCSE/E5-style prep step: per anchor, a POSITIVE = its nearest
    * in-cluster neighbor and a HARD NEGATIVE = the next-nearest — close
    * enough to be informative, not close enough to be the positive;
    * Gao et al. 2021, arXiv:2104.08821). Candidates come from the
    * anchor's nearest-centroid cluster (an [[assignNearestCentroid]]
    * output), which bounds the pair scan to O(|anchors| · cluster-size)
    * — the SemDeDup quadratic-bounding trick reused for mining instead
    * of dropping. `anchorFilter` bounds the anchor set; anchors (with
    * vectors) BROADCAST against the cluster-keyed corpus, so the corpus
    * side never shuffles beyond its existing cid keying — at 100 TB
    * mine in anchor batches sized to the broadcast budget, clusters
    * dialed to √n as everywhere else. Fully deterministic (bit-stable
    * cosine, id tiebreaks) ⇒ oracle-checkable. Output per anchor with
    * ≥2 cluster-mates: (anchor_id, pos_id, sim_pos, neg_id, sim_neg). */
  def contrastivePairs(assigned0: DataFrame, anchorFilter: Column): DataFrame = {
    // pin (r18): the (now projection-shaped) assignment feeds both the
    // anchor filter and the cluster-keyed join side
    val assigned = assigned0.barrier()
    val anchors = assigned.filter(anchorFilter)
      .select(col("cid"), col("id").as("anchor_id"), col("vec").as("avec"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("id"))
    assigned.join(broadcast(anchors), Seq("cid"))
      .filter(col("id") =!= col("anchor_id"))
      .withColumn("sim", cosine(col("avec"), col("vec")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy(col("anchor_id"))
      .agg(
        max(when(col("rk") === 1, col("id"))).as("pos_id"),
        max(when(col("rk") === 1, col("sim"))).as("sim_pos"),
        max(when(col("rk") === 2, col("id"))).as("neg_id"),
        max(when(col("rk") === 2, col("sim"))).as("sim_neg"))
      .filter(col("neg_id").isNotNull)
  }

  /** K-NEAREST-NEIGHBOR GRAPH over an [[assignNearestCentroid]] output:
    * per vector, its top-`k` in-cluster neighbors by exact cosine — the
    * standard substrate for graph-based corpus analysis (kNN-clustering,
    * label propagation, triangle/community structure) and the batch
    * construction step of graph-ANN indexes. Candidate generation is
    * bounded by the nearest-centroid cluster (the same SemDeDup trick
    * every quadratic-avoiding stage here uses): cost
    * O(Σ cluster-size²·d), never O(n²·d), with |centroids| the √n dial.
    * The plan is one cid-keyed self-join + a src-keyed window top-k;
    * fully deterministic (bit-stable cosine, id tiebreak) ⇒
    * oracle-checkable. Output (src, dst, sim, rk), rk 1-based by falling
    * similarity.
    *
    * SKEW HARDENING (r17): the cid self-join is routed through
    * [[graft.plans.Salt.tiledPairJoin]] — an ATTRACTOR cluster (one
    * centroid capturing far more than the average n/|centroids| rows, the
    * q179 100×-torture straggler: a single 116 s task under a 139 s wall)
    * otherwise lands its whole m² pair block on one task. Tiling splits
    * any cluster over [[KnnPairBudget]] pairs into √-budget-sized tiles
    * (exact same pair set, f² tasks); clusters under the budget keep the
    * plain join's exact shuffle shape (factor 1, zero replication). The
    * input is barrier()ed because it now feeds three branches (tile
    * factors + both join sides) and is typically an expensive
    * assignment lineage. */
  def knnGraph(assigned: DataFrame, k: Int): DataFrame = {
    val pinned = assigned.barrier()
    val a = pinned.select(col("cid"), col("id").as("src"), col("vec").as("svec"))
    val b = pinned.select(col("cid"), col("id").as("dst"), col("vec").as("dvec"))
    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    graft.plans.Salt.tiledPairJoin(a, b, "cid", "src", "dst", KnnPairBudget)
      .filter(col("src") =!= col("dst"))
      .withColumn("sim", cosine(col("svec"), col("dvec")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("sim"), col("rk"))
  }

  /** Per-tile pair ceiling for [[knnGraph]]'s self-join: 4M dim-64 cosines
    * ≈ a sub-second task, so even a total-attractor cluster (every row in
    * one centroid's pull) decomposes into uniformly sub-second tiles. */
  private val KnnPairBudget = 4L * 1024 * 1024

  /** Squared L2 distance (‖a‖² − 2a·b + ‖b‖²) via the native fused-loop
    * expression ([[graft.functions.SqL2Distance]]) — bit-identical to the
    * three-dot HOF formulation (each sum accumulates left-to-right in
    * doubles, the engine-portable recipe q33 proved bit-stable against
    * DuckDB's `list_dot_product`), minus the per-element lambda
    * interpretation. */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorOps.sqL2Distance(a, b)

  /** One Lloyd assignment pass: nearest centroid per corpus vector
    * (deterministic tiebreak: lowest centroid id). Centroid set is
    * broadcast; the argmin aggregates NARROW (cid, d2) rows only and the
    * vector is re-attached by key afterwards. The former formulation
    * carried the full vector through the min_by buffer — every one of the
    * n·|centroids| aggregation updates compared (and on improvement
    * copied) a d-dim array, which at 10⁶×1000 candidates is the dominant
    * cost and a GC storm; the narrow argmin's buffer is 16 bytes, and the
    * vector re-attach is one n-row keyed join against the corpus (a
    * second columnar scan — cheap next to payload-laden agg buffers).
    * Output: (id, cluster, d2, vec). */
  def kmeansAssign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    // fused (r18) — see [[assignNearestCentroid]]: one NearestKey scan
    // replaces the cross-product + argmin/min aggregate + re-attach join.
    // nk.score IS min(d2) because the cluster is the d2-argmin.
    corpus.crossJoin(broadcast(candsOf(centroids, "cid", "cvec")))
      .withColumn("__nk",
        graft.functions.NearestKey.nearestBySqDist(col("vec"), col("__cands")))
      .select(col("id"),
        col("__nk.key").cast(centroids.schema("cid").dataType).as("cluster"),
        col("__nk.score").as("d2"),
        col("vec"))

  /** Centroid update (mean of members, per dimension). Per-component sums
    * round@7 then accumulate in DECIMAL — associative and exact, so the
    * result is independent of Spark's partial-agg order and reproducible by
    * a serial engine (the q87 rounded-decimal-sum recipe); the division
    * back to double is a single deterministic IEEE op. Work is one keyed
    * shuffle of n·d (cluster, dim) component rows plus a cluster-sized
    * regroup — no driver-side state, no collect. Extra group columns `by`
    * lead the output: one pass updates [[pqCodebooks]]' m codebooks. */
  def kmeansUpdate(assigned: DataFrame, by: String*): DataFrame = {
    val keys = by.map(col) :+ col("cid")
    assigned.withColumnRenamed("cluster", "cid")
      .select(keys :+ posexplode(col("vec")).as(Seq("dim", "comp")): _*)
      .groupBy(keys :+ col("dim"): _*)
      .agg((sum(round(col("comp"), 7)
          .cast(org.apache.spark.sql.types.DecimalType(28, 10))).cast("double")
        / count(lit(1))).as("c"))
      .groupBy(keys: _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cvec"))
  }

  /** Lloyd's k-means over an embedding column — the cluster-then-act
    * primitive behind data-mixture construction and SemDeDup-style pruning
    * (the caller of [[semanticDedup]] gets its centroids here). `iters` =
    * number of ASSIGNMENT passes; centroids are re-estimated between
    * passes, so iters=2 is assign → update → assign. Every pass is one
    * broadcast-centroid corpus scan + one keyed aggregate: cost is
    * O(iters · n · k · d) flops and O(iters) shuffles, with nothing
    * data-proportional ever materialized on the driver. Fully deterministic
    * (argmin id tiebreak + exact decimal component sums) ⇒ exact-oracle-
    * checkable, unlike hash-seeded clustering. Returns the final
    * assignment: (id, cluster, d2, vec). */
  def kmeansLloyd(corpus: DataFrame, initCentroids: DataFrame, iters: Int): DataFrame = {
    var assigned = kmeansAssign(corpus, initCentroids)
    for (_ <- 2 to iters)
      assigned = kmeansAssign(corpus, kmeansUpdate(assigned))
    assigned
  }

  /** Subspace slice bounds: base width ⌊d/m⌋ with the LAST subspace taking
    * the remainder — every dimension lands in exactly one subspace for any
    * d, instead of silently dropping the trailing d % m dims. Query and
    * corpus sides agree because both derive bounds from their own array's
    * size with the same formula (PQ requires equal dims anyway). */
  private def pqSlice(vec: Column, m: Int, s: Column): Column = {
    val base = floor(org.apache.spark.sql.functions.size(vec) / m).cast("int")
    slice(vec, s * base + 1,
      when(s === m - 1, org.apache.spark.sql.functions.size(vec) - base * (m - 1))
        .otherwise(base))
  }

  /** PRODUCT-QUANTIZATION codebooks: slice every vector into `m`
    * contiguous subvectors and train one deterministic Lloyd codebook per
    * subspace (init = the first `ksub` ids' slices, the q92 protocol;
    * `iters = 1` keeps the seed slices — the oracle-friendly untrained
    * mode). One projection `posexplode`s all m slices, and a Lloyd pass
    * trains every subspace at once, updating by (subspace, cid). Output
    * (subspace, cid, cvec), m·ksub rows — broadcastable at any scale. */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int): DataFrame = {
    def slices(df: DataFrame) = df.select(col("id"),
      posexplode(array((0 until m).map(s => pqSlice(col("vec"), m, lit(s))): _*))
        .as(Seq("subspace", "vec")))
    val seeds = slices(corpus.filter(col("id") < ksub))
      .select(col("subspace"), col("id").cast("int").as("cid"), col("vec").as("cvec"))
    (1 until iters).foldLeft(seeds) { (books, _) =>
      kmeansUpdate(slices(corpus).crossJoin(broadcast(booksBySub(books)))
        .select(col("subspace"), graft.functions.NearestKey.nearestBySqDist(col("vec"),
            element_at(col("__books"), col("subspace") + 1)).getField("key")
          .cast("int").as("cluster"), col("vec")), "subspace")
    }
  }

  /** PQ encoding: each vector becomes `m` small codes — per subspace, the
    * id of its nearest codebook centroid (squared-L2, lowest-cid
    * tiebreak). One broadcast-codebook corpus scan + a per-id regroup;
    * the encoded corpus is m ints per vector (for 64-dim floats at m=4
    * that is a 16× storage/bandwidth cut — the reason PQ is the standard
    * billion-vector ANN representation). Output (id, codes array<int>). */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    // fused (r18): all m codes per row from one broadcast books-by-subspace
    // array — no (id, subspace) explode, no n·m·ksub joined-row
    // materialization, no two-level regroup. Per-subspace selection is
    // NearestKey's sqdist-argmin, bit-equal to the former
    // sqDist + argmin + array_sort(collect_list) shape.
    corpus.crossJoin(broadcast(booksBySub(codebooks)))
      .select(col("id"), pqCodes(codebooks, m).as("codes"))

  /** One-row broadcast: per-subspace sorted candidate arrays, indexed by
    * subspace — `__books[s + 1]` is subspace s's `(k, cv)` array. */
  private def booksBySub(codebooks: DataFrame): DataFrame =
    sortedEntries(codebooks -> col("subspace")).select(subspaceBooks(col("__all")).as("__books"))

  /** One global aggregate: each (table, candidate set `s`) part's rows as
    * `(s, k = cid, cv = cvec)` entries, in one sorted array `__all`. */
  private def sortedEntries(parts: (DataFrame, Column)*): DataFrame =
    parts.map { case (df, s) =>
      df.select(s.as("s"), col("cid").cast("long").as("k"), col("cvec").as("cv"))
    }.reduce(_.unionByName(_))
      .agg(sort_array(collect_list(struct(col("s"), col("k"), col("cv")))).as("__all"))

  /** The sorted `(k, cv)` candidates of set `s` in a [[sortedEntries]] array. */
  private def entriesOf(all: Column, s: Column): Column =
    transform(filter(all, x => x.getField("s") === s),
      x => struct(x.getField("k").as("k"), x.getField("cv").as("cv")))

  /** [[entriesOf]] each subspace (sets ≥ 0), in ascending subspace order. */
  private def subspaceBooks(all: Column): Column =
    transform(array_distinct(filter(transform(all, x => x.getField("s")), s => s >= 0)),
      s => entriesOf(all, s))

  /** The fused per-row PQ code array: for each subspace, NearestKey's
    * argmin over that subspace's codebook on the row's slice — unrolled
    * over the m subspaces, so the projection stays in generated code. */
  private def pqCodes(codebooks: DataFrame, m: Int): Column =
    array((0 until m).map(s => graft.functions.NearestKey.nearestBySqDist(
        pqSlice(col("vec"), m, lit(s)), element_at(col("__books"), s + 1))
      .getField("key").cast(codebooks.schema("cid").dataType)): _*)

  /** PQ approximate top-k via ASYMMETRIC DISTANCE COMPUTATION: the query
    * precomputes its distance to every codebook centroid (m·ksub rows —
    * the ADC lookup table), and a candidate's approximate distance is the
    * SUM of table lookups selected by its codes. The corpus side touches
    * only the encoded table (m ints/vector, never the raw vectors): one
    * broadcast join on (subspace, code) + a per-(query, id) sum + the
    * shared top-k window. Deterministic (IEEE sums, id tiebreak) ⇒
    * oracle-checkable, unlike bucketed ANN. Output (qid, rank, id, adc). */
  def pqTopK(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      m: Int, k: Int): DataFrame = {
    val qparts = queries.select(col("qid"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => pqSlice(col("qvec"), m, s))).as(Seq("subspace", "qsub")))
    val dtable = qparts.join(codebooks, Seq("subspace"))
      .select(col("qid"), col("subspace"), col("cid").as("code"),
        sqDist(col("qsub"), col("cvec")).as("d2"))
    val scored = codes
      .select(col("id"), posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(dtable), Seq("subspace", "code"))
      .groupBy(col("qid"), col("id"))
      // decimal-exact sum of per-subspace distances (m rounded terms) so
      // partial-agg order can never flip a rank against the serial oracle
      .agg(sum(round(col("d2"), 6).cast(
        org.apache.spark.sql.types.DecimalType(28, 8))).cast("double").as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      // adc is already engine-exact (decimal sum of 6-dp terms) — a final
      // display rounding would reintroduce the cross-engine .5-tie hazard
      // the decimal sum exists to avoid (the q114 fraud_score lesson)
      .select(col("qid"), col("rank"), col("id"), col("adc"))
  }

  /** IVF×PQ INDEX — the maintained artifact of the billion-vector ANN
    * deployment (FAISS IndexIVFPQ shape): every corpus vector is assigned
    * to its nearest coarse centroid (its inverted LIST, squared-L2,
    * lowest-cid tiebreak — the [[kmeansAssign]] protocol) AND
    * product-quantized against the shared codebooks, in one projection of
    * the corpus scan against the one-row [[quantizerRow]] broadcast.
    * Output (id, cid, codes): m small ints + a list id per vector — the
    * raw vectors are never needed again at search time. Vectors are
    * encoded RAW (not residual-to-centroid), which keeps DuckDB-exact
    * oracle checking simple; [[ivfPqResidual]] is the residual form.
    *
    * The index is total: a vector with no nearest centroid (a null or NaN
    * vector, or no centroids) fails the build instead of landing in no
    * list. That makes `cid` non-nullable, so the `isnotnull(cid)` a
    * search's join on `cid` infers folds away; on a nullable `cid` the
    * optimizer pushes it into the nested loop above as a second
    * nearest-centroid search per row. */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int): DataFrame = {
    val nearest = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          graft.functions.NearestKey.nearestBySqDist(col("vec"), col("__cands"))),
        Seq("ivfPqIndex: a corpus vector has no nearest centroid")))
    corpus.crossJoin(broadcast(quantizerRow(centroids, codebooks)))
      .select(col("id"),
        nearest.getField("key").cast(centroids.schema("cid").dataType).as("cid"),
        pqCodes(codebooks, m).as("codes"))
  }

  /** The one-row broadcast an IVF×PQ index build and search share: the
    * centroid candidates `__cands` (as [[candsOf]]) and the codebooks
    * `__books` (as [[booksBySub]]) from one aggregate. Both sides use this
    * same plan, so a query broadcasts it once and reuses the exchange. */
  private def quantizerRow(centroids: DataFrame, codebooks: DataFrame): DataFrame =
    sortedEntries(centroids -> lit(-1), codebooks -> col("subspace"))
      .select(entriesOf(col("__all"), lit(-1)).as("__cands"), subspaceBooks(col("__all")).as("__books"))

  /** IVF×PQ approximate top-k — [[ivfTopK]]'s list pruning composed with
    * [[pqTopK]]'s asymmetric distance: the IVFADC search (Jégou, Douze &
    * Schmid, TPAMI 2011), one pass over the probed lists' codes. Each
    * query becomes `nProbe` rows (qid, cid, table), its lists sorted by
    * (d2, cid) from the [[quantizerRow]] candidates, the table holding per
    * subspace each codeword's `round(d2, 6)` as decimal(28,8). The rows
    * broadcast-join the index on `cid`, and a code's ADC is the m-term
    * decimal sum of its `element_at`/`array_position` table lookups, in
    * generated code; the (adc, id) window keeps the top k. Cost ∝
    * nProbe/|lists| of the codes. Deterministic (squared-L2, id
    * tiebreaks, exact decimal sums) ⇒ oracle-checkable. Output
    * (qid, rank, id, adc). */
  def ivfPqTopK(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, m: Int, k: Int, nProbe: Int = 2): DataFrame =
    adcTopK(index, centroids, codebooks, queries, m, k, nProbe)(
      _.withColumn("__tv", col("qvec")))

  /** The search of [[ivfPqTopK]], [[ivfPqResidualTopK]] and [[ivfPqOpqTopK]]:
    * `tableVec` adds to the probe rows (qid, qvec, cid, cvec, …) the vector
    * `__tv` their tables come from — the query or its (rotated) residual. */
  private def adcTopK(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, m: Int, k: Int, nProbe: Int)(
      tableVec: DataFrame => DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 8)
    val lists = queries.crossJoin(broadcast(quantizerRow(centroids, codebooks)))
      .select(col("qid"), col("qvec"), col("__books"),
        explode(slice(array_sort(transform(col("__cands"), c => struct(
          sqDist(col("qvec"), c.getField("cv")).as("d2"), c.getField("k").as("cid"),
          c.getField("cv").as("cvec")))), 1, nProbe)).as("p"))
      .select(col("qid"), col("qvec"), col("__books"),
        col("p.cid").cast(centroids.schema("cid").dataType).as("cid"), col("p.cvec").as("cvec"))
    val probes = tableVec(lists).select(col("qid"), col("cid"),
        transform(col("__books"), b => transform(b, x => x.getField("k"))).as("__keys"),
        array((0 until m).map(s => transform(element_at(col("__books"), s + 1), x =>
          round(sqDist(pqSlice(col("__tv"), m, lit(s)), x.getField("cv")), 6).cast(dec))): _*)
          .as("__adc"))
    val adc = (1 to m).map(s => element_at(element_at(col("__adc"), s),
        array_position(element_at(col("__keys"), s),
          element_at(col("codes"), s).cast("long")).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    index.join(broadcast(probes), Seq("cid"))
      .select(col("qid"), col("id"), adc.cast("double").as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adc"))
  }

  /** RESIDUAL IVF×PQ index — the FAISS IndexIVFPQ DEFAULT encoding:
    * each vector is quantized as its RESIDUAL to its coarse centroid
    * (vec − cvec), not raw. Residuals have a fraction of the raw
    * vectors' variance (the coarse quantizer has already explained the
    * list-level structure), so the same m×ksub code budget spends its
    * resolution on the fine detail — the standard recall win over raw
    * encoding. Codebooks are trained on the residuals themselves (seed
    * protocol: first `ksub` ids' residual slices, oracle-exact; Lloyd
    * refinement via `iters`). Plan shape matches [[ivfPqIndex]]: one
    * broadcast-centroid assignment scan, an element-wise subtract (no
    * extra shuffle), one broadcast-codebook encode. Returns (index:
    * (id, cid, codes), codebooks) — the books are derived data here,
    * unlike the raw path where they're an input. */
  /** Shared residualization: assign to the nearest coarse centroid and
    * subtract it — the one definition both the codebook training and the
    * encode path must agree on (package-visible for [[AnnIndex]]'s
    * persisted-artifact flow). */
  private[ext] def residualize(df: DataFrame, centroids: DataFrame): DataFrame =
    kmeansAssign(df, centroids)
      .select(col("id"), col("cluster").as("cid"), col("vec"))
      .join(broadcast(centroids), Seq("cid"))
      .select(col("id"), col("cid"),
        zip_with(col("vec"), col("cvec"), (x, y) => x - y).as("vec"))

  /** `seedFrom`: first corpus id of the ksub seed rows. When the coarse
    * centroids are themselves corpus rows (the q92 first-id protocol),
    * seeding from id 0 duplicates the exact-zero residual across the
    * overlapping seeds. That cuts the DISTINCT code count — but is not
    * automatically waste: residual distributions concentrate near zero,
    * so a zero code represents the densest region (measured BETTER on
    * the near-orthogonal testdata, where queries sit on centroids:
    * recall@10 0.28 vs 0.16 with disjoint seeds — QUALITY.md). Use
    * `seedFrom` past the centroid ids to spend the budget on distinct
    * residuals, or `iters > 1` to train on the full residual
    * distribution and let Lloyd place the near-zero codes. */
  def ivfPqResidual(corpus: DataFrame, centroids: DataFrame,
      m: Int, ksub: Int, iters: Int = 1, seedFrom: Long = 0L): (DataFrame, DataFrame) = {
    // Seed rows remapped to ids 0..ksub-1 (pqCodebooks' seed window).
    // In seed-only mode (iters = 1) the codebook branches see a corpus
    // pruned to the ksub seed rows — the filter reaches the parquet scan
    // instead of re-assigning the full corpus per branch. With Lloyd
    // refinement (iters > 1) the FULL corpus's residuals train the books
    // (non-seed ids shifted past ksub so only seeds init the codebook);
    // that is the training path and runs once, at books materialization.
    val seeds = residualize(
        corpus.filter(col("id") >= seedFrom && col("id") < seedFrom + ksub),
        centroids)
      .select((col("id") - seedFrom).as("id"), col("vec"))
    val bookInput =
      if (iters <= 1) seeds
      else seeds.unionByName(residualize(
          corpus.filter(col("id") < seedFrom || col("id") >= seedFrom + ksub),
          centroids)
        .select((col("id") + ksub).as("id"), col("vec")))
    // Books feed BOTH the encode join and the search's ADC table — PIN
    // them: an index-build artifact (m·ksub rows), computed once, not a
    // subplan to re-derive at every use site (the Dedup-vocab recipe).
    val books = pqCodebooks(bookInput, m, ksub, iters)
      .barrier()
    (ivfPqResidualEncode(corpus, centroids, books, m), books)
  }

  /** Residual encode against FROZEN artifacts — both the second half of
    * [[ivfPqResidual]] and the INCREMENTAL EXTENSION path: because
    * assignment and encoding are per-row functions of the (frozen)
    * centroids and codebooks, encoding a new batch and unioning it into
    * the index is BIT-IDENTICAL to rebuilding over the union
    * (spec-pinned) — the production flow where coarse/fine quantizers
    * retrain offline and the index extends online, existing vectors
    * never re-read. Same property holds for the raw path: [[ivfPqIndex]]
    * on a batch IS its extension increment. One pipeline, the list id
    * riding through the encode aggregation — the batch is assigned and
    * residualized exactly once. */
  def ivfPqResidualEncode(batch: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int): DataFrame =
    encodeAssigned(residualize(batch, centroids), codebooks, m)

  /** PQ-encode already-assigned rows (id, cid, vec) against frozen books —
    * the shared tail of the residual and rotated-residual encode paths. */
  private[ext] def encodeAssigned(assigned: DataFrame, codebooks: DataFrame,
      m: Int): DataFrame =
    // fused (r18) — the [[pqEncode]] shape with the list id flowing through
    // the projection instead of riding two regroup aggregations
    assigned.crossJoin(broadcast(booksBySub(codebooks)))
      .select(col("id"), col("cid"), pqCodes(codebooks, m).as("codes"))

  /** Residual IVF×PQ approximate top-k: [[ivfPqTopK]]'s search, each
    * (query, probed list) row's table built from the query's residual to
    * THAT list's centroid — what the list's codes approximate. Same cost as
    * the raw path; deterministic ⇒ oracle-checkable. Output (qid, rank, id, adc). */
  def ivfPqResidualTopK(index: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, queries: DataFrame,
      m: Int, k: Int, nProbe: Int = 2): DataFrame =
    adcTopK(index, centroids, codebooks, queries, m, k, nProbe)(
      _.withColumn("__tv", queryResidual))

  /** A probe row's query residual to its list's centroid. */
  private val queryResidual: Column =
    zip_with(col("qvec"), col("cvec"), (x, y) => x - y)

  /** OPQ-LITE: residual IVF×PQ with a PCA ROTATION ahead of codebook
    * training — the "wire PCA into PQ" integration ([[Pca]] → this tier).
    * Residuals are centered and rotated into their full eigenbasis
    * (k = d, an orthonormal square matrix) before slicing into PQ
    * subspaces. Centering + rotation are ISOMETRIC: pairwise L2 distances
    * between (query residual, candidate residual) are exactly preserved,
    * so search SEMANTICS are unchanged — what changes is where the
    * quantization budget goes. Raw subspace slicing wastes codebook
    * resolution on cross-subspace correlation; in the eigenbasis the
    * coordinates are decorrelated, and [[balanceBlocks]] (Ge et al.'s
    * eigenvalue allocation) then distributes the decorrelated variance
    * EVENLY across the m blocks — decorrelate + balance is the OPQ
    * mechanism. On data that is already isotropic the whole transform is
    * a no-op by construction — measured both ways in QUALITY.md's
    * anisotropic controls.
    *
    * 100 TB shape: [[Pca.fit]] is one extra mergeable-moments pass over
    * the residuals (d²-sized partials); the model ships as plan literals;
    * rotation is k codegen dot products per row behind the HOF barrier —
    * no new shuffle anywhere. Returns (index, books, model); queries must
    * rotate through the SAME model ([[ivfPqOpqTopK]]). */
  def ivfPqOpq(corpus: DataFrame, centroids: DataFrame,
      m: Int, ksub: Int, iters: Int = 1, seedFrom: Long = 0L)
      : (DataFrame, DataFrame, Pca.Model) = {
    val (books, model) = opqBooks(corpus, centroids, m, ksub, iters, seedFrom)
    (ivfPqOpqEncode(corpus, centroids, books, model, m), books, model)
  }

  /** The training half of [[ivfPqOpq]] — fit + balance the rotation model
    * on the corpus residuals and train the rotated-residual codebooks —
    * for callers that persist the artifacts and encode later
    * ([[AnnIndex]]'s maintained-index flow). */
  def opqBooks(corpus: DataFrame, centroids: DataFrame,
      m: Int, ksub: Int, iters: Int = 1, seedFrom: Long = 0L)
      : (DataFrame, Pca.Model) = {
    val resid = residualize(corpus, centroids).barrier()
    val d = resid.select(org.apache.spark.sql.functions.size(col("vec")))
      .limit(1).collect().headOption // model dimension — metadata, not data
      .getOrElse(throw new IllegalArgumentException(
        "opqBooks: empty training sample — the OPQ rotation needs at least " +
          "one residual vector (mirrors Pca.fit's n > 1 requirement)"))
      .getInt(0)
    val model = balanceBlocks(Pca.fit(resid, "vec", d, d), m)
    val rot = rotateAssigned(resid, model)
      .barrier() // feeds seeds AND full-corpus training
    val seeds = rot
      .filter(col("id") >= seedFrom && col("id") < seedFrom + ksub)
      .select((col("id") - seedFrom).as("id"), col("vec"))
    val bookInput =
      if (iters <= 1) seeds
      else seeds.unionByName(rot
        .filter(col("id") < seedFrom || col("id") >= seedFrom + ksub)
        .select((col("id") + ksub).as("id"), col("vec")))
    val books = pqCodebooks(bookInput, m, ksub, iters)
      .barrier()
    (books, model)
  }

  /** Rotated-residual encode against FROZEN (books, model) — the OPQ twin
    * of [[ivfPqResidualEncode]], with the same extension == rebuild
    * property (assignment, rotation and encoding are per-row functions of
    * frozen artifacts). */
  def ivfPqOpqEncode(batch: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, model: Pca.Model, m: Int): DataFrame =
    encodeAssigned(rotateAssigned(residualize(batch, centroids), model),
      codebooks, m)

  private def rotateAssigned(assigned: DataFrame, model: Pca.Model): DataFrame =
    Pca.project(assigned, "vec", model, "__rvec")
      .select(col("id"), col("cid"), col("__rvec").as("vec"))

  /** EIGENVALUE ALLOCATION (Ge et al., OPQ): permute the rotated axes so
    * each PQ block receives a BALANCED share of the variance (greedy:
    * eigenvalues descending, each assigned to the block with the smallest
    * log-variance product and free capacity). A raw descending-eigenvalue
    * rotation ANTI-balances — it concentrates all variance in block 0,
    * which that block's ksub codes then can't cover while the tail blocks
    * quantize near-nothing (measured: distortion-neutral-to-worse on the
    * r13 rank-1 control). Row permutations of an orthonormal basis stay
    * orthonormal, so the isometry argument is untouched. Blocks mirror
    * [[pqSlice]]'s bounds: ⌊d/m⌋ per block, last takes the remainder. */
  private[ext] def balanceBlocks(model: Pca.Model, m: Int): Pca.Model = {
    val d = model.components.length
    val base = d / m
    val cap = Array.tabulate(m)(b => if (b == m - 1) d - base * (m - 1) else base)
    val logSum = new Array[Double](m)
    val slots = Array.fill(m)(scala.collection.mutable.ArrayBuffer[Int]())
    for (i <- model.components.indices) { // eigenvalues come descending
      // among the LEAST-FILLED blocks, the one with the smallest variance
      // product so far. The fill constraint is load-bearing: with all
      // λ < 1 (log < 0) an unconstrained min-product greedy keeps feeding
      // the block it already fed — the ANTI-balanced layout (measured:
      // recall 0.30 vs plain 0.44 before this fix). Constrained, the
      // assignment snakes: biggest λs fan out across blocks, later waves
      // compensate inversely.
      val open = (0 until m).filter(cap(_) > 0)
      val maxCap = open.map(cap(_)).max
      val b = open.filter(cap(_) == maxCap).minBy(logSum(_))
      slots(b) += i
      cap(b) -= 1
      logSum(b) += math.log(math.max(model.eigenvalues(i), 1e-300))
    }
    val order = slots.flatMap(_.toSeq)
    Pca.Model(model.mean,
      order.map(model.eigenvalues).toArray,
      order.map(model.components).toArray)
  }

  /** Search over an [[ivfPqOpq]] index: identical to [[ivfPqResidualTopK]]
    * except each query's per-list residual rotates through the SAME PCA
    * model the corpus was encoded under (isometry ⇒ the ADC distances
    * approximate the same L2 the unrotated path approximates). */
  def ivfPqOpqTopK(index: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, model: Pca.Model, queries: DataFrame,
      m: Int, k: Int, nProbe: Int = 2): DataFrame =
    adcTopK(index, centroids, codebooks, queries, m, k, nProbe)(
      p => Pca.project(p.withColumn("__res", queryResidual), "__res", model, "__tv"))

  /** IVF×PQ search with EXACT RE-RANKING — the FAISS refine stage
    * (IndexRefineFlat over IndexIVFPQ): [[ivfPqTopK]] produces an ADC
    * shortlist of `shortlist` candidates per query, then the TRUE
    * squared-L2 distance re-ranks the shortlist and the top `k` survive.
    * Recall ≈ the shortlist's (ADC quantization error can demote a true
    * neighbor only below position `shortlist`, not out of the final k);
    * rank quality = exact. The raw-vector fetch is a BROADCAST-pruned
    * keyed join touching |queries|·shortlist corpus rows — at
    * billion-vector scale the scan-heavy work stays on the m-int codes
    * and the full-precision vectors are read for ~50 rows per query,
    * never scanned. Deterministic end-to-end (the exact distance is the
    * same dot-combination both engines evaluate left-to-right) ⇒
    * oracle-checkable. Output (qid, rank, id, d2). */
  def ivfPqRefine(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, corpus: DataFrame, m: Int, k: Int,
      nProbe: Int = 2, shortlist: Int = 50): DataFrame =
    refineShortlist(
      ivfPqTopK(index, centroids, codebooks, queries, m, shortlist, nProbe)
        .select(col("qid"), col("id")),
      queries, corpus, k)

  /** Exact re-rank of an ARBITRARY candidate set `(qid, id)` — the
    * refine stage decoupled from its candidate generator, so any
    * approximate searcher composes with it (raw ADC [[ivfPqTopK]],
    * residual [[ivfPqResidualTopK]], LSH buckets, …). Raw vectors are
    * fetched for candidate rows only via the broadcast-pruned keyed
    * join; the exact distance is the engine-portable dot combination. */
  def refineShortlist(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val fetched = corpus.join(broadcast(cand), Seq("id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("d2", sqDist(col("vec"), col("qvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))
    fetched.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("d2"))
  }

  /** Approximate top-k with MULTI-TABLE OR-AMPLIFICATION: a candidate
    * shares a hyperplane-signature bucket with the query in ANY of the
    * `nTables` independent signature tables (the [[cosineNearDupPairs]]
    * amplification, recall ≈ 1-(1-pⁿᴾˡᵃⁿᵉˢ)ⁿᵀᵃᵇˡᵉˢ with p = 1-θ/π);
    * exact cosine ranks within the deduplicated candidates. Still one
    * corpus scan (all signatures in one projection, exploded to nTables
    * bucket keys) and one bucket-keyed join against the BROADCAST query
    * signatures — no cross join at any scale; candidate volume is the
    * recall/cost dial: nTables × |corpus| / 2ⁿᴾˡᵃⁿᵉˢ expected rows per
    * query before the pair-distinct. The r9 single-table configuration
    * (nTables = 1) measured recall@10 = 0.00 on the near-orthogonal
    * testdata (QUALITY.md); the amplified default is measured materially
    * above chance there, with the dial curve on record. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 12, nTables: Int = 1,
      portablePlanes: Boolean = false): DataFrame = {
    val cand = lshCandidates(corpus, queries, nPlanes, nTables, portablePlanes)
      .join(corpus, Seq("id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("sim", cosine(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim"))
  }

  /** The deduplicated LSH candidate set `(qid, id)` — [[lshTopK]]'s
    * bucket-join stage WITHOUT the vector attach / cosine verify / rank.
    * The per-query candidate volume is the recall-vs-cost dial the quality
    * probe records; counting it here costs one bucket join + distinct
    * (r18 — the probe previously ranked the full pipeline at
    * k = Int.MaxValue, paying an unbounded-k window sort just to count).
    * Pair-distinct happens on the INTEGER keys before any vector rides an
    * exchange: a pair colliding in several tables shuffles one (qid, id)
    * row and is verified once downstream. */
  def lshCandidates(corpus: DataFrame, queries: DataFrame,
      nPlanes: Int = 12, nTables: Int = 1,
      portablePlanes: Boolean = false): DataFrame = {
    // portablePlanes (r16): plane components from the PortableHash modular
    // family instead of xxhash64 — identical structure and cost, but a
    // DuckDB oracle re-derives the exact bucket keys (q34's full-oracle
    // conversion); sign bits come from identical left-to-right double
    // chains (the q33 recipe), so the keys match bit-for-bit
    def sig(vecCol: String, t: Int) =
      if (portablePlanes)
        graft.functions.PortableHashSig.portableHyperplaneSig(
          col(vecCol), nPlanes, planeOffset = t * nPlanes)
      else hyperplaneSignature(col(vecCol), nPlanes, planeOffset = t * nPlanes)
    def buckets(df: DataFrame, idCol: String, vecCol: String) = df.select(
      col(idCol), explode(array((0 until nTables).map(t =>
        struct(lit(t).as("table"), sig(vecCol, t).as("sig"))): _*)).as("bh"))
    buckets(corpus, "id", "vec")
      .join(broadcast(buckets(queries, "qid", "qvec")), Seq("bh"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
      .distinct()
  }

  /** Sign-matrix random projection (Achlioptas 2003: ±1 entries satisfy
    * the Johnson–Lindenstrauss distance-preservation bound with the same
    * constants as Gaussian projections) — dimensionality reduction for
    * the embedding tier: project d-dim vectors to `dOut` dims as a
    * PREPROCESSING step that shrinks every downstream distance
    * computation (brute-force cosine, IVF assignment, k-means) by d/dOut
    * while distorting pairwise distances by O(√(log n / dOut)).
    *
    * The projection is INTEGER-EXACT so it hash-matches across engines:
    * components are floor-quantized to 1e-6 Longs (float→double is exact,
    * the 1e6 multiply is one IEEE op both engines evaluate identically —
    * the r11 floor-quantization rule), and the ±1 sign for (input dim j,
    * output dim i) comes from the portable Knuth hash
    * `(j*1000003 + i) * 2654435761 mod 1000000007 mod 2` — a pure
    * function, so the "matrix" is never materialized, broadcast, or
    * stored: any executor, any engine, any batch regenerates the same
    * projection (the property that makes incremental extension trivial —
    * new vectors project identically forever).
    *
    * One projection scan, no shuffle, no UDF: d·dOut multiply-adds per
    * row in one native fused loop.
    */
  def randomProject(vecs: DataFrame, idCol: String, vecCol: String,
      dOut: Int): DataFrame =
    vecs.select(col(idCol),
      // native fused loop (r18) — bit-identical to the HOF reference
      // formulation (spec-pinned in SimilaritySpec), minus the d×dOut
      // interpreted lambda evaluations per row that were the whole q133
      // wall (a zero-exchange projection scan)
      graft.functions.RandomProjection.randomProjection(col(vecCol), dOut)
        .as("proj"))
}
