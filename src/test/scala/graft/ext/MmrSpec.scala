package graft.ext

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** Pins [[Similarity.mmrTopKFused]], the operator q217 ships — the
  * iterative greedy is not SQL-expressible, so q217 is rows-only at the
  * driver and THIS spec is the correctness gate: bit-equality against a
  * sequential reference greedy fed the operator's own pool/pair
  * similarities, the λ=1 ≡ relevance-rank reduction, a planted-duplicate
  * scenario where diversification must visibly change the picks, and
  * bit-equality with the round-based reference [[SimilarityRefs.mmrTopK]].
  */
class MmrSpec extends SparkSuite {
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  private def corpus = Tables.load(spark, dir, "embeddings")
    .select($"vec_id".as("id"), $"embedding".as("vec"))
  private def queries = Tables.load(spark, dir, "embeddings")
    .filter($"vec_id" < 3)
    .select($"vec_id".as("qid"), $"embedding".as("qvec"))

  /** Sequential reference greedy over collected pool + pair sims — the same
    * double arithmetic (sim·λ − (1−λ)·maxPairSim, ties by id) in plain
    * Scala, one query at a time. */
  private def referenceMmr(
      pool: Seq[(Long, Long, Double)],          // (qid, id, sim)
      psim: Map[(Long, Long, Long), Double],    // (qid, ia, ib) -> sim
      k: Int, lambda: Double): Seq[(Long, Long, Long)] = { // (qid, pick, id)
    pool.groupBy(_._1).toSeq.flatMap { case (qid, cands0) =>
      var cands = cands0.map(c => (c._2, c._3)).sortBy(_._1)
      var selected = Vector.empty[Long]
      (1 to k).map { pick =>
        val scored = cands.map { case (id, sim) =>
          val div = if (selected.isEmpty) 0.0
            else selected.map(s => psim((qid, id, s))).max
          val score = if (selected.isEmpty) sim * lambda
            else sim * lambda - (1.0 - lambda) * div
          (id, score)
        }
        val best = scored.minBy { case (id, score) => (-score, id) }._1
        selected :+= best
        cands = cands.filterNot(_._1 == best)
        (qid, pick.toLong, best)
      }
    }
  }

  test("mmrTopK equals the sequential reference greedy (λ=0.7)") {
    val k = 8; val poolSize = 20; val lambda = 0.7
    val got = Similarity.mmrTopKFused(corpus, queries, k, poolSize, lambda)
      .select($"qid", $"pick", $"id")
      .as[(Long, Long, Long)].collect().toSeq

    // rebuild the operator's own inputs for the reference
    val pool = Similarity.bruteForceTopK(corpus, queries, poolSize)
      .select($"qid", $"id", $"sim").as[(Long, Long, Double)].collect().toSeq
    val withVec = Similarity.bruteForceTopK(corpus, queries, poolSize)
      .join(corpus, "id").select($"qid", $"id", $"vec")
    val psim = withVec.select($"qid", $"id".as("ia"), $"vec".as("va"))
      .join(withVec.select($"qid".as("qb"), $"id".as("ib"), $"vec".as("vb")),
        $"qid" === $"qb" && $"ia" =!= $"ib")
      .select($"qid", $"ia", $"ib", Similarity.cosine($"va", $"vb").as("p"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap

    val want = referenceMmr(pool, psim, k, lambda)
    assert(got.sorted === want.sorted)
  }

  test("λ=1 reduces to plain relevance ranking") {
    val k = 10
    val got = Similarity.mmrTopKFused(corpus, queries, k, poolSize = 25, lambda = 1.0)
      .select($"qid", $"pick", $"id").as[(Long, Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(corpus, queries, k)
      .select($"qid", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("planted duplicates: MMR skips the redundant cluster, plain top-k does not") {
    // cluster A = three EXACT copies (pair sim 1.0 → max redundancy
    // penalty); B = near-orthogonal but novel. At λ=0.3 the novelty term
    // must beat the duplicates' higher relevance:
    //   dup:  0.3·0.994 − 0.7·1.000 ≈ −0.40
    //   B:    0.3·0.110 − 0.7·0.220 ≈ −0.12  → B wins pick 2
    val c = Seq(
      (10L, Seq(0.9f, 0.1f)), (11L, Seq(0.9f, 0.1f)), (12L, Seq(0.9f, 0.1f)),
      (20L, Seq(0.1f, 0.9f))
    ).toDF("id", "vec")
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")

    val plain = Similarity.bruteForceTopK(c, q, 2)
      .orderBy($"rank").select($"id").as[Long].collect().toSeq
    assert(plain === Seq(10L, 11L),
      s"plain top-2 stays inside the duplicate cluster (ties by id), got $plain")

    val mmr = Similarity.mmrTopKFused(c, q, k = 2, poolSize = 4, lambda = 0.3)
      .orderBy($"pick").select($"id").as[Long].collect().toSeq
    assert(mmr.head === plain.head, "first MMR pick is pure relevance")
    assert(mmr(1) === 20L,
      s"second pick must leave the exact-duplicate cluster, got ${mmr(1)}")
  }

  test("fused aggregator form is bit-equal to the round-based operator") {
    val k = 8; val pool = 20
    for (lambda <- Seq(0.3, 0.7, 1.0)) {
      val rounds = SimilarityRefs.mmrTopK(corpus, queries, k, pool, lambda)
        .select($"qid", $"pick", $"id", $"sim", $"mmr")
        .as[(Long, Long, Long, Double, Double)].collect().sorted.toSeq
      val fused = Similarity.mmrTopKFused(corpus, queries, k, pool, lambda)
        .select($"qid", $"pick", $"id", $"sim", $"mmr")
        .as[(Long, Long, Long, Double, Double)].collect().sorted.toSeq
      assert(fused === rounds, s"fused != round-based at λ=$lambda")
    }
  }

  test("output shape: k distinct picks per query, pick is 1..k") {
    val k = 6
    val out = Similarity.mmrTopKFused(corpus, queries, k, poolSize = 15, lambda = 0.7)
      .select($"qid", $"pick", $"id").as[(Long, Long, Long)].collect().toSeq
    val byQ = out.groupBy(_._1)
    assert(byQ.size === 3)
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_._3).distinct.size === k, s"qid=$qid picks must be distinct")
      assert(rows.map(_._2).sorted === (1L to k.toLong), s"qid=$qid pick sequence")
    }
  }
}
