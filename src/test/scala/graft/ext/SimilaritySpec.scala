package graft.ext

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSuite {
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine($"a", $"b").as("same"),
      Similarity.cosine($"a", $"c").as("orth")).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute force top-k: ranks are dense, sims non-increasing, no self") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val out = Similarity.bruteForceTopK(corpus, queries, 5)
      .as[(Long, Long, Long, Double)].collect().groupBy(_._1)
    assert(out.size === 3)
    out.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to 5L))
      assert(sorted.sliding(2).forall(p => p(0)._4 >= p(1)._4), "sims must be non-increasing")
      assert(!rows.exists(_._3 == qid), "self-pair excluded")
    }
  }

  test("LSH top-k is a high-precision subset of brute-force ranking") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val truth = Similarity.bruteForceTopK(corpus, queries, 20)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val approx = Similarity.lshTopK(corpus, queries, 5, nPlanes = 4)
      .as[(Long, Long, Long, Double)].collect()
    // near-uniform random vectors: top-20-of-500 random baseline is ~4%;
    // require a ≥4× lift from bucketing (precision; recall is plane-tunable)
    val hits = approx.filter(r => truth.contains(r._1))
    val inTop = hits.count(r => truth(r._1).contains(r._3))
    assert(hits.nonEmpty, "LSH should produce candidates at 4 planes")
    assert(inTop.toDouble / hits.length > 0.16,
      s"LSH precision vs top-20 shows no lift over random: $inTop/${hits.length}")
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val emb = Tables.load(spark, dir, "embeddings")
    val pairs = emb.select($"vec_id".as("ia"), $"embedding".as("a"))
      .crossJoin(emb.select($"vec_id".as("ib"), $"embedding".as("b")).limit(20))
      .limit(2000)
    val diff = pairs.filter(
      Similarity.cosine($"a", $"b") =!= SimilarityRefs.cosineHof($"a", $"b")).count()
    assert(diff === 0, "native and HOF cosine must agree bitwise")
  }

  test("hyperplane signature is deterministic") {
    val emb = Tables.load(spark, dir, "embeddings").limit(20)
    val s1 = emb.select($"vec_id", Similarity.hyperplaneSignature($"embedding", 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    val s2 = emb.select($"vec_id", Similarity.hyperplaneSignature($"embedding", 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(s1 === s2)
  }

  test("IVF top-k probes nearest lists and beats random precision") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val cents = emb.filter($"vec_id" % 31 === 0)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val truth = Similarity.bruteForceTopK(corpus, queries, 20)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val approx = Similarity.ivfTopK(corpus, queries, cents, 5, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(approx.nonEmpty, "IVF should produce candidates")
    approx.groupBy(_._1).foreach { case (_, rows) =>
      val ranks = rows.map(_._2).sorted
      assert(ranks.toSeq === (1L to ranks.length), "dense ranks per query")
    }
    val hits = approx.count(r => truth(r._1).contains(r._3))
    // top-20-of-500 random baseline is 4%; require a clear lift
    assert(hits.toDouble / approx.length > 0.16,
      s"IVF precision shows no lift over random: $hits/${approx.length}")
  }

  test("native hyperplane signature equals the HOF formulation on every vector") {
    val emb = Tables.load(spark, dir, "embeddings")
    for ((planes, off) <- Seq((4, 0), (8, 0), (12, 0), (12, 24))) {
      val diff = emb.filter(
        Similarity.hyperplaneSignature($"embedding", planes, off) =!=
          SimilarityRefs.hyperplaneSignatureHof($"embedding", planes, off)).count()
      assert(diff === 0, s"native and HOF signatures must agree at nPlanes=$planes offset=$off")
    }
  }

  test("cosine near-dup pairs: high recall of true pairs, no false positives") {
    val emb = Tables.load(spark, dir, "embeddings")
    val dups = emb.filter($"vec_id" % 10 === 0).select(
      ($"vec_id" + 100000).as("id"),
      transform($"embedding", (x, i) =>
        (x.cast("double") +
          (pmod($"vec_id" * (i + lit(1)), lit(7)).cast("double") - 3.0) * 0.005)
          .cast("float")).as("vec"))
    val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec")).unionByName(dups)
    // truth: brute-force all-pairs at the same threshold (test scale only)
    val a = corpus.select($"id".as("ia"), $"vec".as("va"))
    val b = corpus.select($"id".as("ib"), $"vec".as("vb"))
    val truth = a.crossJoin(b).filter($"ia" < $"ib")
      .filter(Similarity.cosine($"va", $"vb") >= 0.98)
      .select($"ia", $"ib").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "perturbed dups must create true near-dup pairs")
    val got = Similarity.cosineNearDupPairs(corpus, 0.98)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truth), "exact verify means zero false positives")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.8, s"multi-table LSH recall too low: ${got.size}/${truth.size}")
  }

  test("semantic dedup: drops exactly the higher-id member of within-cluster pairs") {
    // two well-separated clusters around the axes; c-vectors are near-dups of
    // their cluster seed, id order decides who survives
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),   // cluster A seed — kept
      (2L, Seq(0.99f, 0.01f, 0.0f)), // near-dup of 1 — dropped
      (3L, Seq(0.0f, 1.0f, 0.0f)),   // cluster B seed — kept
      (4L, Seq(0.01f, 0.99f, 0.0f)), // near-dup of 3 — dropped
      (5L, Seq(0.6f, 0.8f, 0.0f))    // cluster B, NOT a near-dup — kept
    ).toDF("id", "vec")
    val cents = Seq((10L, Seq(1.0f, 0.0f, 0.0f)), (20L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "cvec")
    val out = Similarity.semanticDedup(corpus, cents, threshold = 0.99)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._2).toSeq ===
      Seq(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L, 5L -> 20L))
    assert(out.filter(_._3).map(_._1).toSeq === Seq(2L, 4L),
      "exactly the higher-id member of each near-dup pair is dropped")
  }

  test("semantic dedup on perturbed corpus: high dup recall, zero originals dropped") {
    val emb = Tables.load(spark, dir, "embeddings")
    val dups = emb.filter($"vec_id" % 10 === 0).select(
      ($"vec_id" + 100000).as("id"),
      transform($"embedding", (x, i) =>
        (x.cast("double") +
          (pmod($"vec_id" * (i + lit(1)), lit(7)).cast("double") - 3.0) * 0.005)
          .cast("float")).as("vec"))
    val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec")).unionByName(dups)
    val cents = emb.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val out = Similarity.semanticDedup(corpus, cents, threshold = 0.98)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length === corpus.count())
    val dropped = out.filter(_._3).map(_._1).toSet
    val dupIds = dups.select($"id").as[Long].collect().toSet
    // a dup and its original usually share a nearest centroid (they are
    // ~identical), but a pair whose two centroid sims are nearly tied can
    // straddle the boundary — the documented SemDeDup recall trade-off — so
    // this is a recall bound, not an exactness claim
    val recall = dupIds.count(dropped).toDouble / dupIds.size
    assert(recall >= 0.7, s"cluster-bounded dedup recall too low: $recall")
    // raw embeddings are near-orthogonal: no original may be dropped
    assert(dropped.forall(_ >= 100000L), "an original (near-orthogonal) vector was dropped")
  }

  test("k-means centroids drop into IVF as the refined coarse quantizer") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val corpusD = emb.select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val init = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val cents = Similarity.kmeansUpdate(Similarity.kmeansLloyd(corpusD, init, 2))
    val queries = emb.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val out = Similarity.ivfTopK(corpus, queries, cents, k = 5, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to rows.length.toLong))
      assert(sorted.sliding(2).filter(_.length == 2)
        .forall(p => p(0)._4 >= p(1)._4))
      assert(!rows.exists(_._3 == qid))
    }
  }

  test("native squared-L2 expression is bit-identical to the HOF formulation") {
    val emb = Tables.load(spark, dir, "embeddings")
    val pairs = emb.select($"vec_id".as("id"), $"embedding".as("a"))
      .crossJoin(emb.filter($"vec_id" < 5).select($"embedding".as("b")))
    val diff = pairs.select(
        Similarity.sqDist($"a", $"b").as("native"),
        SimilarityRefs.sqDistHof($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof") // bit-exact: no tolerance
    assert(diff.count() === 0L)
  }

  test("k-means: Lloyd iterations never increase inertia; assignment is total") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val init = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val n = corpus.count()
    def inertia(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum($"d2")).head.getDouble(0)
    val passes = (1 to 3).map(i => Similarity.kmeansLloyd(corpus, init, i))
    passes.foreach(p => assert(p.count() === n, "every vector is assigned"))
    val inertias = passes.map(inertia)
    // Lloyd monotonicity: both half-steps (re-assign, re-center) are
    // non-increasing in the k-means objective
    assert(inertias.sliding(2).forall(w => w(1) <= w(0) + 1e-9),
      s"inertia increased across Lloyd passes: $inertias")
    val k = passes.last.select($"cluster").distinct().count()
    assert(k <= 6 && k >= 2, s"degenerate clustering: $k clusters")
  }

  test("PQ: codes are m small ints, training tightens quantization, ADC beats random") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val m = 4
    val seedBooks = Similarity.pqCodebooks(corpus, m, ksub = 16, iters = 1)
    val trainedBooks = Similarity.pqCodebooks(corpus, m, ksub = 16, iters = 3)
    assert(seedBooks.count() === 4 * 16 && trainedBooks.count() === 4 * 16)
    val codes = Similarity.pqEncode(corpus, seedBooks, m)
    assert(codes.count() === corpus.count())
    assert(codes.filter(size($"codes") =!= m).count() === 0)
    // quantization error = sum over subspaces of d2(sub, assigned centroid);
    // Lloyd-trained codebooks must not be worse than the raw seed slices
    def qerr(books: org.apache.spark.sql.DataFrame): Double = {
      val parts = corpus.select($"id",
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice($"vec", size($"vec") / m * s + 1, size($"vec") / m)))
          .as(Seq("subspace", "sub")))
      parts.join(books, Seq("subspace"))
        .withColumn("d2", Similarity.sqDist($"sub", $"cvec"))
        .groupBy($"id", $"subspace").agg(min($"d2").as("d2"))
        .agg(sum($"d2")).head.getDouble(0)
    }
    val (se, te) = (qerr(seedBooks), qerr(trainedBooks))
    assert(te <= se + 1e-9, s"training must tighten quantization: seed=$se trained=$te")
    // ADC ranking must recover far more of the exact L2 top-k than chance:
    // the corpus is near-orthogonal random vectors, so this is the hard case
    val queries = corpus.filter($"id" < 3).select($"id".as("qid"), $"vec".as("qvec"))
    val approx = Similarity.pqTopK(codes, seedBooks, queries, m, k = 20)
      .select($"qid", $"id").as[(Long, Long)].collect().groupBy(_._1)
    val exact = corpus.as("c").crossJoin(queries)
      .withColumn("d2", Similarity.sqDist($"vec", $"qvec"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"d2", $"id")))
      .filter($"rank" <= 20).select($"qid", $"id")
      .as[(Long, Long)].collect().groupBy(_._1)
    val n = corpus.count().toDouble
    approx.foreach { case (qid, hits) =>
      val overlap = hits.map(_._2).toSet.intersect(exact(qid).map(_._2).toSet).size
      // random 20-of-n overlap expectation is 20*20/n (< 1 here)
      assert(overlap >= 5, s"qid=$qid ADC recall@20 = $overlap/20 (chance ≈ ${400 / n})")
    }
  }

  test("IVF×PQ: index is total, full-probe equals flat ADC, pruning equals restricted ADC") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val m = 4
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val books = Similarity.pqCodebooks(corpus, m, ksub = 16, iters = 1)
    val index = Similarity.ivfPqIndex(corpus, cents, books, m)
    // index totality + shape: every vector in exactly one list, m codes
    assert(index.count() === corpus.count())
    assert(index.filter(size($"codes") =!= m).count() === 0)
    assert(index.select($"cid").distinct().count() <= 8)
    val queries = corpus.filter($"id" < 3).select($"id".as("qid"), $"vec".as("qvec"))
    // probing EVERY list admits everything: must be BIT-IDENTICAL to the
    // flat ADC scan (same codes, same decimal sums, same tiebreaks)
    val codes = Similarity.pqEncode(corpus, books, m)
    val flat = Similarity.pqTopK(codes, books, queries, m, k = 20)
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val fullProbe = Similarity.ivfPqTopK(index, cents, books, queries, m,
        k = 20, nProbe = 8)
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    assert(fullProbe === flat, "nProbe = |lists| must reproduce flat ADC exactly")
    // nProbe=2 pruning: the result must equal the flat ADC ranking
    // RESTRICTED to ids in the query's probed lists — pruning changes
    // which candidates are seen, never how they are ranked
    val nPr = 2
    val pruned = Similarity.ivfPqTopK(index, cents, books, queries, m,
        k = 10, nProbe = nPr)
      .select($"qid", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("d2c", Similarity.sqDist($"qvec", $"cvec"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"d2c", $"cid")))
      .filter($"rn" <= nPr).select($"qid", $"cid")
    val fullRank = Similarity.pqTopK(codes, books, queries, m, k = Int.MaxValue)
    val expected = fullRank
      .join(index.select($"id", $"cid"), Seq("id"))
      .join(probes, Seq("qid", "cid"), "left_semi")
      .withColumn("rrank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"rank")).cast("long"))
      .filter($"rrank" <= 10)
      .select($"qid", $"rrank", $"id").as[(Long, Long, Long)].collect().toSet
    assert(pruned === expected,
      "list-pruned ADC must equal flat ADC restricted to probed lists")
    // and the pruned scan genuinely prunes: fewer candidates than the corpus
    val probedIds = index.join(probes, Seq("cid"), "left_semi")
      .select($"id").distinct().count()
    assert(probedIds < corpus.count(),
      "nProbe < |lists| must restrict the scanned code set")
  }

  test("PQ codebooks, IVF×PQ index and searches equal their join/union references row for row") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val queries = corpus.filter($"id" < 5).select($"id".as("qid"), $"vec".as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).sortBy(_.mkString("|")).toSeq
    // m = 3 leaves a 22-dim remainder subspace on the 64-dim vectors
    for (m <- Seq(3, 4); iters <- Seq(1, 2)) {
      val books = Similarity.pqCodebooks(corpus, m, ksub = 16, iters)
      assert(rows(books) === rows(SimilarityRefs.pqCodebooksUnion(corpus, m, 16, iters)),
        s"codebooks m=$m iters=$iters")
      val index = Similarity.ivfPqIndex(corpus, cents, books, m)
      val indexRef = Similarity.encodeAssigned(Similarity.kmeansAssign(corpus, cents)
        .select($"id", $"cluster".as("cid"), $"vec"), books, m)
      assert(rows(index) === rows(indexRef), s"index m=$m iters=$iters")
      for (nProbe <- Seq(1, 2, 8)) {
        val got = rows(Similarity.ivfPqTopK(index, cents, books, queries, m, k = 10, nProbe))
        assert(got.size === 50, s"5 queries × top-10, m=$m iters=$iters nProbe=$nProbe")
        assert(got === rows(SimilarityRefs.ivfPqTopKJoin(index, cents, books, queries, m, 10,
          nProbe)), s"search m=$m iters=$iters nProbe=$nProbe")
      }
    }
    // the residual and PCA-rotated residual searches share the raw search
    for (m <- Seq(3, 4)) {
      val (rIndex, rBooks) = Similarity.ivfPqResidual(corpus, cents, m, ksub = 16)
      val (oIndex, oBooks, model) = Similarity.ivfPqOpq(corpus, cents, m, ksub = 16)
      for (nProbe <- Seq(1, 2, 8)) {
        val res = rows(Similarity.ivfPqResidualTopK(rIndex, cents, rBooks, queries, m, 10,
          nProbe))
        assert(res.size === 50 && res === rows(SimilarityRefs.ivfPqResidualTopKJoin(rIndex,
          cents, rBooks, queries, None, m, 10, nProbe)), s"residual m=$m nProbe=$nProbe")
        val opq = rows(Similarity.ivfPqOpqTopK(oIndex, cents, oBooks, model, queries, m, 10,
          nProbe))
        assert(opq.size === 50 && opq === rows(SimilarityRefs.ivfPqResidualTopKJoin(oIndex,
          cents, oBooks, queries, Some(model), m, 10, nProbe)), s"OPQ m=$m nProbe=$nProbe")
      }
    }
  }

  test("IVF×PQ refine: full shortlist equals exact top-k; recall never below unrefined") {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val m = 4
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val books = Similarity.pqCodebooks(corpus, m, ksub = 16, iters = 1)
    val index = Similarity.ivfPqIndex(corpus, cents, books, m)
    val queries = corpus.filter($"id" < 3).select($"id".as("qid"), $"vec".as("qvec"))
    // exact L2 top-10 RESTRICTED to the probed lists (what refine can at
    // best recover given the same nProbe): with the shortlist covering all
    // probed candidates, refine must reproduce it exactly — the re-rank
    // stage itself is lossless
    val nc = corpus.count().toInt
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("d2c", Similarity.sqDist($"qvec", $"cvec"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"d2c", $"cid")))
      .filter($"rn" <= 2).select($"qid", $"cid")
    val exactInLists = index.select($"id", $"cid").join(probes, Seq("cid"))
      .join(corpus, Seq("id")).join(broadcast(queries), Seq("qid"))
      .withColumn("d2", Similarity.sqDist($"vec", $"qvec"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"d2", $"id")).cast("long"))
      .filter($"rank" <= 10).select($"qid", $"rank", $"id")
      .as[(Long, Long, Long)].collect().toSet
    val fullShortlist = Similarity.ivfPqRefine(index, cents, books, queries,
        corpus, m, k = 10, nProbe = 2, shortlist = nc)
      .select($"qid", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
    assert(fullShortlist === exactInLists,
      "refine with an all-candidate shortlist must equal exact L2 over the probed lists")
    // exact GLOBAL top-10 per query (the recall target)
    val exact = corpus.crossJoin(broadcast(queries))
      .withColumn("d2", Similarity.sqDist($"vec", $"qvec"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"d2", $"id")))
      .filter($"rank" <= 10).select($"qid", $"id")
      .as[(Long, Long)].collect().groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).toSet }
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"qid", $"id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val per = exact.toSeq.map { case (q, ids) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ids).size.toDouble / ids.size }
      per.sum / per.size
    }
    val unrefined = recallOf(Similarity.ivfPqTopK(index, cents, books, queries,
      m, k = 10, nProbe = 2))
    val refined = recallOf(Similarity.ivfPqRefine(index, cents, books, queries,
      corpus, m, k = 10, nProbe = 2, shortlist = 50))
    assert(refined >= unrefined,
      s"exact re-rank of a 5x shortlist must not lose recall (refined=$refined unrefined=$unrefined)")
  }

  test("residual IVF×PQ: total index, and recall beats raw encoding on clustered data") {
    // The residual claim only bites when coarse structure EXISTS: build 8
    // well-separated clusters (centroid = 10·e_{c·8..c·8+7} blocks in 64-d)
    // with small deterministic per-id offsets. Raw PQ must describe
    // absolute positions with 16 codes/subspace; residual PQ spends the
    // same budget on the offsets alone.
    val d = 64; val nPer = 40
    val cvecs = (0 until 8).map { c =>
      Array.tabulate(d)(i => if (i / 8 == c) 10.0 else 0.0) }
    val rows = for (c <- 0 until 8; j <- 0 until nPer) yield {
      val id = (c * nPer + j).toLong
      val vec = cvecs(c).zipWithIndex.map { case (v, i) =>
        v + ((id * 31 + i * 7) % 11 - 5) * 0.08 }
      (id, vec.toSeq)
    }
    val corpus = rows.toDF("id", "vec")
    val cents = cvecs.zipWithIndex.map { case (v, c) => (c.toLong, v.toSeq) }
      .toDF("cid", "cvec")
    val queries = corpus.filter($"id" % 40 === 3)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val m = 4
    val exact = corpus.crossJoin(broadcast(queries))
      .withColumn("d2", Similarity.sqDist($"vec", $"qvec"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"d2", $"id")))
      .filter($"rank" <= 10).select($"qid", $"id")
      .as[(Long, Long)].collect().groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).toSet }
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"qid", $"id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val per = exact.toSeq.map { case (q, ids) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ids).size.toDouble / ids.size }
      per.sum / per.size
    }
    val (rIndex, rBooks) = Similarity.ivfPqResidual(corpus, cents, m,
      ksub = 16, iters = 1)
    // index totality: every vector in exactly one list with m codes
    assert(rIndex.count() === corpus.count())
    assert(rIndex.filter(size($"codes") =!= m).count() === 0)
    val rawBooks = Similarity.pqCodebooks(corpus, m, ksub = 16, iters = 1)
    val rawIndex = Similarity.ivfPqIndex(corpus, cents, rawBooks, m)
    val rawRecall = recallOf(Similarity.ivfPqTopK(rawIndex, cents, rawBooks,
      queries, m, k = 10, nProbe = 2))
    val resRecall = recallOf(Similarity.ivfPqResidualTopK(rIndex, cents, rBooks,
      queries, m, k = 10, nProbe = 2))
    assert(resRecall >= rawRecall,
      s"residual encoding must not lose recall on clustered data (res=$resRecall raw=$rawRecall)")
    assert(resRecall >= 0.5,
      s"residual codes must resolve the in-cluster offsets (res=$resRecall)")
  }

  test("OPQ (PCA-rotated residual PQ): lossless limit recovers exact top-k; rotation helps on correlated residuals") {
    // 8 well-separated clusters in 64-d; every residual = small isotropic
    // noise + t·(1,…,1) — a rank-1 CROSS-SUBSPACE direction that dominates
    // the in-cluster variance. Plain subspace PQ spends all 4 books
    // re-encoding the same correlated t; the PCA rotation axis-aligns it
    // so one book captures it finely. Everything deterministic (no RNG),
    // so the comparative assertion is stable, not a flaky benchmark.
    val d = 64
    val cvecs = (0 until 8).map { c =>
      Array.tabulate(d)(i => if (i / 8 == c) 10.0 else 0.0) }
    val rows = for (c <- 0 until 8; j <- 0 until 15) yield {
      val id = (c * 15 + j).toLong
      // high-entropy deterministic noise: grid-valued offsets produce
      // EXACT distance ties that the 6-dp ADC rounding can flip against
      // the exact oracle's id tiebreak (measured: one rank-10/11 flip)
      val t = ((id * 2654435761L) % 9973 - 4986) * 2e-4
      val vec = cvecs(c).zipWithIndex.map { case (v, i) =>
        v + (((id * 40503L + i * 104729L) % 7919) - 3959) * 8e-5 + t }
      (id, vec.toSeq)
    }
    val corpus = rows.toDF("id", "vec")
    val cents = cvecs.zipWithIndex.map { case (v, c) => (c.toLong, v.toSeq) }
      .toDF("cid", "cvec")
    val queries = corpus.filter($"id" % 15 === 4)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val exact = corpus.crossJoin(broadcast(queries))
      .withColumn("d2", Similarity.sqDist($"vec", $"qvec"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"d2", $"id")))
      .filter($"rank" <= 10).select($"qid", $"id")
      .as[(Long, Long)].collect().groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).toSet }
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"qid", $"id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val per = exact.toSeq.map { case (q, ids) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ids).size.toDouble / ids.size }
      per.sum / per.size
    }
    // (1) LOSSLESS LIMIT — m=1, ksub=|corpus|: every rotated residual is
    // its own codeword, so ADC distance = ‖qrot − vrot‖ = ‖q − v‖ (the
    // centering+rotation isometry, end-to-end through assignment, fit,
    // encode and search). Full probe ⇒ the search IS exact L2 top-k.
    val (lIdx, lBooks, lModel) = Similarity.ivfPqOpq(
      corpus, cents, m = 1, ksub = 120, iters = 1)
    assert(lIdx.count() === corpus.count())
    val lossless = recallOf(Similarity.ivfPqOpqTopK(
      lIdx, cents, lBooks, lModel, queries, m = 1, k = 10, nProbe = 8))
    assert(lossless >= 0.99,
      s"lossless-limit OPQ must recover exact top-k (isometry broken?): $lossless")
    // (2) index totality + codes shape at real dials
    val m = 4
    val (oIdx, oBooks, oModel) = Similarity.ivfPqOpq(
      corpus, cents, m, ksub = 16, iters = 4, seedFrom = 8)
    assert(oIdx.count() === corpus.count())
    assert(oIdx.filter(size($"codes") =!= m).count() === 0)
    val opqRecall = recallOf(Similarity.ivfPqOpqTopK(
      oIdx, cents, oBooks, oModel, queries, m, k = 10, nProbe = 2))
    // (3) the OPQ claim on correlated residuals, same dials both sides
    val (pIdx, pBooks) = Similarity.ivfPqResidual(
      corpus, cents, m, ksub = 16, iters = 4, seedFrom = 8)
    val plainRecall = recallOf(Similarity.ivfPqResidualTopK(
      pIdx, cents, pBooks, queries, m, k = 10, nProbe = 2))
    assert(opqRecall >= plainRecall,
      s"rotation must not lose recall on rank-1-correlated residuals " +
        s"(opq=$opqRecall plain=$plainRecall)")
    info(f"opq=$opqRecall%.3f plain=$plainRecall%.3f lossless=$lossless%.3f")
  }

  test("IVF×PQ incremental extension: encoding a batch equals rebuilding over the union") {
    // the maintained-artifact flow: coarse centroids + codebooks FROZEN,
    // the index extends by encoding only the new batch. Assignment and
    // encoding are per-row functions of the frozen artifacts, so
    // extension must be BIT-IDENTICAL to a full rebuild — for both the
    // raw and the residual encodings.
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val m = 4
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val old = corpus.filter($"id" % 3 =!= 0)
    val batch = corpus.filter($"id" % 3 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"cid", $"codes")
        .as[(Long, Long, Seq[Int])].collect().toSet
    // raw path: ivfPqIndex on a batch IS its extension increment
    val rawBooks = Similarity.pqCodebooks(corpus, m, ksub = 16, iters = 1)
    val rawRebuild = rows(Similarity.ivfPqIndex(corpus, cents, rawBooks, m))
    val rawExtended = rows(Similarity.ivfPqIndex(old, cents, rawBooks, m)) ++
      rows(Similarity.ivfPqIndex(batch, cents, rawBooks, m))
    assert(rawExtended === rawRebuild, "raw extension must equal full rebuild")
    // residual path: books from the initial build, batch encoded frozen
    val (rIndex, rBooks) = Similarity.ivfPqResidual(corpus, cents, m,
      ksub = 16, iters = 1)
    val resRebuild = rows(rIndex)
    val resExtended =
      rows(Similarity.ivfPqResidualEncode(old, cents, rBooks, m)) ++
      rows(Similarity.ivfPqResidualEncode(batch, cents, rBooks, m))
    assert(resExtended === resRebuild,
      "residual extension against frozen books must equal full rebuild")
  }

  test("PQ slicing covers every dimension when d is not divisible by m") {
    // 10-dim vectors, m=4 -> subspaces of widths 2,2,2,4: the last (4-wide)
    // slice carries dims 7-10; vectors differing ONLY in dim 10 must code
    // differently when the codebook distinguishes them
    val v0 = Seq.fill(10)(0.0)
    val v1 = Seq.fill(9)(0.0) :+ 5.0
    val corpus = Seq((0L, v0), (1L, v1)).toDF("id", "vec")
    val books = Similarity.pqCodebooks(corpus, m = 4, ksub = 2, iters = 1)
    assert(books.count() === 8)
    val codes = Similarity.pqEncode(corpus, books, m = 4)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes(0L).length === 4 && codes(1L).length === 4)
    assert(codes(0L).take(3) === codes(1L).take(3),
      "identical leading subspaces must code identically")
    assert(codes(0L)(3) !== codes(1L)(3),
      "a last-dimension difference must survive into the final subspace's code")
  }

  /** Serial reference of [[Similarity.randomProject]]'s exact recurrence. */
  private def refProject(v: Seq[Float], dOut: Int): Seq[Long] =
    (0 until dOut).map { i =>
      v.zipWithIndex.map { case (x, j) =>
        val q = math.floor(x.toDouble * 1000000.0).toLong
        val sign = 1 - 2 * (((j * 1000003L + i) * 2654435761L) % 1000000007L % 2)
        q * sign
      }.sum
    }

  test("randomProject matches the serial integer recurrence") {
    val vs = Seq((1L, Seq(0.5f, -0.25f, 1.0f, 0.125f)),
      (2L, Seq(-1.5f, 0.0f, 0.375f, 2.0f)))
    val got = Similarity.randomProject(vs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dOut = 3)
      .as[(Long, Seq[Long])].collect().toMap
    for ((id, v) <- vs) assert(got(id) === refProject(v, 3))
  }

  test("randomProject is linear in the input (projection of difference = difference of projections)") {
    // linearity holds on the QUANTIZED vectors when quantization is exact:
    // use values exactly representable at 1e-6 scale via integer/2^k floats
    val u = Seq(1.0f, 2.0f, -1.0f, 0.5f)
    val v = Seq(0.25f, -0.75f, 2.0f, 1.5f)
    val diff = u.zip(v).map { case (a, b) => a - b }
    val pu = refProject(u, 4)
    val pv = refProject(v, 4)
    val pd = refProject(diff, 4)
    assert(pd === pu.zip(pv).map { case (a, b) => a - b })
  }

  test("native randomProject is bit-equal to the HOF reference (r18), incl. null element") {
    val vs = Seq((1L, Seq[java.lang.Float](0.5f, -0.25f, 1.0f, 0.125f)),
      (2L, Seq[java.lang.Float](-1.5f, 0.0f, 0.375f, 2.0f)),
      (3L, Seq[java.lang.Float](0.25f, null, 1.75f, -0.125f)))
    val df = vs.toDF("vec_id", "embedding")
    val nat = Similarity.randomProject(df, "vec_id", "embedding", dOut = 5)
      .as[(Long, Seq[Option[Long]])].collect().toMap
    val hof = SimilarityRefs.randomProjectHof(df, "vec_id", "embedding", dOut = 5)
      .as[(Long, Seq[Option[Long]])].collect().toMap
    assert(nat === hof)
    assert(nat(3L).forall(_.isEmpty), "a null element must null every output sum")
    // double-typed input path too
    val dd = vs.take(2).map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("vec_id", "embedding")
    val natD = Similarity.randomProject(dd, "vec_id", "embedding", dOut = 5)
      .as[(Long, Seq[Long])].collect().toMap
    val hofD = SimilarityRefs.randomProjectHof(dd, "vec_id", "embedding", dOut = 5)
      .as[(Long, Seq[Long])].collect().toMap
    assert(natD === hofD)
  }

  test("randomProject on testdata: 16 dims, bit-identical across partitionings") {
    val emb = Tables.load(spark, dir, "embeddings")
    val a = Similarity.randomProject(emb.repartition(1), "vec_id", "embedding", 16)
      .as[(Long, Seq[Long])].collect().toMap
    val b = Similarity.randomProject(emb.repartition(8), "vec_id", "embedding", 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(a === b)
    assert(a.values.forall(_.length === 16))
    // signs must not collapse: some projected component differs across dims
    assert(a.values.exists(p => p.distinct.length > 1))
  }
}
