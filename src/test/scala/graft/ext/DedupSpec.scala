package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s1"),
    (2L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG", "s1"), // case dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "s1"), // near dup of 1
    (4L, "completely different content about spark engines", "s1"),
    (5L, "unrelated text in another block entirely here now", "s2")
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups case variants") {
    val out = Dedup.exact(docs, Dedup.normalized($"text"), $"doc_id")
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(out.length === 4)
    assert(out.head === (("the quick brown fox jumps over the lazy dog", 1L, 2L)))
  }

  test("jaccard is 1.0 for identical sets and low for unrelated") {
    val toksOf = (c: String) => array_distinct(split(lower(lit(c)), " "))
    val r = docs.limit(1).select(
      Dedup.jaccard(toksOf("a b c"), toksOf("c b a")).as("same"),
      Dedup.jaccard(toksOf("a b"), toksOf("x y")).as("diff")).head
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
  }

  test("portable minhash LSH (q31's engine-portable hash family) finds exact " +
      "and near dups, skips unrelated") {
    val pairs = Dedup.minhashNearDupsPortable(
        docs, "doc_id", "text", k = 32, bands = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)), "case dup must be found")
    assert(pairs.contains((1L, 3L)), "near dup (8/10 shared tokens) must be found")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "unrelated doc must not pair")
  }

  test("portable hash family: empty tokens dropped, short docs single-shingle, " +
      "values within [0, P)") {
    val r = docs.limit(1).select(
      PortableHashRefs.tokenHashes(lit("a  b   c")).as("hs"), // double spaces
      PortableHashRefs.shingleHashes(PortableHashRefs.tokenHashes(lit("a b")), 3).as("short"),
      PortableHashRefs.minhashSignature(
        PortableHashRefs.shingleHashes(PortableHashRefs.tokenHashes(lit("x y z w")), 3), 8).as("sig"))
      .head
    assert(r.getSeq[Long](0).length === 3, "empty tokens from runs of spaces must drop")
    assert(r.getSeq[Long](1).length === 1, "sub-w doc is one whole-sequence shingle")
    val sig = r.getSeq[Long](2)
    assert(sig.length === 8)
    assert(sig.forall(v => v >= 0 && v < PortableHash.P))
  }

  test("shingles produce w-grams and degrade gracefully on short docs") {
    val out = docs.limit(1).select(
      Dedup.shingles(split(lit("a b c d"), " "), 3).as("sh"),
      Dedup.shingles(split(lit("a b"), " "), 3).as("short")).head
    assert(out.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(out.getSeq[String](1) === Seq("a b"))
  }

  test("prefix-filtered jaccard pairs are lossless vs brute-force all-pairs") {
    for (t <- Seq(0.5, 0.8)) {
      // brute force: single block over everything = true all-pairs answer
      val truth = DedupRefs.blockedJaccardPairs(
          docs.withColumn("one", lit(1)), "doc_id", "text", "one", t)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === truth, s"prefix filter must be lossless at t=$t")
    }
  }

  test("containmentPairs: finds excerpts asymmetrically, lossless vs brute force") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),           // parent
      (2L, "a b c d e f g h"),                            // first half of 1 → contained
      (3L, "x y z w v u t s r q"),                        // unrelated
      (4L, "a b c d e f g h i j k l m n o p"),            // exact dup of 1 (mutual)
      (5L, "h i j k a b c")                               // scrambled pieces: shares few SHINGLES
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // 2→1 and 2→4 (excerpt contained in both copies); 1↔4 mutual;
    // NOT 1→2 (asymmetry: the parent is not contained in its excerpt)
    assert(got === Set((2L, 1L), (2L, 4L), (1L, 4L), (4L, 1L)))
    // losslessness of the rare-shingle prefix filter: equals the
    // unfiltered all-pairs answer on a corpus with shared shingles
    for (t <- Seq(0.5, 0.9)) {
      def shingleSet(s: String) =
        s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val rows = corpus.as[(Long, String)].collect()
      val truth = (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia != ib
        sa = shingleSet(ta); sb = shingleSet(tb)
        if sa.nonEmpty && (sa & sb).size.toDouble / sa.size >= t
      } yield (ia, ib)).toSet
      val pref = Dedup.containmentPairs(corpus, "doc_id", "text", t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pref === truth, s"prefix filter must be lossless at t=$t")
    }
  }

  test("containment hot-shingle tiling: lossless with the hot branch engaged, per-tile bound named (r18)") {
    // boilerplate corpus: every doc opens with the same 3 tokens, so ONE
    // 3-gram shingle has df = n — the straggler shape the grid tiling caps.
    // Each doc also carries unique tail tokens so answers stay small.
    val n = 40L
    val boiler = (1L to n).map(i =>
      (i, s"legal header boilerplate u${i}a u${i}b u${i}c u${i}d u${i}e"))
      .toDF("doc_id", "text")
    val plain = Dedup.containmentPairs(boiler, "doc_id", "text", 0.3,
        saltMinPostings = 0) // dial off: pure cold plan = ground truth
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val tiled = Dedup.containmentPairs(boiler, "doc_id", "text", 0.3,
        saltMinPostings = 10) // df=40 boilerplate shingle crosses the dial
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(tiled === plain, "hot-shingle tiling must be lossless")
    // THE BOUND, named per generator (verdict r18 ask #5): a hot key with
    // df postings splits into f = ceil(df/sqrt(HotPairBudget)) tiles per
    // axis; per-tile candidate pairs <= (df/f)^2 <= HotPairBudget, using
    // p <= df (every prefix row is a postings row). The same budget bounds
    // the PPJoin hot branch (repStructure) and knnGraph (KnnPairBudget).
    val f = math.ceil(40.0 / math.sqrt(Dedup.HotPairBudget.toDouble))
    assert(f >= 1 && (40.0 / f) * (40.0 / f) <= Dedup.HotPairBudget)
    // and a dial the corpus never crosses leaves the answer identical
    val off = Dedup.containmentPairs(boiler, "doc_id", "text", 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(off === plain)
  }

  test("hot-token salting is lossless (forced salting == unsalted pairs)") {
    for (t <- Seq(0.5, 0.8)) {
      val plain = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t)
        .as[(Long, Long, Double)].collect().toSet
      // auto-dial with a tiny threshold: every token is "hot" on this
      // corpus, the cold branch is empty — still lossless
      val auto = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t,
          saltMinPostings = 1)
        .as[(Long, Long, Double)].collect().toSet
      assert(auto === plain, s"auto-salted join must be lossless at t=$t")
    }
  }

  test("auto-salt dial: lossless split, lazy construction, runtime-pruned when skew-free") {
    // skewed: one boilerplate token in EVERY doc (df = n), the rest unique;
    // at t=0.1 the shared token makes every pair qualify (J = 1/9 ≥ 0.1)
    val skewed = (1L to 60L).map(i =>
      (i, s"common tok${i}a tok${i}b tok${i}c tok${i}d")).toDF("doc_id", "text")
    val plain = Dedup.prefixJaccardPairs(skewed, "doc_id", "text", 0.1,
        saltMinPostings = 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(plain.size === 60 * 59 / 2, "every pair must qualify via the hot token")
    // dial set so ONLY the df=60 boilerplate token crosses it: the hot
    // branch engages (mixed hot/cold plan) and stays lossless
    val dialed = Dedup.prefixJaccardPairs(skewed, "doc_id", "text", 0.1,
        saltMinPostings = 50)
      .as[(Long, Long, Double)].collect().toSet
    assert(dialed === plain, "hot/cold split must be lossless")
    // the dial adds ZERO construction-time jobs over the dial-off path:
    // the hot set is a lazy broadcast subquery, not an eager probe. (Both
    // paths share a fixed construction cost — the internal lazy
    // checkpoints' upstream stages, which AQE materializes inside
    // Dataset.checkpoint's physicalPlan.execute() — so the contract is the
    // DELTA, not an absolute zero.)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    def constructionJobs(dial: Long): Int = {
      org.apache.spark.graft.CleanerBridge.waitListenerBusEmpty(spark.sparkContext)
      jobs = 0
      spark.sparkContext.addSparkListener(listener)
      try {
        Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8,
            saltMinPostings = dial)
          .queryExecution.optimizedPlan
        org.apache.spark.graft.CleanerBridge.waitListenerBusEmpty(spark.sparkContext)
        jobs
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val dialOff = constructionJobs(0)
    val dialOn = constructionJobs(Dedup.AutoSaltMinPostings)
    assert(dialOn === dialOff,
      s"the auto dial must not add construction-time jobs (off=$dialOff, on=$dialOn)")
    // runtime shape: on a skew-free corpus the broadcast hot factor set is
    // empty and AQE's empty-relation propagation prunes the tiled branch
    // (its `__ta` tile attribute vanishes from the FINAL adaptive plan —
    // the toString also appends the pre-execution "Initial Plan", which
    // still carries the branch); on the skewed corpus the tiled join
    // executes (r18: the hot branch is the 2-D grid, not 1-D salting)
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val uniform = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8)
    uniform.collect()
    assert(!finalPlan(uniform).contains("__ta#"),
      "skew-free corpus must not execute the tiled branch")
    val hot = Dedup.prefixJaccardPairs(skewed, "doc_id", "text", 0.1,
      saltMinPostings = 50)
    hot.collect()
    assert(finalPlan(hot).contains("__ta#"),
      "crossing the dial must engage the tiled branch")
  }

  test("auto-salt dial with AQE disabled: eager collapse, still lossless") {
    // without AQE there is no runtime empty-relation propagation, so the
    // dial pays one construction-time probe and emits the symmetric plan
    // directly on a skew-free corpus; a skewed corpus still engages the
    // salted branch. Results must be unchanged either way.
    val plain = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val skewed = (1L to 60L).map(i =>
      (i, s"common tok${i}a tok${i}b tok${i}c tok${i}d")).toDF("doc_id", "text")
    val skewTruth = Dedup.prefixJaccardPairs(skewed, "doc_id", "text", 0.1,
        saltMinPostings = 0)
      .as[(Long, Long, Double)].collect().toSet
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val uniform = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8)
      assert(uniform.as[(Long, Long, Double)].collect().toSet === plain,
        "AQE-off dial must be lossless on a skew-free corpus")
      assert(!uniform.queryExecution.executedPlan.toString.contains("__ta#"),
        "AQE-off + skew-free must collapse to the symmetric plan at construction")
      val hot = Dedup.prefixJaccardPairs(skewed, "doc_id", "text", 0.1,
        saltMinPostings = 50)
      assert(hot.as[(Long, Long, Double)].collect().toSet === skewTruth,
        "AQE-off salted branch must be lossless on a skewed corpus")
      assert(hot.queryExecution.executedPlan.toString.contains("__ta#"),
        "AQE-off + skew must still engage the tiled branch")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dedupComponents == connected components over the expanded pair list") {
    // richer corpus: a 3-clique of case dups, a chain through a near dup,
    // two isolated docs
    val corpus = docs.unionByName(Seq(
      (6L, "The Quick Brown Fox Jumps Over The Lazy Dog", "s1"), // dup of 1,2
      (7L, "the quick brown fox jumps over the lazy cat", "s2")  // dup of 3
    ).toDF("doc_id", "text", "source"))
    for (t <- Seq(0.5, 0.9)) {
      val edges = Dedup.prefixJaccardPairs(corpus, "doc_id", "text", t)
        .select($"id_a".as("a"), $"id_b".as("b"))
      val expected = Components.connectedComponents(
          corpus.select($"doc_id".as("id")), edges)
        .as[(Long, Long)].collect().toMap
      val got = Dedup.dedupComponents(corpus, "doc_id", "text", t)
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"contracted-graph CC must match expanded CC at t=$t")
    }
  }

  test("incrementalExact: drops corpus dups, collapses batch dups, keeps new docs") {
    val existing = Seq("already ingested doc").toDF("k")
      .select(Dedup.normalized($"k").as("k"))
    val incoming = Seq(
      (10L, "ALREADY INGESTED DOC"),   // case-dup of existing -> dropped
      (11L, "brand new document"),     // new -> kept
      (12L, "Brand New Document"),     // batch dup of 11 -> collapsed
      (13L, "another fresh one")       // new -> kept
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(
        incoming, existing, Dedup.normalized($"text"), $"doc_id")
      .as[(Long, String)].collect().toMap
    assert(got === Map(11L -> "brand new document", 13L -> "another fresh one"))
  }

  test("incrementalNearDupExact: lossless — equals brute-force admission on testdata") {
    import org.apache.spark.sql.DataFrame
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val existing = d.filter($"doc_id" % 3 =!= 0)
    val incoming = d.filter($"doc_id" % 3 === 0)
    val (postings, vocab) = Dedup.prefixIndex(existing, "doc_id", "text", 0.6)
    val kept = Dedup.incrementalNearDupExact(incoming, postings, vocab,
        "doc_id", "text", 0.6)
      .select("doc_id").as[Long].collect().toSet
    def toks(df: DataFrame) = df.select($"doc_id",
      array_distinct(split(Dedup.normalized($"text"), " ")).as("t"))
    val it = toks(incoming).cache(); val et = toks(existing)
    val dupOld = it.as("i").join(et.as("e"),
        Dedup.jaccard($"i.t", $"e.t") >= 0.6)
      .select($"i.doc_id").as[Long].collect().toSet
    val dupWithin = it.as("a").join(it.as("b"),
        $"a.doc_id" < $"b.doc_id" && Dedup.jaccard($"a.t", $"b.t") >= 0.6)
      .select($"b.doc_id").as[Long].collect().toSet
    val expect = it.select($"doc_id").as[Long].collect().toSet -- dupOld -- dupWithin
    assert(kept === expect, "prefix-filtered admission must equal all-pairs admission")
    assert(kept.nonEmpty && kept.size < incoming.count(),
      "testdata must exercise both admit and drop paths")
  }

  test("prefixNearDupMatches: lossless cross-match — equals brute-force max-Jaccard") {
    import org.apache.spark.sql.DataFrame
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bench = d.filter($"doc_id" % 97 === 0)
    val corpus = d.filter($"doc_id" % 97 =!= 0)
    val (postings, vocab) = Dedup.prefixIndex(bench, "doc_id", "text", 0.8)
    val got = Dedup.prefixNearDupMatches(corpus, postings, vocab, "doc_id", "text", 0.8)
      .as[(Long, Double)].collect().toMap
    def toks(df: DataFrame) = df.select($"doc_id",
      array_distinct(split(Dedup.normalized($"text"), " ")).as("t"))
    val expect = toks(corpus).as("c").join(toks(bench).as("b"),
        Dedup.jaccard($"c.t", $"b.t") >= 0.8)
      .select($"c.doc_id", Dedup.jaccard($"c.t", $"b.t").as("j"))
      .groupBy("doc_id").agg(max($"j").as("mj"))
      .as[(Long, Double)].collect().toMap
    assert(got === expect, "prefix cross-match must equal brute-force max-Jaccard")
    assert(got.nonEmpty, "testdata must contain fuzzy benchmark leakage")
  }

  test("hybridDedup: text-only and embedding-only dups both land in their original's component") {
    val comp = graft.QueryCatalog.queries("q108_hybrid_dedup")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect().toMap
    val dupIds = comp.keys.filter(_ >= 100000L).toSeq
    assert(dupIds.nonEmpty)
    // text-only dups (orig%20==10): the PPJoin path is exact-lossless, so
    // EVERY one must join its original's component
    val textDups = dupIds.filter(d => (d - 100000L) % 20 == 10)
    textDups.foreach { d =>
      assert(comp(d) === comp(d - 100000L),
        s"text dup $d split from its original's component")
    }
    // embedding-only dups (orig%20==0): cluster-bounded cosine search has
    // the documented SemDeDup straddle trade-off — a dup whose perturbed
    // vector assigns across a centroid boundary is missed — so this is a
    // recall bound, not exactness
    val embDups = dupIds.filter(d => (d - 100000L) % 20 == 0)
    val embJoined = embDups.count(d => comp(d) === comp(d - 100000L))
    assert(embJoined.toDouble / embDups.size >= 0.8,
      s"embedding-dup recall too low: $embJoined/${embDups.size}")
    // and the fusion must beat either single modality: every dup family
    // contributes members only its own modality can connect
    assert(textDups.nonEmpty && embDups.nonEmpty)
  }

  test("blocked jaccard respects blocks") {
    val out = DedupRefs.blockedJaccardPairs(docs, "doc_id", "text", "source", 0.5)
      .as[(String, Long, Long, Double)].collect()
    assert(out.forall(_._1 == "s1"), "cross-block pairs must not appear")
  }
}
