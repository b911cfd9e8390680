package graft.functions

import graft.{SparkSuite, Tables}
import graft.ext.{Similarity, SimilarityRefs}
import org.apache.spark.sql.functions._

/** Proves the native expressions' `doGenCode` paths actually COMPILE and
  * produce the same values as the interpreted/HOF formulations. Codegen
  * fallback is disabled for the duration, so a janino error fails the test
  * instead of silently degrading to interpreted execution.
  */
class CodegenSpec extends SparkSuite {
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  private def withForcedCodegen[T](f: => T): T = {
    val oldFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val oldMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try f
    finally {
      oldFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
      oldMode.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("CosineSimilarity codegen compiles and is bit-equal to the HOF form") {
    withForcedCodegen {
      val emb = Tables.load(spark, dir, "embeddings")
      val pairs = emb.select($"vec_id".as("ia"), $"embedding".as("a"))
        .crossJoin(emb.select($"vec_id".as("ib"), $"embedding".as("b")).limit(10))
        .limit(500)
      val diff = pairs.filter(
        Similarity.cosine($"a", $"b") =!= SimilarityRefs.cosineHof($"a", $"b")).count()
      assert(diff === 0)
    }
  }

  test("SqL2Distance codegen compiles and is bit-equal to the three-dot HOF form") {
    withForcedCodegen {
      val emb = Tables.load(spark, dir, "embeddings")
      val pairs = emb.select($"vec_id".as("ia"), $"embedding".as("a"))
        .crossJoin(emb.select($"vec_id".as("ib"), $"embedding".as("b")).limit(10))
        .limit(500)
      val diff = pairs.filter(
        Similarity.sqDist($"a", $"b") =!= SimilarityRefs.sqDistHof($"a", $"b")).count()
      assert(diff === 0)
    }
  }

  test("HyperplaneSig codegen compiles and equals the HOF signature") {
    withForcedCodegen {
      val emb = Tables.load(spark, dir, "embeddings").limit(100)
      val diff = emb.filter(
        Similarity.hyperplaneSignature($"embedding", 12) =!=
          SimilarityRefs.hyperplaneSignatureHof($"embedding", 12)).count()
      assert(diff === 0)
    }
  }

  test("JaccardSim codegen compiles and equals the intersect/union form") {
    withForcedCodegen {
      val docs = Tables.load(spark, dir, "documents")
        .select($"doc_id", array_distinct(split(lower($"text"), " ")).as("toks"))
      val pairs = docs.select($"doc_id".as("ia"), $"toks".as("a"))
        .crossJoin(docs.select($"doc_id".as("ib"), $"toks".as("b")).limit(10))
        .limit(500)
      val diff = pairs.filter(
        JaccardSim.jaccardSim($"a", $"b") =!=
          (size(array_intersect($"a", $"b")).cast("double") /
            size(array_union($"a", $"b")))).count()
      assert(diff === 0)
    }
  }

  test("SimHash64 and MinHashSig codegen compile and match the interpreted path") {
    def compute(): (Map[Long, Long], Map[Long, Seq[Long]]) = {
      val docs = Tables.load(spark, dir, "documents").limit(100)
        .select($"doc_id", split(lower($"text"), " ").as("toks"))
      val sh = docs.select($"doc_id", SimHash64.simhash64($"toks").as("f"))
        .as[(Long, Long)].collect().toMap
      val mh = docs.select($"doc_id", MinHashSig.minhashSig($"toks", 8).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      (sh, mh)
    }
    // interpreted reference first, then forced codegen — values must agree
    val oldMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val (shI, mhI) =
      try compute()
      finally oldMode.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    val (shC, mhC) = withForcedCodegen(compute())
    assert(shC === shI, "SimHash64 codegen must equal interpreted")
    assert(mhC === mhI, "MinHashSig codegen must equal interpreted")
  }

  test("DistinctShingles codegen compiles and equals the HOF formulation") {
    withForcedCodegen {
      val docs = Tables.load(spark, dir, "documents")
        .select($"doc_id", split(lower(trim($"text")), " ").as("toks"))
        .unionByName(Seq(
          (900001L, Seq("a", "b")),            // < w: whole-text fallback
          (900002L, Seq("a", "a", "a", "a")),  // duplicate shingles collapse
          (900003L, Seq("solo")),
          (900004L, Seq("a", null, "b", "c")), // null token: concat_ws drops it AND its separator
          (900005L, Seq[String](null, null))   // all-null window → empty shingle
        ).toDF("doc_id", "toks"))
      val diff = docs.filter(
        DistinctShingles.distinctShingles($"toks", 3) =!=
          array_distinct(graft.ext.Dedup.shingles($"toks", 3))).count()
      assert(diff === 0)
    }
  }

  test("SortedJaccard codegen compiles and matches hand-computed values") {
    withForcedCodegen {
      val df = Seq(
        (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L), 2.0 / 4.0),
        (Seq(1L, 2L), Seq(1L, 2L), 1.0),
        (Seq(1L), Seq(5L, 6L), 0.0),
        (Seq.empty[Long], Seq.empty[Long], 0.0)
      ).toDF("a", "b", "want")
      val diff = df.filter(
        SortedJaccard.sortedJaccard($"a", $"b") =!= $"want").count()
      assert(diff === 0)
    }
  }

  test("PortableMinHashSig codegen compiles and is bit-equal to the Column " +
      "composition (PortableHashRefs.minhashSignature over shingle hashes)") {
    withForcedCodegen {
      import graft.ext.PortableHashRefs
      val docs = Tables.load(spark, dir, "documents")
        // adversarial extras: runs of spaces, sub-w docs, single token
        .select(lower(trim($"text")).as("t"))
        .unionAll(Seq("a  b   c", "one two", "solo", "x y z w v").toDF("t"))
      val toks = docs.select(split($"t", " ").as("toks"))
      val diff = toks.filter(
        PortableHashSig.portableMinhashSig($"toks", 32) =!=
          PortableHashRefs.minhashSignature(
            PortableHashRefs.shingleHashes(
              transform(filter($"toks", x => length(x) > 0),
                PortableHashRefs.tokenHash(_))), 32)).count()
      assert(diff === 0)
    }
  }

  test("PortableSimHashBands codegen compiles and is bit-equal to the Column " +
      "composition (simhashVotes -> simhashPack)") {
    withForcedCodegen {
      import graft.ext.PortableHashRefs
      val docs = Tables.load(spark, dir, "documents")
        .select(lower(trim($"text")).as("t"))
        .unionAll(Seq("a  b   c", "one two", "solo").toDF("t"))
      val toks = docs.select(split($"t", " ").as("toks"))
      val diff = toks.filter(
        PortableHashSig.portableSimhashBands($"toks") =!=
          PortableHashRefs.simhashPack(PortableHashRefs.simhashVotes(
            transform(filter($"toks", x => length(x) > 0),
              PortableHashRefs.tokenHash(_))))).count()
      assert(diff === 0)
    }
  }
}
