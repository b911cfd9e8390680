package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Randomized-corpus property tests for the dedup core claims:
  *  - prefixJaccardPairs (PPJoin) is LOSSLESS vs brute-force all-pairs at
  *    any threshold — on corpora with skewed token frequencies, exact dups,
  *    near dups, and short docs.
  *  - dedupComponents equals CC over the expanded pair list, and every
  *    component label is the min doc id of its member set.
  * (Raw Gen + explicit seeds — the scalatestplus bridge isn't in the
  * offline cache; explicit seeds replay failures.)
  */
class DedupPropertySpec extends SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // skewed vocabulary: a few hot words + a long tail, doc length 1-12 —
  // generates exact dups, near dups and disjoint docs in one corpus
  private val vocab: Gen[String] = Gen.frequency(
    (5, Gen.oneOf("the", "data", "spark")),
    (3, Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon")),
    (1, Gen.choose(0, 40).map(i => s"w$i")))

  private val corpusGen: Gen[List[String]] = Gen.listOfN(24,
    Gen.choose(1, 12).flatMap(len => Gen.listOfN(len, vocab).map(_.mkString(" "))))

  test("property: PPJoin prefix filtering is lossless on random skewed corpora") {
    samples(corpusGen, 8).zipWithIndex.foreach { case (texts, i) =>
      val docs = texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("doc_id", "text")
      for (t <- Seq(0.4, 0.7, 0.9)) {
        val truth = DedupRefs.blockedJaccardPairs(
            docs.withColumn("one", lit(1)), "doc_id", "text", "one", t)
          .select("id_a", "id_b", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
        val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t)
          .as[(Long, Long, Double)].collect().toSet
        assert(got === truth, s"corpus seed ${i + 1}, threshold $t")
      }
    }
  }

  test("property: dedupComponents labels are min-reachable ids on random corpora") {
    samples(corpusGen, 4).zipWithIndex.foreach { case (texts, i) =>
      val docs = texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("doc_id", "text")
      val edges = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.7)
        .select($"id_a".as("a"), $"id_b".as("b"))
      val expected = Components.connectedComponents(
          docs.select($"doc_id".as("id")), edges)
        .as[(Long, Long)].collect().toMap
      val got = Dedup.dedupComponents(docs, "doc_id", "text", 0.7)
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"corpus seed ${i + 1}")
      // label invariant: component id IS the min member id
      val byComp = got.groupBy(_._2).view.mapValues(_.keys.min)
      byComp.foreach { case (comp, minId) =>
        assert(comp === minId, s"component $comp must be its min member id")
      }
    }
  }

  test("property: exact incremental admission equals brute force; extend == rebuild") {
    import org.apache.spark.sql.DataFrame
    def toks(df: DataFrame) = df.select($"doc_id",
      array_distinct(split(Dedup.normalized($"text"), " ")).as("t"))
    samples(corpusGen, 6).zipWithIndex.foreach { case (texts, i) =>
      val docs = texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }
      val existing = docs.filter(_._1 % 3 != 0).toDF("doc_id", "text")
      val incoming = docs.filter(_._1 % 3 == 0).toDF("doc_id", "text")
      for (t <- Seq(0.5, 0.8)) {
        val (postings, vocab) = Dedup.prefixIndex(existing, "doc_id", "text", t)
        val kept = Dedup.incrementalNearDupExact(
            incoming, postings, vocab, "doc_id", "text", t)
          .select("doc_id").as[Long].collect().toSet
        val dupOld = toks(incoming).as("i").join(toks(existing).as("e"),
            Dedup.jaccard($"i.t", $"e.t") >= t)
          .select($"i.doc_id").as[Long].collect().toSet
        val dupWithin = toks(incoming).as("a").join(toks(incoming).as("b"),
            $"a.doc_id" < $"b.doc_id" && Dedup.jaccard($"a.t", $"b.t") >= t)
          .select($"b.doc_id").as[Long].collect().toSet
        val expect = incoming.select($"doc_id").as[Long].collect().toSet --
          dupOld -- dupWithin
        assert(kept === expect, s"corpus seed ${i + 1}, threshold $t")
        // maintenance: extending the index with the admitted batch must
        // admit a fresh probe identically to rebuilding it from scratch
        val keptDf = incoming.filter($"doc_id".isin(kept.toSeq: _*))
        val (p2, v2) = Dedup.extendPrefixIndex(
          keptDf, postings, vocab, "doc_id", "text", t)
        val probe = incoming.select($"doc_id" + 1000, $"text")
          .toDF("doc_id", "text")
        val extKept = Dedup.incrementalNearDupExact(
            probe, p2, v2, "doc_id", "text", t)
          .select("doc_id").as[Long].collect().toSet
        val (fp, fv) = Dedup.prefixIndex(
          existing.unionByName(keptDf), "doc_id", "text", t)
        val freshKept = Dedup.incrementalNearDupExact(
            probe, fp, fv, "doc_id", "text", t)
          .select("doc_id").as[Long].collect().toSet
        assert(extKept === freshKept,
          s"extend/rebuild divergence: corpus seed ${i + 1}, threshold $t")
      }
    }
  }
}
