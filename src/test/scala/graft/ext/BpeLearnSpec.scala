package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** [[BpeLearn]] vs a serial reference BPE (the Sennrich et al. 2016
  * algorithm, driver-side), plus fold-semantics edge cases.
  */
class BpeLearnSpec extends SparkSuite {
  import spark.implicits._

  /** Column reference of [[BpeLearn.encode]]: every merge rule applied
    * in rank order as one composed [[BpeLearn.applyMerge]] HOF fold.
    * Interpreted — the native encode must equal it bit for bit. */
  private def encodeHof(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]) = {
    val words = docs.select(col(idCol).as("id"),
      explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
    val encoded = merges.foldLeft(split(col("word"), "")) {
      case (c, (lhs, rhs)) => BpeLearn.applyMerge(c, lhs, rhs)
    }
    words.select(col("id"), col("word"), encoded.as("tokens"))
  }

  /** Serial reference: greedy merges over a word-frequency map with
    * overlapping pair counts and leftmost-first rewrite. */
  private def reference(words: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
    var seqs: Map[Vector[String], Long] =
      words.groupBy { case (w, _) => w.split("").toVector }
        .map { case (s, m) => s -> m.values.sum }
    val out = collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to k) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((s, f) <- seqs; i <- 0 until s.size - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((a, b, c))
        seqs = seqs.groupBy { case (s, _) =>
          s.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc.init :+ (a + b)
            else acc :+ x
          }
        }.map { case (s, m) => s -> m.values.sum }
      }
    }
    out.toSeq
  }

  private def learned(words: Map[String, Long], k: Int): Seq[(String, String, Long)] =
    BpeLearn.learnMerges(spark,
      words.toSeq.toDF("word", "freq"), k)
      .select("lhs", "rhs", "pair_count")
      .as[(String, String, Long)].collect().toSeq

  test("matches the serial reference on a classic corpus") {
    // the worked example shape from the BPE paper: low/lower/newest/widest
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    assert(learned(words, 6) === reference(words, 6))
  }

  test("leftmost-first non-overlapping rewrite: aaaa + (a,a) -> [aa,aa]") {
    val fused = Seq(Tuple1(Seq("a", "a", "a", "a"))).toDF("symbols")
      .select(BpeLearn.applyMerge(col("symbols"), "a", "a").as("m"))
      .as[Seq[String]].head()
    assert(fused === Seq("aa", "aa"))
    val odd = Seq(Tuple1(Seq("a", "a", "a"))).toDF("symbols")
      .select(BpeLearn.applyMerge(col("symbols"), "a", "a").as("m"))
      .as[Seq[String]].head()
    assert(odd === Seq("aa", "a"))
  }

  test("merged symbols participate in later merges (hierarchy forms)") {
    // "abab" x4: first merge (a,b) -> [ab, ab]; second (ab, ab) -> [abab]
    val words = Map("abab" -> 4L, "ab" -> 1L)
    val m = learned(words, 2)
    assert(m.head._1 === "a" && m.head._2 === "b")
    assert(m(1) === (("ab", "ab", 4L)))
  }

  test("wordFreq caps deterministically with the word tiebreak") {
    val docs = Seq("b b a a c", "c a b").toDF("text")
    val wf = BpeLearn.wordFreq(docs, "text", 2)
      .as[(String, Long)].collect().toSeq
    // a:3 b:3 c:2 -> cap 2 keeps (a,3),(b,3) by word tiebreak
    assert(wf === Seq(("a", 3L), ("b", 3L)))
  }

  test("encode applies the merge table in rank order; trained words reach their trained form") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = reference(words, 6).map { case (a, b, _) => (a, b) }
    val docs = Seq((1L, "newest lower zzz"), (2L, "low low")).toDF("doc_id", "text")
    val enc = BpeLearn.encode(docs, "doc_id", "text", merges)
      .as[(Long, String, Seq[String])].collect()
      .groupBy(_._2).map { case (w, rs) => w -> rs.head._3 }
    // serial application of the same rules, word by word
    def serial(w: String) = merges.foldLeft(w.split("").toVector) { case (s, (a, b)) =>
      s.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
        else acc :+ x
      }
    }
    for (w <- Seq("newest", "lower", "zzz", "low"))
      assert(enc(w) === serial(w), s"word=$w")
    // the paper corpus' top merge chain fuses "newest" into few tokens
    assert(enc("newest").length < 6)
  }

  test("native encode ≡ the composed HOF fold chain (r18), incl. aaaa pathologies") {
    val docs = Seq(
      (1L, "the quick aaaa abab lowest newest widest"),
      (2L, "aaa aab baa abba the thethe")).toDF("doc_id", "text")
    val merges = Seq(("a", "a"), ("t", "h"), ("th", "e"), ("aa", "aa"),
      ("e", "s"), ("es", "t"))
    val nat = BpeLearn.encode(docs, "doc_id", "text", merges)
      .as[(Long, String, Seq[String])].collect().toSet
    val hof = encodeHof(docs, "doc_id", "text", merges)
      .as[(Long, String, Seq[String])].collect().toSet
    assert(nat === hof)
  }

  test("bit-identical across partitionings") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val df = words.toSeq.toDF("word", "freq")
    val a = BpeLearn.learnMerges(spark, df.repartition(1), 4)
      .as[(Long, String, String, Long)].collect().toSeq
    val b = BpeLearn.learnMerges(spark, df.repartition(5), 4)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(a === b)
  }
}
