package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Rows per second of each `functions` kernel, timed through its public
  * `Column` builder into a noop sink over cached `documents`/`embeddings`
  * inputs, so the scan and tokenization are not part of the time. The inputs
  * are repeated to `Rows` rows so the kernel, not the per-job overhead,
  * dominates each timing. */
object Kernels {
  private val Reps = 3
  private val Rows = 20000L

  /** A fixed merge list for the BPE kernel: common pairs of the corpus. */
  private val merges = Seq("t" -> "h", "th" -> "e", "e" -> "r", "a" -> "r", "i" -> "n",
    "o" -> "r", "s" -> "t", "a" -> "l", "c" -> "o", "u" -> "m", "e" -> "n", "a" -> "t")

  def run(spark: SparkSession, data: String, rec: Recorder): Unit = {
    def repeat(df: org.apache.spark.sql.DataFrame) =
      df.crossJoin(spark.range(math.max(1L, Rows / df.count())).select()).repartition(4)
    val docs = repeat(graft.Tables.load(spark, data, "documents"))
      .select(split(col("text"), " ").as("tokens"), col("text"))
      .select(col("tokens"), col("text"),
        array_sort(array_distinct(transform(col("tokens"), t => xxhash64(t)))).as("set_a"),
        array_sort(array_distinct(transform(slice(col("tokens"), 1, 12), t => xxhash64(t))))
          .as("set_b"))
      .cache()
    val words = docs.select(explode(col("tokens")).as("word")).cache()
    val vecs = repeat(graft.Tables.load(spark, data, "embeddings"))
      .select(col("embedding"), reverse(col("embedding")).as("other")).cache()
    val probes: Seq[(String, org.apache.spark.sql.DataFrame, Column)] = Seq(
      ("minhash_sig", docs, MinHashSig.minhashSig(col("tokens"), 64, 3)),
      ("sorted_jaccard", docs, SortedJaccard.sortedJaccard(col("set_a"), col("set_b"))),
      ("simhash64", docs, SimHash64.simhash64(col("tokens"))),
      ("cosine_similarity", vecs, VectorOps.cosineSimilarity(col("embedding"), col("other"))),
      ("bpe_encode_word", words, BpeEncodeWord.bpeEncodeWord(col("word"), merges)),
      ("jaro_winkler", docs, StringMetrics.jaroWinklerSim(
        substring(col("text"), 1, 48), substring(col("text"), 49, 48))))
    val out = probes.map { case (name, input, kernel) =>
      val rows = input.count()
      val df = input.select(kernel.as("k"))
      BenchMain.noop(df) // compile and warm
      val times = (1 to Reps).map(_ => BenchMain.time(BenchMain.noop(df))._2).sorted
      name -> rows / times(Reps / 2)
    }
    Seq(docs, words, vecs).foreach(_.unpersist(blocking = true))
    rec.put("kernels", out.toMap)
  }
}
