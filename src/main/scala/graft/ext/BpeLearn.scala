package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning (Sennrich et al. 2016, arXiv:1508.07909)
  * — tokenizer TRAINING as a corpus operator, the missing half of the
  * token-counting tier ([[TextStats.bpeTokens]] applies a pre-trained
  * splitter; this learns the merge table from the corpus itself).
  *
  * Classic BPE is greedy and inherently sequential in the merge rank: each
  * round counts adjacent symbol pairs over the word-frequency table, takes
  * the most frequent pair, and rewrites every word with that pair fused.
  * The scale split matches that structure:
  *  - [[wordFreq]] is the corpus-proportional stage — one projection scan
  *    + one token-keyed aggregate over ALL text, then a capped
  *    deterministic top-`maxWords` (TakeOrderedAndProject, total order
  *    with the word itself as tiebreaker). At 100 TB this is the only
  *    stage that touches the corpus, and it's embarrassingly parallel.
  *  - [[learnMerges]] then iterates over a VOCABULARY-bounded table
  *    (≤ maxWords rows regardless of corpus size — Zipf guarantees the
  *    cap loses only tail mass), so the k driver-round loop shuffles a
  *    few hundred rows per round. The per-round argmax `collect()` is the
  *    justified loop-carried control flow (the merge CHOICE feeds the
  *    next round's rewrite — same class as [[Components]]' convergence
  *    check), and each round's rewritten table is localCheckpoint'd so
  *    round N never replays rounds 1..N-1.
  *
  * Determinism: pair counts are integer sums of integer word frequencies;
  * the argmax tiebreak is (count desc, lhs asc, rhs asc) — total. The
  * merge REWRITE is a left fold (`aggregate` HOF): fuse when the
  * accumulator's last symbol is `lhs` and the next is `rhs`, else append —
  * which yields leftmost-first non-overlapping application ("aaaa" + (a,a)
  * → [aa, aa]), the reference BPE behavior, and is reproduced fold-for-fold
  * by the DuckDB oracle's `list_reduce` over the same sequences. Pair
  * counting counts overlapping adjacency ("aaa" → (a,a) twice), also the
  * reference behavior.
  */
object BpeLearn {

  /** Corpus word-frequency table: lowercase `[a-z]+` runs, top `maxWords`
    * by (freq desc, word asc). The one corpus-proportional scan. */
  def wordFreq(docs: DataFrame, textCol: String, maxWords: Int): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(maxWords)

  /** One merge pass: fuse adjacent (`lhs`,`rhs`) leftmost-first. */
  def applyMerge(symbols: org.apache.spark.sql.Column, lhs: String,
      rhs: String): org.apache.spark.sql.Column =
    aggregate(symbols, typedLit(Seq.empty[String]), (acc, x) => {
      val last = get(acc, size(acc) - lit(1)) // null-safe on empty acc
      when(last === lit(lhs) && x === lit(rhs),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(lit(lhs + rhs))))
        .otherwise(concat(acc, array(x)))
    })

  /** Learn `k` greedy merges from a (word, freq) table.
    * @return (merge_rank: long 1..k, lhs, rhs, pair_count: long) in rank
    *         order — the merge table a BPE tokenizer persists.
    */
  def learnMerges(spark: SparkSession, words: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    // lazy barriers (r18): each round's rewrite materializes INSIDE the
    // next round's pair-count job instead of spending a separate
    // materialization job per round — k rounds save k job round-trips on a
    // vocabulary-bounded table (the checkpoint still truncates lineage, so
    // round N never replays rounds 1..N−1)
    var seqs = words
      .select(split(col("word"), "").as("symbols"), col("freq"))
      .barrier()
    val merges = collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    for (i <- 1 to k if !done) {
      val top = seqs.filter(size(col("symbols")) >= 2)
        .select(explode(zip_with(
          slice(col("symbols"), lit(1), size(col("symbols")) - 1),
          slice(col("symbols"), lit(2), size(col("symbols")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case None => done = true // no adjacent pairs left
        case Some((a, b, cnt)) =>
          merges += ((i.toLong, a, b, cnt))
          if (i < k)
            seqs = seqs
              .select(applyMerge(col("symbols"), a, b).as("symbols"), col("freq"))
              .barrier()
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** TOKENIZE a corpus with a learned merge table — the application half
    * of BPE ([[learnMerges]] trains it): each document's lowercase
    * `[a-z]+` words are split to characters and every merge rule is
    * applied in RANK ORDER as one composed left-fold column (rule i's
    * fold feeds rule i+1's — the same leftmost-first non-overlapping
    * semantics as training, so a word that appeared in training encodes
    * to exactly its trained symbol sequence). The merge table is a
    * driver-side Seq: it is vocabulary-bounded (k rows — the persisted
    * tokenizer artifact, broadcast-trivial), and folding it INTO the
    * expression keeps the whole encode a single codegen'd projection
    * scan — no join, no shuffle, cost O(corpus chars · k).
    * Output: one row per word instance (id, word, tokens). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
      explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
    // native fused fold (r18) — bit-identical to the composed k-rank
    // chain of [[applyMerge]] HOF folds (spec-pinned in BpeLearnSpec),
    // minus the per-symbol interpreted lambda allocations that dominated
    // the encode scan
    words.select(col("id"), col("word"),
      graft.functions.BpeEncodeWord.bpeEncodeWord(col("word"), merges)
        .as("tokens"))
  }
}
