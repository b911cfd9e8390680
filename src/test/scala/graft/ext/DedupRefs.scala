package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Dedup.{jaccard, normalized}

/** Brute-force truth for [[Dedup]]'s lossless pair generators
  * (DedupSpec, DedupPropertySpec), and the band self-join forms the
  * one-aggregate [[Dedup.bucketPairs]] / [[Dedup.bucketPayloadPairs]] are
  * pinned row for row against (BucketPairsSpec). */
object DedupRefs {

  /** Blocked all-pairs exact Jaccard: pairs are generated only within a
    * blocking key — quadratic PER BLOCK, so one constant block is the
    * all-pairs answer. Output (block, id_a, id_b, jaccard), id_a < id_b. */
  def blockedJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val toks = array_distinct(split(normalized(col(textCol)), " "))
    val p = df.select(col(blockCol).as("block"), col(idCol).as("id"), toks.as("toks"))
      .withColumn("n", size(col("toks")).cast("double"))
    val a = p.select(col("block"), col("id").as("id_a"), col("toks").as("toks_a"), col("n").as("n_a"))
    val b = p.select(col("block"), col("id").as("id_b"), col("toks").as("toks_b"), col("n").as("n_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      // size prefilter, implied by the threshold (J(A,B) ≥ t ⇒ t ≤ |A|/|B| ≤
      // 1/t): skips the O(|A|+|B|) set ops for most pairs, no recall loss
      .filter(col("n_a") >= col("n_b") * threshold && col("n_b") >= col("n_a") * threshold)
      .withColumn("jaccard", jaccard(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select("block", "id_a", "id_b", "jaccard")
  }

  /** Self-join form of [[Dedup.bucketPairs]]: a counting aggregate finds
    * the buckets of more than `maxBucketSize` rows, a broadcast anti-join
    * drops their members, and the band table joins itself on the bucket.
    * (bucket, id) → distinct (id_a, id_b), id_a < id_b. */
  def cappedBucketPairsSelfJoin(buckets: DataFrame, maxBucketSize: Int): DataFrame = {
    val oversized = buckets.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucketSize).select(col("bucket"))
    val capped = buckets.join(broadcast(oversized), Seq("bucket"), "left_anti")
    capped.select(col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Self-join form of [[Dedup.bucketPayloadPairs]]: (bucket, id, payload)
    * → distinct (id_a, id_b, payload_a, payload_b), id_a < id_b. */
  def bucketPayloadPairsSelfJoin(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("bucket"), col("id").as("id_a"), col("payload").as("payload_a"))
    val b = buckets.select(col("bucket"), col("id").as("id_b"), col("payload").as("payload_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "payload_a", "payload_b")
      .distinct()
  }
}
