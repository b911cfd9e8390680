package graft.silver

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Idempotent keyed upsert (Delta `MERGE INTO` emulation on core Spark).
  *
  * Reference behavior: `/root/reference/02_Silver_Cleanse_PII.py:174-184` —
  * `whenMatchedUpdateAll.whenNotMatchedInsertAll` keyed on `transaction_id`,
  * i.e. source-wins on key collision, insert otherwise. Replaying the same
  * source batch twice must equal applying it once (exactly-once via
  * checkpoint + keyed merge, README:42).
  *
  * Implementation: `source ∪ (target ⟕anti source-keys)` — the target rows
  * whose key appears in the source are dropped and replaced by the source
  * row. This is exactly `whenMatchedUpdateAll` + `whenNotMatchedInsertAll`
  * when source and target share a schema.
  *
  * Scale notes: Delta's MERGE is itself a join + file rewrite; this is the
  * same plan without the transaction log. The anti-join shuffles both sides
  * on the key UNLESS the source (a micro-batch — usually small relative to
  * the target) is broadcast; we hint that.
  */
object Merge {

  /** Source-wins upsert on `keys`. Requires identical schemas, with all
    * non-key source columns orderable (no map columns — needed for the
    * deterministic intra-batch dedup below). */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    // Reduce the source to ONE row per key first: an intra-batch duplicate
    // key would otherwise survive the union and break the upsert invariant
    // (unique keys in the merged table). last-writer-wins is undefined for
    // unordered batches, so pick deterministically: min row by the ordering
    // of all non-key columns.
    val nonKeys = source.columns.filterNot(keys.contains).map(col).toSeq
    val src =
      if (nonKeys.isEmpty) source.distinct()
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(nonKeys: _*)
        source.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    val srcKeys = src.select(keys.map(col): _*).distinct()
    src.unionByName(target.join(broadcast(srcKeys), keys, "left_anti"))
  }

}
