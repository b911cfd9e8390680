package graft.ext

import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incrementally maintained per-key aggregate — the gold-tier rollup
  * (reference shape: `03_Gold_Aggregates_Features.py`'s summary tables) kept
  * fresh WITHOUT rescanning history. Each [[update]] folds one new fact
  * batch into the stored aggregate: cost is O(|batch| + |keys|) — one
  * partial aggregation over the batch, one keyed merge against the
  * current aggregate table — while a naive rebuild rescans the full fact
  * history every refresh. At 100 TB of facts with bounded key cardinality
  * that is the difference between a streaming-rate refresh and a daily
  * batch window.
  *
  * The trick is standard (materialized-view maintenance over distributive
  * aggregates): store the MERGEABLE partials (count, decimal sum, min,
  * max), never the derived values (avg). count/sum merge by addition,
  * min/max by min/max — all associative+commutative, so `update` order
  * and partitioning can't change the result; avg is derived at read time
  * (`sum/count`, the catalog's exact-sum/exact-count rule). Sums
  * accumulate in DECIMAL(28,2) so the incremental path is bit-identical
  * to a one-shot aggregation — extension == rebuild, spec-pinned, and
  * q135's DuckDB oracle is a plain GROUP BY over the full fact table.
  *
  * Storage is a [[VersionedTable]]: one atomic commit per batch through
  * [[VersionedTable.commitBatch]], op-tagged `agg batch=<id>` — an
  * at-least-once replay of an already-applied batch is recognized by its
  * batchId in the commit log and skipped (the batch-commit protocol every
  * maintained stream artifact shares; applied ids via
  * [[VersionedTable.appliedBatches]]), so streaming delivery semantics
  * can't double-count. History/time-travel of the aggregate come free
  * from the table machinery.
  */
object IncrementalAgg {

  /** Fold fact batch `batchId` into the aggregate at `path`, grouping by
    * `keys` and aggregating `valueCol`. Returns false iff the batch was
    * already applied (replay no-op). */
  def update(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String], valueCol: String, batchId: Long): Boolean =
    VersionedTable.commitBatch(spark, path, "agg", batchId) { current =>
      val keyC = keys.map(col)
      val partial = batch.groupBy(keyC: _*).agg(
        count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast(DecimalType(28, 2))).as("sum_val"),
        min(col(valueCol)).as("min_val"),
        max(col(valueCol)).as("max_val"))
      val merged = current match {
        case None => partial
        case Some(prior) => prior.unionByName(partial)
          .groupBy(keyC: _*).agg(
            sum(col("n_rows")).as("n_rows"),
            sum(col("sum_val")).as("sum_val"),
            min(col("min_val")).as("min_val"),
            max(col("max_val")).as("max_val"))
      }
      // Spark widens SUM(DECIMAL(28,2)) → DECIMAL(38,2); pin the stored
      // type so every commit carries the identical schema (count likewise
      // re-summed to BIGINT on merge — already long both ways).
      merged.select(keyC ++ Seq(
        col("n_rows").cast("long").as("n_rows"),
        col("sum_val").cast(DecimalType(28, 2)).as("sum_val"),
        col("min_val"), col("max_val")): _*)
    }

  /** The current aggregate (None if nothing ever applied). Partials only —
    * derive ratios downstream so they stay exact-sum/exact-count. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    VersionedTable.read(spark, path)
}
