package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout levers: clustering, compaction, partitioned writes —
  * the core-Spark analogues of the reference's Delta maintenance ops
  * (`OPTIMIZE ... ZORDER BY` /root/reference/03_Gold_Aggregates_Features.py:
  * 207-216, small-file compaction 03:234, partitionBy 01:186).
  *
  * Why this works without Delta: parquet writes row-group min/max stats per
  * file; range-repartitioning + in-partition sort on the filter columns
  * makes those ranges narrow and disjoint, so a filtered scan prunes whole
  * files/row-groups — the same "10-100x scan reduction" mechanism Z-ORDER
  * advertises (03:233), minus the multi-dimensional curve.
  */
object Layout {

  /** Range-cluster `df` into `numFiles` sorted files on `cols`: the direct
    * single-dimension Z-ORDER analogue. Sampling-based range partitioning
    * keeps files balanced even on skewed keys. */
  def cluster(df: DataFrame, numFiles: Int, cols: Column*): DataFrame =
    df.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*)

  /** Multi-dimension clustering via interleaved bit order (true Z-order
    * curve) on two int-like dimensions, for workloads filtering either
    * dimension. Bits are interleaved with shifts — codegen'd, no UDF. */
  def zorderKey2(a: Column, b: Column, bits: Int = 16): Column = {
    val an = a.cast("long").bitwiseAND(lit((1L << bits) - 1))
    val bn = b.cast("long").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      val abit = shiftleft(shiftrightunsigned(an, i).bitwiseAND(lit(1L)), 2 * i)
      val bbit = shiftleft(shiftrightunsigned(bn, i).bitwiseAND(lit(1L)), 2 * i + 1)
      abit.bitwiseOR(bbit)
    }.reduce(_.bitwiseOR(_))
  }

  /** Small-file compaction (03:234): rewrite to `numFiles` outputs. */
  def compact(df: DataFrame, numFiles: Int): DataFrame = df.coalesce(numFiles)

  /** OPTIMIZE-style SIZE-TARGETED compaction: rewrite a parquet directory
    * so each output file is ~`targetBytes` (Delta's `optimize.targetFileSize`
    * dial). File count is derived from the directory's actual byte size — a
    * driver-side metadata listing, never a data scan. Small-file storms are
    * the classic streaming-ingest pathology: every micro-batch writes
    * per-partition files, and a 100 TB table read then pays open/footer
    * costs per file instead of per row group. Returns the output file
    * count. `out` must differ from `in` (Spark cannot overwrite its own
    * input); swap via [[graft.sources.VersionedTable.commit]] for an
    * atomic cutover. */
  def compactToTarget(spark: org.apache.spark.sql.SparkSession,
      in: String, out: String, targetBytes: Long): Int = {
    require(in != out, "compaction must write a new location (COW)")
    val p = new org.apache.hadoop.fs.Path(in)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(in).repartition(n).write.mode("overwrite").parquet(out)
    n
  }

  /** Date-partitioned write (01:186): one directory per `partCol` value —
    * partition pruning for time-range queries at any scale. */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)

  /** BUCKETED table write — the co-located-join layout lever: both sides
    * of a recurring equi-join written with the SAME bucket count on the
    * join key are hash-distributed identically ON DISK, so the join
    * plans with NO Exchange on either side (spec-pinned) — at 100 TB
    * that deletes the single most expensive stage a fact⋈fact join has
    * (two full-table shuffles), and `sortCols` pre-sorts within buckets
    * so sort-merge can skip its sorts too when bucket files are single.
    * This is Spark's native analogue of the warehouse CLUSTER BY /
    * Delta liquid-clustering join optimization; unlike
    * [[writePartitioned]] it composes with high-cardinality keys
    * (buckets hash, partitions enumerate). Managed-table form because
    * bucket metadata lives in the catalog, not the files. */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
