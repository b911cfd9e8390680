package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.NativeRange.binOf

/** Reference formulations of [[graft.plans.NativeRange]]'s range joins in
  * stock Spark: bin-replicated equi-joins plus an exact verify filter. The
  * native sweeps are pinned bit-equal against them (NativeRangeSpec,
  * RangeJoinSpec). They bin with the same [[binOf]], so both forms agree at
  * every magnitude. References only, never a hot path.
  */
object RangeJoinRefs {

  /** Point-in-interval as one hash join on the bin id: each interval is
    * replicated to every bin it overlaps, each point lands in its single
    * bin, and `start <= point <= end` is verified after the join. A pair
    * meets in exactly one bin — the point's — so no dedup is needed. */
  def pointInIntervalComposed(
      points: DataFrame, intervals: DataFrame,
      point: String, start: String, end: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val pb = points.withColumn("__bin", binOf(col(point), binWidth))
    val ib = intervals.withColumn("__bin",
      explode(sequence(binOf(col(start), binWidth), binOf(col(end), binWidth))))
    pb.join(ib, Seq("__bin"))
      .filter(col(point) >= col(start) && col(point) <= col(end))
      .drop("__bin")
  }

  /** Interval overlap as one hash join on the bin id. An overlapping pair
    * shares SEVERAL bins, so the match is attributed to exactly ONE
    * canonical bin — the bin of the overlap's START (`greatest(lStart,
    * rStart)`), which lies inside both intervals and is therefore covered
    * by both replications. That keeps the join duplicate-free without a
    * distinct pass. */
  def intervalOverlapComposed(
      left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def bins(df: DataFrame, s: String, e: String) = df.withColumn("__bin",
      explode(sequence(binOf(col(s), binWidth), binOf(col(e), binWidth))))
    bins(left, lStart, lEnd).join(bins(right, rStart, rEnd), Seq("__bin"))
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .filter(col("__bin") ===
        binOf(greatest(col(lStart), col(rStart)), binWidth))
      .drop("__bin")
  }
}
