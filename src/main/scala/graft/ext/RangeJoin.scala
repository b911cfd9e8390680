package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval (range) join without a nested-loop plan.
  *
  * Spark plans `points JOIN intervals ON p BETWEEN s AND e` as
  * BroadcastNestedLoopJoin — O(|P|·|I|) compares, non-viable once the
  * interval side outgrows a broadcast. The scale shape (Flink interval
  * joins, spatial engines' grid joins) is BINNING: discretize the domain
  * into fixed-width bins, replicate each interval to every bin it overlaps,
  * map each point to its single bin, equi-join on the bin id, then verify
  * the exact predicate.
  *
  *  - A (point, interval) pair meets in EXACTLY one bin — the point's —
  *    so no post-join dedup is needed.
  *  - Cost: one hash shuffle on the bin id + |interval| × (span/width)
  *    replication. Pick `binWidth` ≈ the typical interval length: short
  *    intervals replicate ~2×, and bin population (not the whole table)
  *    bounds the per-bin verify work.
  *  - Long-tail intervals (≫ binWidth) replicate proportionally — cap or
  *    split pathological spans upstream the same way LSH caps buckets.
  */
object RangeJoin {

  /** Exact floor-division for bin assignment (r17, was `floor(c / w.toDouble)`):
    * the double round-trip silently mis-bins magnitudes above 2⁵³ (a long
    * that rounds to a neighbouring double crosses a bin edge ⇒ dropped
    * matches). `c − pmod(c, w)` is the exact largest multiple of w ≤ c
    * (pmod is nonnegative), and integral `div` of an exact multiple is
    * exact for every sign — all in 64-bit integer arithmetic. Domain:
    * c > Long.MinValue + w (the subtraction must not wrap), which every
    * epoch-unit column satisfies. */
  private[graft] def binOf(c: org.apache.spark.sql.Column, binWidth: Long)
      : org.apache.spark.sql.Column =
    call_function("div", c.cast("long") - pmod(c.cast("long"), lit(binWidth)),
      lit(binWidth))

  /** `point`, `start`, `end` are integral-valued columns in the same units
    * (e.g. epoch days/seconds); match condition is `start <= point <= end`
    * (inclusive both ends). Output: all columns of both inputs.
    *
    * DISPATCH (r17): the default path is now the native exec
    * ([[graft.plans.NativeRange]] — exec-side interval sweep,
    * O(|P|+|I|+matches) per bin instead of the per-bin hash-probe cross
    * product; bit-equal output, NativeRangeSpec's parity matrix). The
    * native node needs (a) Long/Int range columns and (b) attribute-
    * disjoint inputs (the q208 self-join discipline — re-read the table
    * for a self-range-join); calls that don't qualify fall back to
    * [[pointInIntervalComposed]], which is also the permanent oracle
    * cross-check form. The two forms share [[binOf]], so they bin
    * identically at every magnitude. */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      point: String, start: String, end: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val lp = points.queryExecution.analyzed
    val rp = intervals.queryExecution.analyzed
    val integral = Seq(lp.output.find(_.name == point),
      rp.output.find(_.name == start), rp.output.find(_.name == end))
      .forall(_.exists(a => a.dataType == LongType || a.dataType == IntegerType))
    if (integral && lp.outputSet.intersect(rp.outputSet).isEmpty)
      graft.plans.NativeRange.pointInInterval(
        points, intervals, point, start, end, binWidth)
    else pointInIntervalComposed(points, intervals, point, start, end, binWidth)
  }

  /** The composed (bin hash-join + verify-filter) form — the pre-r17
    * default, kept as the dispatch fallback and the independent
    * implementation every native-parity check compares against. */
  def pointInIntervalComposed(
      points: DataFrame, intervals: DataFrame,
      point: String, start: String, end: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val pb = points.withColumn("__bin", binOf(col(point), binWidth))
    val ib = intervals.withColumn("__bin",
      explode(sequence(
        binOf(col(start), binWidth),
        binOf(col(end), binWidth))))
    pb.join(ib, Seq("__bin"))
      .filter(col(point) >= col(start) && col(point) <= col(end))
      .drop("__bin")
  }

  /** Interval × interval OVERLAP join (closed intervals, integral units):
    * pairs where `lStart <= rEnd AND rStart <= lEnd`. Both inputs must
    * hold VALID intervals (start ≤ end) with column names disjoint across
    * the two sides.
    *
    * DISPATCH (r18, verdict ask #7): the default path decomposes the
    * overlap into TWO native point-in-interval sweeps
    * ([[graft.plans.NativeRange]]) via max-start attribution — every
    * overlapping pair has `max(lStart, rStart)` inside both intervals, so
    *  - pass 1 (`lStart ∈ [rStart, rEnd]`) emits exactly the pairs with
    *    lStart ≥ rStart, and
    *  - pass 2 (`rStart ∈ [lStart+1, lEnd]`, half-open via the +1 on
    *    integral units) emits exactly the pairs with rStart > lStart —
    * a disjoint, complete split: each pair exactly once, no dedup. Each
    * sweep is O(|points| + |replicas| + matches) per bin where the
    * composed single-join form pays the per-bin CROSS PRODUCT of left
    * replicas × right replicas (BOTH sides replicated ~span/width×) —
    * the dense-bin degradation measured in SCALING.md ("Native vs
    * composed interval OVERLAP").
    * Calls that don't qualify for the native exec (non-integral units or
    * shared attribute lineage) fall back to [[intervalOverlapComposed]],
    * the permanent oracle cross-check form. */
  def intervalOverlap(
      left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val integral = Seq(lp.output.find(_.name == lStart),
      lp.output.find(_.name == lEnd), rp.output.find(_.name == rStart),
      rp.output.find(_.name == rEnd))
      .forall(_.exists(a => a.dataType == LongType || a.dataType == IntegerType))
    if (integral && lp.outputSet.intersect(rp.outputSet).isEmpty) {
      val outCols = (left.columns ++ right.columns).map(col).toSeq
      // pass 1: rStart <= lStart <= rEnd — overlap follows (lEnd >= lStart)
      val p1 = graft.plans.NativeRange.pointInInterval(
        left, right, lStart, rStart, rEnd, binWidth)
        .select(outCols: _*)
      // pass 2: lStart < rStart <= lEnd, strict via integral +1; intervals
      // too short to host a strictly-greater start drop out structurally
      val ls = left.withColumn("__s1", col(lStart) + 1)
        .filter(col(lEnd) >= col("__s1"))
      val p2 = graft.plans.NativeRange.pointInInterval(
        right, ls, rStart, "__s1", lEnd, binWidth)
        .select(outCols: _*)
      p1.unionByName(p2)
    } else intervalOverlapComposed(left, right, lStart, lEnd, rStart, rEnd,
      binWidth)
  }

  /** The composed single-join overlap form — the pre-r18 default, kept as
    * the dispatch fallback and the independent implementation the
    * native-parity checks compare against. An overlapping pair shares
    * SEVERAL bins, so the match is attributed to exactly ONE canonical
    * bin — the bin of the overlap's START (`greatest(lStart, rStart)`),
    * which lies inside both intervals by definition of overlap and is
    * therefore covered by both replications. That keeps the join
    * duplicate-free WITHOUT a distinct pass (a distinct would shuffle the
    * whole match set a second time). Cost: one equi-join on the bin id +
    * span/width replication per side — and the per-bin replica cross
    * product the native split sheds. */
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
