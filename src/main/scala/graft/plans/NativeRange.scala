package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, JoinedRow, NullsFirst,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._

/** NATIVE RANGE (point-in-interval) JOIN — the whole-operator physical
  * tier (custom `LogicalPlan` + planner `SparkStrategy` + physical
  * `SparkPlan`) and the one range join in the library.
  *
  * Spark plans `points JOIN intervals ON p BETWEEN s AND e` as
  * BroadcastNestedLoopJoin — O(|P|·|I|) compares, non-viable once the
  * interval side outgrows a broadcast. The scale shape (Flink interval
  * joins, spatial engines' grid joins) is BINNING: discretize the domain
  * into fixed-width bins ([[binOf]]), replicate each interval to every bin
  * it overlaps, map each point to its single bin, and co-partition both
  * sides on the bin id. A (point, interval) pair meets in EXACTLY one bin
  * — the point's — so the pair set needs no dedup. Pick `binWidth` ≈ the
  * typical interval length: short intervals replicate ~2×, and bin
  * population (not the whole table) bounds the per-bin work; long-tail
  * intervals (≫ binWidth) replicate proportionally.
  *
  * Within a bin the exec SWEEPS instead of hash-probing: the bin-join form
  * (`RangeJoinRefs.pointInIntervalComposed` in the tests) probes the bin
  * id and emits EVERY interval replica in the point's bin for every
  * point, then filters `start <= p <= end` — per-bin cost
  * O(|P_bin|·|I_bin|). The sweep walks both sides ONCE in (bin, time)
  * order keeping only the ACTIVE intervals (start ≤ current point, end not
  * yet passed) — O(|P| + |I| + matches) per bin. Dense bins are exactly
  * where the bin join degrades; they cost the sweep nothing extra beyond
  * its active set. requiredChildDistribution/Ordering hand partitioning
  * and sort to Catalyst (the SortMergeJoin mechanism), the predicate is
  * fused in the merge, and the bin id never reaches the output.
  *
  * Semantics — spec-pinned bit-equal to the bin-join reference
  * (NativeRangeSpec): inner join of points to intervals with
  * `start <= point <= end` (closed ends, integral Long/Int units); null
  * point / start / end rows never match. Output: left columns then right
  * columns, matches only, in left-row order within a partition. The two
  * inputs must not share attribute lineage (re-read the table for a
  * self-range-join); an input that does not qualify fails up front.
  *
  * Scale: distribution is per-bin (ClusteredDistribution on the bin ids) —
  * the planner co-partitions both sides exactly as it would an equi-join,
  * AQE still coalesces/splits on the exchanges, and the active set is
  * bounded by intervals-per-bin, so executor memory holds O(bin
  * population) interval copies, never a table.
  */
object NativeRange {

  /** Logical node: children already carry their bin ids (point side: one
    * bin per row; interval side: pre-exploded replicas). Output = left
    * columns (minus bin) ++ right columns (minus bin). */
  case class RangeJoinNode(
      left: LogicalPlan, right: LogicalPlan,
      leftBin: Attribute, rightBin: Attribute,
      point: Attribute, start: Attribute, end: Attribute) extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output.filterNot(_.exprId == leftBin.exprId) ++
        right.output.filterNot(_.exprId == rightBin.exprId)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinNode =
      copy(left = newLeft, right = newRight)
  }

  object RangeJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case RangeJoinNode(l, r, lb, rb, p, s, e) =>
        RangeJoinExec(lb, rb, p, s, e, planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  case class RangeJoinExec(
      leftBin: Attribute, rightBin: Attribute,
      point: Attribute, start: Attribute, end: Attribute,
      left: SparkPlan, right: SparkPlan) extends SparkPlan with BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output.filterNot(_.exprId == leftBin.exprId) ++
        right.output.filterNot(_.exprId == rightBin.exprId)

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(leftBin)) ::
        ClusteredDistribution(Seq(rightBin)) :: Nil

    // sweep order: (bin, point) on the left, (bin, start) on the right
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      Seq(SortOrder(leftBin, Ascending, NullsFirst, Seq.empty),
        SortOrder(point, Ascending, NullsFirst, Seq.empty)),
      Seq(SortOrder(rightBin, Ascending, NullsFirst, Seq.empty),
        SortOrder(start, Ascending, NullsFirst, Seq.empty)))

    // the children cluster on the __bin ids, which are NOT in the output —
    // advertising left's partitioning would reference a dropped attribute,
    // so report unknown (bin partitioning is useless downstream anyway)
    override def outputPartitioning: Partitioning =
      UnknownPartitioning(left.outputPartitioning.numPartitions)

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
      copy(left = newLeft, right = newRight)

    override protected def doExecute(): RDD[InternalRow] = {
      val lOut = left.output
      val rOut = right.output
      val outAttrs = output
      val lb = BindReferences.bindReference(leftBin: Expression, lOut)
      val pt = BindReferences.bindReference(point: Expression, lOut)
      val rb = BindReferences.bindReference(rightBin: Expression, rOut)
      val st = BindReferences.bindReference(start: Expression, rOut)
      val en = BindReferences.bindReference(end: Expression, rOut)
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        val resultProj = UnsafeProjection.create(outAttrs, lOut ++ rOut)
        val joined = new JoinedRow
        def asLong(v: Any): Long = v match {
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case s: java.lang.Short => s.longValue()
          case other => other.asInstanceOf[Long]
        }
        new Iterator[InternalRow] {
          // one-row lookahead on the interval side; null bin/start/end rows
          // can never match and are dropped on advance
          private var rNext: InternalRow = _
          private var rNextBin = 0L
          private var rNextStart = 0L
          private var rNextValid = advanceRight()
          // active = interval copies of the CURRENT bin with start <= the
          // current point, not yet expired (end >= last point seen); rows
          // and their (start, end) are copied out of the scan buffer
          private var curBin = 0L
          private var haveBin = false
          private val active = new scala.collection.mutable.ArrayBuffer[InternalRow]
          private val activeEnd = new scala.collection.mutable.ArrayBuffer[Long]
          // matches pending emission for the current left row
          private var pendingLeft: InternalRow = _
          private var pending: Iterator[InternalRow] = Iterator.empty

          private def advanceRight(): Boolean = {
            while (rIter.hasNext) {
              val r = rIter.next()
              val bv = rb.eval(r); val sv = st.eval(r); val ev = en.eval(r)
              if (bv != null && sv != null && ev != null) {
                rNext = r; rNextBin = asLong(bv); rNextStart = asLong(sv)
                return true
              }
            }
            false
          }

          private def refill(): Unit = {
            while (!pending.hasNext && lIter.hasNext) {
              val l = lIter.next()
              val bv = lb.eval(l); val pv = pt.eval(l)
              if (bv != null && pv != null) {
                val b = asLong(bv); val p = asLong(pv)
                if (!haveBin || b != curBin) {
                  active.clear(); activeEnd.clear()
                  curBin = b; haveBin = true
                }
                // buffer this bin's intervals opened up to p; skip earlier bins
                while (rNextValid && (rNextBin < b ||
                    (rNextBin == b && rNextStart <= p))) {
                  if (rNextBin == b) {
                    active += rNext.copy()
                    activeEnd += asLong(en.eval(rNext))
                  }
                  rNextValid = advanceRight()
                }
                // emit matches; compact expired (end < p — no later point in
                // this bin can match them either, points ascend)
                var i = 0; var w = 0
                val hits = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
                while (i < active.length) {
                  if (activeEnd(i) >= p) {
                    hits += active(i)
                    if (w != i) { active(w) = active(i); activeEnd(w) = activeEnd(i) }
                    w += 1
                  }
                  i += 1
                }
                active.dropRightInPlace(active.length - w)
                activeEnd.dropRightInPlace(activeEnd.length - w)
                if (hits.nonEmpty) {
                  pendingLeft = l.copy()
                  pending = hits.iterator
                }
              }
            }
          }

          override def hasNext: Boolean = { refill(); pending.hasNext }
          override def next(): InternalRow = {
            refill()
            resultProj(joined(pendingLeft, pending.next()))
          }
        }
      }
    }
  }

  /** Exact floor-division for bin assignment (r17, was `floor(c / w.toDouble)`):
    * the double round-trip silently mis-bins magnitudes above 2⁵³ (a long
    * that rounds to a neighbouring double crosses a bin edge ⇒ dropped
    * matches). `c − pmod(c, w)` is the exact largest multiple of w ≤ c
    * (pmod is nonnegative), and integral `div` of an exact multiple is
    * exact for every sign — all in 64-bit integer arithmetic. Domain:
    * c > Long.MinValue + w (the subtraction must not wrap), which every
    * epoch-unit column satisfies. */
  private[graft] def binOf(c: Column, binWidth: Long): Column =
    call_function("div", c.cast("long") - pmod(c.cast("long"), lit(binWidth)),
      lit(binWidth))

  /** `points` matched to every `intervals` row whose `[start, end]`
    * (closed, integral Long/Int units) contains `point`. Output: all
    * columns of both inputs, matches only. The two inputs must not share
    * attribute lineage (re-read the table for a self-range-join). */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      point: String, start: String, end: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val spark = points.sparkSession
    if (!spark.experimental.extraStrategies.contains(RangeJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RangeJoinStrategy
    val pb = points.withColumn("__bin", binOf(col(point), binWidth))
    val ib = intervals.withColumn("__bin",
      explode(sequence(binOf(col(start), binWidth), binOf(col(end), binWidth))))
    val lp = pb.queryExecution.analyzed
    val rp = ib.queryExecution.analyzed
    require(lp.outputSet.intersect(rp.outputSet).isEmpty,
      "points and intervals must not share attribute lineage — re-read or alias one side")
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${p.output.map(_.name)}"))
    import org.apache.spark.sql.types._
    Seq(attr(lp, point), attr(rp, start), attr(rp, end)).foreach { a =>
      require(a.dataType == LongType || a.dataType == IntegerType,
        s"range column ${a.name}: ${a.dataType} must be integral (Long/Int)")
    }
    val node = RangeJoinNode(lp, rp,
      attr(lp, "__bin"), attr(rp, "__bin"),
      attr(lp, point), attr(rp, start), attr(rp, end))
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark, node)
  }

  /** Interval × interval OVERLAP join (closed intervals, integral units):
    * pairs where `lStart <= rEnd AND rStart <= lEnd`. Both inputs must
    * hold VALID intervals (start ≤ end) with column names disjoint across
    * the two sides, and meet [[pointInInterval]]'s requirements.
    *
    * Two point-in-interval sweeps under max-start attribution — every
    * overlapping pair has `max(lStart, rStart)` inside both intervals, so
    *  - pass 1 (`lStart ∈ [rStart, rEnd]`) emits exactly the pairs with
    *    lStart ≥ rStart, and
    *  - pass 2 (`rStart ∈ [lStart+1, lEnd]`, half-open via the +1 on
    *    integral units) emits exactly the pairs with rStart > lStart —
    * a disjoint, complete split: each pair exactly once, no dedup. Each
    * sweep is O(|points| + |replicas| + matches) per bin, where a single
    * bin join pays the per-bin CROSS PRODUCT of left replicas × right
    * replicas (SCALING.md, "Native vs composed interval OVERLAP"). */
  def intervalOverlap(
      left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long): DataFrame = {
    val outCols = (left.columns ++ right.columns).map(col).toSeq
    // pass 1: rStart <= lStart <= rEnd — overlap follows (lEnd >= lStart)
    val p1 = pointInInterval(left, right, lStart, rStart, rEnd, binWidth)
      .select(outCols: _*)
    // pass 2: lStart < rStart <= lEnd, strict via integral +1; intervals
    // too short to host a strictly-greater start drop out structurally
    val ls = left.withColumn("__s1", col(lStart) + 1)
      .filter(col(lEnd) >= col("__s1"))
    val p2 = pointInInterval(right, ls, rStart, "__s1", lEnd, binWidth)
      .select(outCols: _*)
    p1.unionByName(p2)
  }
}
