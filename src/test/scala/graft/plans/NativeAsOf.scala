package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Descending, Expression,
  GenericInternalRow, JoinedRow, NullsFirst, SortOrder, UnsafeProjection,
  XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** NATIVE AS-OF JOIN — the reference that [[NativeAsOfSpec]] checks the
  * library's as-of join ([[graft.ext.AsOfJoin]], a union plus one keyed
  * window) against. It is a whole-operator implementation (custom
  * `LogicalPlan` + planner `SparkStrategy` + physical `SparkPlan`) that
  * shares no code with the form under test: each side shuffles at its
  * own width, sorts within partitions, and stream-merges with O(1) state
  * per key — no window machinery, no null padding. Same
  * declared-requirements mechanism as SortMergeJoin:
  * `requiredChildDistribution` = ClusteredDistribution per side,
  * `requiredChildOrdering` = (key, time) per side, so the planner owns
  * partitioning/sorting and the exec owns only the merge. It registers
  * its strategy on the session it is given, so it lives in the test tree
  * only, where each suite owns its session.
  *
  * Semantics — identical to [[graft.ext.AsOfJoin.asOf]] (backward) and
  * [[graft.ext.AsOfJoin.asOfForward]] (forward = true), spec-pinned
  * bit-equal (NativeAsOfSpec): backward matches the most recent right
  * row with `rightTime <= leftTime` per key, forward the earliest with
  * `rightTime >= leftTime`; equal timestamps match in both directions;
  * ties on (key, rightTime) break by xxhash64(payload) exactly as the
  * composed operators do (backward: max hash; forward: min hash), so
  * the implementations agree row-for-row even on tied inputs. The
  * forward merge is the backward merge under time-reversed sort order —
  * one algorithm, a flipped comparison. Null keys or times never match
  * (SQL join-null semantics; for composite keys, ANY null component
  * disqualifies the row — consistent with equi-join conjunction).
  *
  * Types: keys may be LongType, IntegerType, DateType, StringType, or
  * TimestampType, composite allowed; string keys compare by UTF8String binary
  * order, exactly the order Spark's own SortOrder imposes on StringType,
  * so the merge's lexicographic key comparison agrees with the
  * planner-provided sort. Both TIME columns must still be LongType or
  * TimestampType (micros-as-long internally); widen with casts upstream.
  */
object NativeAsOf {

  /** Logical node: output = left columns + right payload columns
    * (nullable — unmatched left rows carry nulls). Key/time columns of
    * the right side are consumed by the match and not re-emitted. */
  case class AsOfJoinNode(
      left: LogicalPlan, right: LogicalPlan,
      leftKeys: Seq[Expression], rightKeys: Seq[Expression],
      leftTime: Expression, rightTime: Expression,
      payload: Seq[Attribute], forward: Boolean) extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ payload.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy: one-to-one translation of the logical node. */
  object AsOfJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinNode(l, r, lk, rk, lt, rt, payload, forward) =>
        AsOfJoinExec(lk, rk, lt, rt, payload, forward,
          planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  case class AsOfJoinExec(
      leftKeys: Seq[Expression], rightKeys: Seq[Expression],
      leftTime: Expression, rightTime: Expression,
      payload: Seq[Attribute], forward: Boolean,
      left: SparkPlan, right: SparkPlan) extends SparkPlan with BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ payload.map(_.withNullability(true))

    // each side clusters on its own keys — Catalyst co-partitions the two
    // exchanges exactly as it does for SortMergeJoin
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

    // the merge keeps the LAST tied (key, time) right row it passes, so
    // the tiebreak sort direction encodes the composed operators' rules:
    // backward (time asc, hash asc) -> max hash wins; forward (time desc,
    // hash desc) -> MIN hash wins
    private def timeDir = if (forward) Descending else Ascending
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      leftKeys.map(SortOrder(_, Ascending, NullsFirst, Seq.empty)) :+
        SortOrder(leftTime, timeDir, timeDir.defaultNullOrdering, Seq.empty),
      rightKeys.map(SortOrder(_, Ascending, NullsFirst, Seq.empty)) ++ Seq(
        SortOrder(rightTime, timeDir, timeDir.defaultNullOrdering, Seq.empty),
        SortOrder(XxHash64(payload, 42L), timeDir,
          timeDir.defaultNullOrdering, Seq.empty)))

    override def outputPartitioning: Partitioning = left.outputPartitioning

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
      copy(left = newLeft, right = newRight)

    // component comparison for every supported key type; UTF8String
    // compares by binary order — the same order SortOrder(Ascending)
    // imposes on StringType, so the merge agrees with the planner's sort
    private def compareComponent(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val lOut = left.output
      val rOut = right.output
      val outAttrs = output
      val lks = leftKeys.map(BindReferences.bindReference(_, lOut)).toArray
      val lt = BindReferences.bindReference(leftTime, lOut)
      val rks = rightKeys.map(BindReferences.bindReference(_, rOut)).toArray
      val rt = BindReferences.bindReference(rightTime, rOut)
      val nKeys = lks.length
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        // bind payload against NULLABLE right attrs: unmatched left rows
        // feed an all-null right row, so the bound reference must carry a
        // null check even when the source column is non-nullable
        val resultProj = UnsafeProjection.create(
          outAttrs, lOut ++ rOut.map(_.withNullability(true)))
        val nullRight = new GenericInternalRow(rOut.size)
        val joined = new JoinedRow
        new Iterator[InternalRow] {
          // one-row lookahead on the right + the held best match so far:
          // O(1) state per key, single forward pass over both sides
          private var rNext: InternalRow = _
          private var rNextValid = advanceRight()
          private var held: InternalRow = _
          private var heldKeys: Array[Any] = _
          private var heldValid = false

          // any-null key tuple disqualifies the row (equi-conjunction
          // semantics); returns null for "disqualified"
          private def evalKeys(exprs: Array[Expression],
              row: InternalRow): Array[Any] = {
            val out = new Array[Any](nKeys)
            var i = 0
            while (i < nKeys) {
              val v = exprs(i).eval(row)
              if (v == null) return null
              out(i) = v; i += 1
            }
            out
          }
          private def compareKeys(a: Array[Any], b: Array[Any]): Int = {
            var i = 0
            while (i < nKeys) {
              val c = compareComponent(a(i), b(i))
              if (c != 0) return c
              i += 1
            }
            0
          }
          private def advanceRight(): Boolean = {
            while (rIter.hasNext) {
              val r = rIter.next()
              if (evalKeys(rks, r) != null && rt.eval(r) != null) {
                rNext = r; return true
              }
              // null key/time right rows can never match — drop them
            }
            false
          }
          private def asLong(v: Any): Long = v match {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case other => other.asInstanceOf[Long]
          }
          override def hasNext: Boolean = lIter.hasNext
          override def next(): InternalRow = {
            val l = lIter.next()
            val ks = evalKeys(lks, l); val tv = lt.eval(l)
            if (ks == null || tv == null) return resultProj(joined(l, nullRight))
            val t = asLong(tv)
            var continue = rNextValid
            while (continue) {
              val rKs = evalKeys(rks, rNext)
              val cmp = compareKeys(rKs, ks)
              val timeOk = cmp == 0 && {
                val rT = asLong(rt.eval(rNext))
                if (forward) rT >= t else rT <= t
              }
              if (cmp < 0 || timeOk) {
                if (cmp == 0) { // candidate: copy out of the reused buffer
                  held = rNext.copy()
                  // re-evaluate off the COPY: the UTF8String components of
                  // rKs point into the reused scan buffer and go stale on
                  // the next advance; the copy owns its memory
                  heldKeys = evalKeys(rks, held)
                  heldValid = true
                }
                rNextValid = advanceRight()
                continue = rNextValid
              } else continue = false
            }
            if (heldValid && compareKeys(heldKeys, ks) == 0)
              resultProj(joined(l, held))
            else resultProj(joined(l, nullRight))
          }
        }
      }
    }
  }

  /** `left` (keys..., leftTime, ...) matched to the most recent `right`
    * (keys..., rightTime, payload...) row — output: left.* +
    * `asof_<payload>` columns, exactly [[graft.ext.AsOfJoin.asOf]]'s
    * surface. The two inputs must not share attribute lineage (re-read
    * the table for a self-as-of) and payload names must not collide with
    * left's columns. */
  def asOf(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      payload: Seq[String], forward: Boolean): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val rNarrow = right.select((keys ++ (rightTime +: payload)).distinct.map(col): _*)
    val lp = left.queryExecution.analyzed
    val rp = rNarrow.queryExecution.analyzed
    require(lp.outputSet.intersect(rp.outputSet).isEmpty,
      "left and right must not share attribute lineage — re-read or alias one side")
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${p.output.map(_.name)}"))
    import org.apache.spark.sql.types._
    val keyTypes: Set[DataType] = Set(LongType, IntegerType, StringType,
      TimestampType, DateType)
    (keys.map(attr(lp, _)) ++ keys.map(attr(rp, _))).foreach { a =>
      require(keyTypes.contains(a.dataType),
        s"as-of key ${a.name}: ${a.dataType} unsupported (use ${keyTypes.mkString("/")})")
    }
    Seq(attr(lp, leftTime), attr(rp, rightTime)).foreach { a =>
      require(a.dataType == LongType || a.dataType == TimestampType,
        s"as-of time ${a.name}: ${a.dataType} must be Long or Timestamp (micros)")
    }
    val payloadAttrs = payload.map(attr(rp, _))
    val node = AsOfJoinNode(lp, rp,
      keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, leftTime), attr(rp, rightTime),
      payloadAttrs, forward)
    val joinedDf = org.apache.spark.sql.graft.PlanBridge.ofRows(spark, node)
    joinedDf.select(left.columns.map(col) ++
      payload.map(p => col(p).as(s"asof_$p")): _*)
  }

  def asOf(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame =
    asOf(left, right, keys, leftTime, rightTime, payload, forward = false)

  /** Single-key convenience. */
  def asOf(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      payload: Seq[String], forward: Boolean): DataFrame =
    asOf(left, right, Seq(key), leftTime, rightTime, payload, forward)

  def asOf(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame =
    asOf(left, right, Seq(key), leftTime, rightTime, payload, forward = false)
}
