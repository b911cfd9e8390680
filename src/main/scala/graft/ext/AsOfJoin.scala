package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: match each left row to the most recent right
  * row with `rightTime <= leftTime`, per key — the backbone of leakage-free
  * point-in-time feature lookups in training pipelines. Spark has no native
  * ASOF JOIN; the naive range-join formulation explodes to O(|L|·|R|) per
  * key before aggregation.
  *
  * Implementation: tag and union both sides, sort each key's timeline once,
  * and carry the last-seen right payload forward with
  * `last(_, ignoreNulls).over(unbounded preceding)` — ONE shuffle on the
  * keys, one in-partition sort, linear work. The same shape Flink/kdb use
  * for as-of semantics, expressed in stock Spark windows (preference (a)
  * of the custom-op ladder: compose built-ins). The forward direction is
  * the same pass over the time-reversed timeline.
  *
  * Keys may be composite and of any orderable type. Null semantics are SQL
  * join semantics (DuckDB `ASOF JOIN`): a row with a null key component or
  * a null time never matches, in either direction.
  */
object AsOfJoin {

  /** left: (keys..., leftTime, ...); right: (keys..., rightTime, payload...).
    * Output: every left row + `asof_<payload>` columns from the matched
    * right row (null when no right row precedes it). Equal timestamps
    * match (`<=`, DuckDB ASOF semantics). Payload/time column names must
    * not collide with left's columns.
    */
  def asOf(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame =
    directed(left, right, keys, leftTime, rightTime, payload, forward = false)

  /** FORWARD as-of join: match each left row to the EARLIEST right row
    * with `rightTime >= leftTime`, per key — pandas `merge_asof
    * direction='forward'`, the time-to-next-event shape (next deploy
    * after an alert, next purchase after a click). Same single keyed
    * shuffle + one timeline sort as [[asOf]]; an equal-timestamp right row
    * matches (`>=`, DuckDB `ASOF JOIN ... ON l.ts <= r.ts` semantics). */
  def asOfForward(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame =
    directed(left, right, keys, leftTime, rightTime, payload, forward = true)

  /** NEAREST as-of join — pandas `merge_asof direction='nearest'`: match
    * each left row to the right row minimizing |rightTime − leftTime|,
    * ties (equidistant before/after) to the BACKWARD match (pandas'
    * rule). Composition of the two directed passes — each is one keyed
    * shuffle + sort — followed by a per-row arbitration on the carried
    * times: no new join, no extra shuffle beyond the two passes.
    * `tolerance` (optional, same time units) drops matches farther than
    * the bound, the dedup/decontam use ("nearest snapshot within 7
    * days"). */
  def asOfNearest(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      payload: Seq[String], tolerance: Option[Long] = None): DataFrame = {
    // carry each direction's matched time alongside its payload
    val rB = right.withColumn("__rt", col(rightTime))
    val back = asOf(left, rB, keys, leftTime, rightTime, payload :+ "__rt")
    val bothCols = left.columns.map(col) ++
      payload.map(p => col(s"asof_$p").as(s"__b_$p")) :+
      col("asof___rt").as("__bt")
    val fwd = asOfForward(back.select(bothCols: _*), rB, keys, leftTime,
      rightTime, payload :+ "__rt")
    // timestamp→double = epoch seconds incl. fractional micros (a plain
    // long cast truncates to seconds and mis-ties sub-second deltas);
    // numeric time columns pass through exactly. `tolerance` is in the
    // column's native unit (seconds for timestamps).
    val db = abs(col(leftTime).cast("double") - col("__bt").cast("double"))
    val df_ = abs(col("asof___rt").cast("double") - col(leftTime).cast("double"))
    val inTol = (d: Column) =>
      tolerance.map(t => d <= lit(t.toDouble)).getOrElse(lit(true))
    // pick backward iff it exists, is in tolerance, and forward is
    // missing/out-of-tolerance or not strictly closer (ties → backward)
    val useBack = col("__bt").isNotNull && inTol(db) &&
      (col("asof___rt").isNull || !inTol(df_) || db <= df_)
    val useFwd = !useBack && col("asof___rt").isNotNull && inTol(df_)
    fwd.select(left.columns.map(col) ++ payload.map { p =>
      when(useBack, col(s"__b_$p"))
        .when(useFwd, col(s"asof_$p"))
        .otherwise(lit(null).cast(right.schema(p).dataType)).as(s"asof_$p")
    }: _*)
  }

  /** The one body of [[asOf]] and [[asOfForward]]. The window runs over
    * each key's timeline in match order — time ascending for backward,
    * descending for forward — with right rows before left rows at an equal
    * instant, so `last(_, ignoreNulls)` over the preceding frame is the
    * match in both directions. */
  private def directed(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      payload: Seq[String], forward: Boolean): DataFrame = {
    // identical schemas: keys, __t, __side, __tb, left's columns, payload
    val lPrep = payload.foldLeft(
      left.withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
        .withColumn("__tb", lit(0L))) {
      (df, p) => df.withColumn(p, lit(null).cast(right.schema(p).dataType))
    }
    val rBase = right
      // a right row with a null key component or a null time matches no
      // left row; dropping it leaves a null-keyed left row alone in its
      // partition, and a null-timed one first in its key's match order
      .filter((keys :+ rightTime).map(col(_).isNotNull).reduce(_ && _))
      .select(keys.map(col) ++ (col(rightTime).as("__t") +: payload.map(col)): _*)
      .withColumn("__side", lit(0))
      // DETERMINISM TIEBREAK: two right rows sharing (keys, rightTime)
      // would otherwise match nondeterministically across partitionings
      // (the in-partition sort is not stable on ties). A payload hash as
      // the final sort key pins one winner per run AND per engine —
      // backward the max hash, forward the min; rows with identical
      // (keys, time, payload) remain interchangeable, which is harmless.
      // Left rows carry 0 — the tiebreak never reorders a left row
      // relative to the right rows it matches against.
      // ORACLE-PARITY CAVEAT: DuckDB's plain ASOF JOIN has no such rule,
      // so cross-ENGINE agreement (q49/q165/q177) additionally relies on
      // the right sides being tie-free on (keys, rightTime) up to payload —
      // true of the testdata (event_id-unique streams) and asserted by the
      // layout-stability spec within Spark. A tied-with-differing-payload
      // right side is pinned per-run here but unspecified in the oracle.
      .withColumn("__tb", xxhash64(payload.map(col): _*))
    val rPrep = left.columns.filterNot(keys.contains).foldLeft(rBase) {
      (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    // null left times sort first, ahead of every (non-null) right time
    def dir(c: String) = if (forward) col(c).desc_nulls_first else col(c).asc_nulls_first
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(dir("__t"), col("__side"), dir("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry ONE struct of all payload columns: every asof_<p> then comes from
    // the SAME matched right row, and a right row whose payload value is NULL
    // still matches (the struct is non-null) — i.e. "most recent row, nulls
    // and all", the DuckDB ASOF semantics. Carrying each column independently
    // would skip null values and could stitch different right rows together.
    val carried = lPrep.unionByName(rPrep.select(lPrep.columns.map(col): _*))
      .withColumn("__match",
        last(when(col("__side") === 0, struct(payload.map(col): _*)),
          ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        payload.map(p => col("__match").getField(p).as(s"asof_$p")): _*)
  }
}
