package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native vector expressions over `array<float|double>` embeddings.
  *
  * Semantics are IDENTICAL to the higher-order-function formulation in
  * [[graft.ext.Similarity]] (per-element double cast, strict left-to-right
  * accumulation, dot/(√na·√nb)) — so results stay bit-equal to the DuckDB
  * oracle — but evaluation is a primitive loop instead of interpreted
  * zip_with/aggregate lambda trees (which allocate and box per element).
  * One fused pass computes dot and both norms. `doGenCode` emits the same
  * loop, so the projection stays inside WholeStageCodegen instead of
  * breaking the stage with a fallback.
  *
  * PRECONDITION: array elements must be non-null (`containsNull = false`,
  * which is what parquet-loaded embeddings carry). On arrays WITH null
  * elements the HOF formulation yields NULL (zip_with/aggregate propagate),
  * while this expression would read the raw slot — so the two diverge there
  * by design; do not use it on nullable-element arrays. Same contract as
  * [[JaccardSim]] / [[SortedJaccard]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity needs array<float|double>, got ${left.dataType}, ${right.dataType}")

  @inline private def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val aF = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val bF = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, aF, i); val y = elem(b, bF, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // equal-length precondition: on mismatch the HOF twin returns NULL
    // (zip_with null-pads), this expression returns a number — finishing
    // the longer side's norm keeps the value well-defined there, but the
    // HOF-equivalence claim only covers equal-length inputs:
    var j = n
    while (j < a.numElements()) { val x = elem(a, aF, j); na += x * x; j += 1 }
    j = n
    while (j < b.numElements()) { val y = elem(b, bF, j); nb += y * y; j += 1 }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val aGet = if (left.dataType.asInstanceOf[ArrayType].elementType == FloatType)
        s"(double) $a.getFloat" else s"$a.getDouble"
      val bGet = if (right.dataType.asInstanceOf[ArrayType].elementType == FloatType)
        s"(double) $b.getFloat" else s"$b.getDouble"
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val sa = ctx.freshName("sa"); val sb = ctx.freshName("sb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
        int $na = $a.numElements();
        int $nb = $b.numElements();
        int $n = java.lang.Math.min($na, $nb);
        double $dot = 0.0; double $sa = 0.0; double $sb = 0.0;
        int $i = 0;
        while ($i < $n) {
          double $x = $aGet($i); double $y = $bGet($i);
          $dot += $x * $y; $sa += $x * $x; $sb += $y * $y;
          $i++;
        }
        for ($i = $n; $i < $na; $i++) { double $x = $aGet($i); $sa += $x * $x; }
        for ($i = $n; $i < $nb; $i++) { double $y = $bGet($i); $sb += $y * $y; }
        ${ev.value} = $dot / (java.lang.Math.sqrt($sa) * java.lang.Math.sqrt($sb));
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Squared L2 distance, fused: ‖a‖² − 2a·b + ‖b‖² in one primitive pass.
  * Bit-identical to the HOF formulation `dot(a,a) - 2*dot(a,b) + dot(b,b)`
  * (the test reference in `graft.ext.SimilarityRefs`) FOR EQUAL-LENGTH
  * ARRAYS: each of the three sums accumulates left-to-right exactly as its own
  * `aggregate(zip_with(...))` would, and the final combine is the same
  * three-term expression — so k-means stays exact-oracle-checkable while
  * the assignment scan runs a primitive loop inside WholeStageCodegen.
  *
  * PRECONDITION: equal lengths (what a fixed-dim embedding column
  * guarantees). On length-mismatched inputs the HOF formulation yields
  * NULL (`zip_with` null-pads the shorter side and the null poisons the
  * sum) while this expression sums the longer side's tail squares and
  * returns a number — the equivalence claim does NOT cover that case.
  * Same non-null-element contract as [[CosineSimilarity]]. */
case class SqL2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_l2_distance"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_l2_distance needs array<float|double>, got ${left.dataType}, ${right.dataType}")

  @inline private def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val aF = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val bF = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, aF, i); val y = elem(b, bF, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    var j = n
    while (j < a.numElements()) { val x = elem(a, aF, j); na += x * x; j += 1 }
    j = n
    while (j < b.numElements()) { val y = elem(b, bF, j); nb += y * y; j += 1 }
    java.lang.Double.valueOf(na - 2.0 * dot + nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val aGet = if (left.dataType.asInstanceOf[ArrayType].elementType == FloatType)
        s"(double) $a.getFloat" else s"$a.getDouble"
      val bGet = if (right.dataType.asInstanceOf[ArrayType].elementType == FloatType)
        s"(double) $b.getFloat" else s"$b.getDouble"
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val sa = ctx.freshName("sa"); val sb = ctx.freshName("sb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
        int $na = $a.numElements();
        int $nb = $b.numElements();
        int $n = java.lang.Math.min($na, $nb);
        double $dot = 0.0; double $sa = 0.0; double $sb = 0.0;
        int $i = 0;
        while ($i < $n) {
          double $x = $aGet($i); double $y = $bGet($i);
          $dot += $x * $y; $sa += $x * $x; $sb += $y * $y;
          $i++;
        }
        for ($i = $n; $i < $na; $i++) { double $x = $aGet($i); $sa += $x * $x; }
        for ($i = $n; $i < $nb; $i++) { double $y = $bGet($i); $sb += $y * $y; }
        ${ev.value} = $sa - 2.0 * $dot + $sb;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqL2Distance =
    copy(left = l, right = r)
}

object VectorOps {
  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sqL2Distance(a: Column, b: Column): Column =
    ColumnBridge.column(SqL2Distance(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
