package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native fused random-hyperplane LSH signature: `nPlanes` sign bits packed
  * into a long, the ANN bucket key ([[graft.ext.Similarity.lshTopK]]).
  *
  * Bit-identical to the composable HOF formulation (the test reference
  * `graft.ext.SimilarityRefs`, pinned in SimilaritySpec): plane components
  * are `(pmod(xxhash64(plane, dim), 2000001) - 1000000) / 1e6` and each
  * projection accumulates `vec(d) * component` left-to-right in doubles.
  * The HOF tree is interpreted (higher-order functions are CodegenFallback
  * in Spark 4.x) and pays ~d × nPlanes boxed lambda evaluations per row —
  * at d=64, 12 planes that's ~4.6k allocations/row, the dominant cost of
  * bucketing a 100 TB corpus. This expression is one primitive loop:
  * O(d × nPlanes) flops, zero allocation.
  */
case class HyperplaneSig(child: Expression, nPlanes: Int, planeOffset: Int = 0)
    extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1,63], got $nPlanes")
  require(planeOffset >= 0, s"planeOffset must be >= 0, got $planeOffset")

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"hyperplane_sig needs array<float|double>, got $other")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      // xxhash64(lit(p), d) chains: seed 42 over the (offset) plane id, then
      // the dim — distinct offsets give independent hyperplane sets, the
      // multi-table LSH (OR-amplification) dial
      val planeSeed = XXH64.hashInt(planeOffset + p, 42L)
      var acc = 0.0
      var anyNull = false
      var d = 0
      while (d < n && !anyNull) {
        if (vec.isNullAt(d)) anyNull = true
        else {
          var m = XXH64.hashInt(d, planeSeed) % 2000001L
          if (m < 0L) m += 2000001L
          val comp = (m - 1000000L).toDouble / 1000000.0
          val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
          acc += x * comp
        }
        d += 1
      }
      // HOF: a null element nulls the whole sum -> when(null >= 0) -> bit 0
      if (!anyNull && acc >= 0.0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val xxh = classOf[XXH64].getName
      val get = if (isFloat) s"(double) $vec.getFloat" else s"$vec.getDouble"
      val n = ctx.freshName("n"); val sig = ctx.freshName("sig")
      val p = ctx.freshName("p"); val d = ctx.freshName("d")
      val seed = ctx.freshName("seed"); val acc = ctx.freshName("acc")
      val anyNull = ctx.freshName("anyNull"); val m = ctx.freshName("m")
      s"""
        int $n = $vec.numElements();
        long $sig = 0L;
        for (int $p = 0; $p < $nPlanes; $p++) {
          long $seed = $xxh.hashInt($planeOffset + $p, 42L);
          double $acc = 0.0;
          boolean $anyNull = false;
          for (int $d = 0; $d < $n && !$anyNull; $d++) {
            if ($vec.isNullAt($d)) { $anyNull = true; } else {
              long $m = $xxh.hashInt($d, $seed) % 2000001L;
              if ($m < 0L) $m += 2000001L;
              $acc += $get($d) * (($m - 1000000L) / 1000000.0);
            }
          }
          if (!$anyNull && $acc >= 0.0) $sig |= (1L << $p);
        }
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  def hyperplaneSig(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    ColumnBridge.column(HyperplaneSig(ColumnBridge.expression(vec), nPlanes, planeOffset))
}
