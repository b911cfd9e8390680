package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native fused expressions for [[graft.ext.PortableHash]]'s
  * engine-portable (DuckDB-rederivable) hash family — the hot path behind
  * the full-oracle near-dup queries q31/q39.
  *
  * Why native and not the Column composition: the higher-order-function
  * formulation is interpreted (HOFs are CodegenFallback), and
  * CollapseProject inlines a signature referenced by k seeds / 64 bits
  * into k/64 COPIES of the whole token-fold subtree — measured 540 s for
  * q39 at sf0.1 where this expression runs it in well under a second.
  * One pass over the token array, zero intermediate arrays, zero boxing.
  *
  * Semantics are BIT-IDENTICAL to the Column forms (the MinHash signature
  * and SimHash votes+pack references in the test tree's
  * `graft.ext.PortableHashRefs`, spec-pinned in CodegenSpec) and to the
  * DuckDB oracle SQL: codepoint fold `(h·31+c) mod P` init 7 per
  * non-empty token, chain fold
  * `(a·8191+c) mod P` init 7, seeded mix `((h·(j+1)) mod P · 2654435761)
  * mod P`, P = 1000003. Empty tokens (runs of spaces) are skipped — the
  * same guard both engines apply before folding.
  */
object PortableHashSig {
  val P = 1000003L
  val Mix = 2654435761L

  /** `portableMinhashSig(tokens, k, w)` → array<long> of k signature
    * minima over the w-token shingle chain hashes. */
  def portableMinhashSig(tokens: Column, k: Int, w: Int = 3): Column =
    ColumnBridge.column(PortableMinHashSig(ColumnBridge.expression(tokens), k, w))

  /** `portableSimhashBands(tokens)` → array<long> of FOUR 16-bit band
    * keys (64 bit-votes packed 16 per band). */
  def portableSimhashBands(tokens: Column): Column =
    ColumnBridge.column(PortableSimHashBands(ColumnBridge.expression(tokens)))

  /** `portableHyperplaneSig(vec, nPlanes, planeOffset)` → long bucket key
    * of `nPlanes` sign bits against portable pseudo-random hyperplanes. */
  def portableHyperplaneSig(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    ColumnBridge.column(PortableHyperplaneSig(
      ColumnBridge.expression(vec), nPlanes, planeOffset))
}

/** k portable-MinHash minima over w-shingles of a token array, one pass. */
case class PortableMinHashSig(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  import PortableHashSig.{P, Mix}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0 || w <= 0) {
      TypeCheckResult.TypeCheckFailure(
        s"portable_minhash_sig needs k > 0 and w > 0, got k=$k w=$w")
    } else child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"portable_minhash_sig needs array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val th = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val str = toks.getUTF8String(i).toString
        if (str.length > 0) {
          var h = 7L
          var ci = 0
          while (ci < str.length) {
            val cp = str.codePointAt(ci)
            h = (h * 31 + cp) % P
            ci += Character.charCount(cp)
          }
          th(m) = h; m += 1
        }
      }
      i += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    val nSh = if (m < w) 1 else m - (w - 1)
    var si = 0
    while (si < nSh) {
      var sh = 7L
      val end = math.min(si + w, m)
      var j = si
      while (j < end) { sh = (sh * 8191L + th(j)) % P; j += 1 }
      var seed = 0
      while (seed < k) {
        val mixed = sh * (seed + 1) % P * Mix % P
        if (mixed < mins(seed)) mins(seed) = mixed
        seed += 1
      }
      si += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val gad = classOf[GenericArrayData].getName
      val n = ctx.freshName("n"); val th = ctx.freshName("th")
      val m = ctx.freshName("m"); val i = ctx.freshName("i")
      val str = ctx.freshName("str"); val h = ctx.freshName("h")
      val ci = ctx.freshName("ci"); val cp = ctx.freshName("cp")
      val mins = ctx.freshName("mins"); val nSh = ctx.freshName("nSh")
      val si = ctx.freshName("si"); val sh = ctx.freshName("sh")
      val end = ctx.freshName("end"); val j = ctx.freshName("j")
      val seed = ctx.freshName("seed"); val mixed = ctx.freshName("mixed")
      s"""
        int $n = $toks.numElements();
        long[] $th = new long[$n];
        int $m = 0;
        for (int $i = 0; $i < $n; $i++) {
          if (!$toks.isNullAt($i)) {
            String $str = $toks.getUTF8String($i).toString();
            if ($str.length() > 0) {
              long $h = 7L;
              int $ci = 0;
              while ($ci < $str.length()) {
                int $cp = $str.codePointAt($ci);
                $h = ($h * 31L + $cp) % ${P}L;
                $ci += java.lang.Character.charCount($cp);
              }
              $th[$m++] = $h;
            }
          }
        }
        long[] $mins = new long[$k];
        java.util.Arrays.fill($mins, Long.MAX_VALUE);
        int $nSh = ($m < $w) ? 1 : $m - ${w - 1};
        for (int $si = 0; $si < $nSh; $si++) {
          long $sh = 7L;
          int $end = java.lang.Math.min($si + $w, $m);
          for (int $j = $si; $j < $end; $j++) {
            $sh = ($sh * 8191L + $th[$j]) % ${P}L;
          }
          for (int $seed = 0; $seed < $k; $seed++) {
            long $mixed = $sh * ($seed + 1) % ${P}L * ${Mix}L % ${P}L;
            if ($mixed < $mins[$seed]) $mins[$seed] = $mixed;
          }
        }
        ${ev.value} = new $gad($mins);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PortableMinHashSig =
    copy(child = newChild)
}

/** Portable SimHash: 64 modular bit votes per token, sign bits packed 16
  * per band → array<long> of 4 band keys, one pass. */
case class PortableSimHashBands(child: Expression) extends UnaryExpression {
  import PortableHashSig.{P, Mix}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_simhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"portable_simhash_bands needs array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val votes = new Array[Long](64)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val str = toks.getUTF8String(i).toString
        if (str.length > 0) {
          var h = 7L
          var ci = 0
          while (ci < str.length) {
            val cp = str.codePointAt(ci)
            h = (h * 31 + cp) % P
            ci += Character.charCount(cp)
          }
          var b = 0
          while (b < 64) {
            val mixed = h * (b + 1) % P * Mix % P
            votes(b) += (if (mixed * 2 >= P) 1L else -1L)
            b += 1
          }
        }
      }
      i += 1
    }
    val bands = new Array[Long](4)
    var band = 0
    while (band < 4) {
      var key = 0L
      var bi = 0
      while (bi < 16) {
        if (votes(band * 16 + bi) > 0) key |= (1L << bi)
        bi += 1
      }
      bands(band) = key; band += 1
    }
    new GenericArrayData(bands)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val gad = classOf[GenericArrayData].getName
      val n = ctx.freshName("n"); val votes = ctx.freshName("votes")
      val i = ctx.freshName("i"); val str = ctx.freshName("str")
      val h = ctx.freshName("h"); val ci = ctx.freshName("ci")
      val cp = ctx.freshName("cp"); val b = ctx.freshName("b")
      val mixed = ctx.freshName("mixed"); val bands = ctx.freshName("bands")
      val band = ctx.freshName("band"); val key = ctx.freshName("key")
      val bi = ctx.freshName("bi")
      s"""
        int $n = $toks.numElements();
        long[] $votes = new long[64];
        for (int $i = 0; $i < $n; $i++) {
          if (!$toks.isNullAt($i)) {
            String $str = $toks.getUTF8String($i).toString();
            if ($str.length() > 0) {
              long $h = 7L;
              int $ci = 0;
              while ($ci < $str.length()) {
                int $cp = $str.codePointAt($ci);
                $h = ($h * 31L + $cp) % ${P}L;
                $ci += java.lang.Character.charCount($cp);
              }
              for (int $b = 0; $b < 64; $b++) {
                long $mixed = $h * ($b + 1) % ${P}L * ${Mix}L % ${P}L;
                $votes[$b] += ($mixed * 2 >= ${P}L) ? 1L : -1L;
              }
            }
          }
        }
        long[] $bands = new long[4];
        for (int $band = 0; $band < 4; $band++) {
          long $key = 0L;
          for (int $bi = 0; $bi < 16; $bi++) {
            if ($votes[$band * 16 + $bi] > 0) $key |= (1L << $bi);
          }
          $bands[$band] = $key;
        }
        ${ev.value} = new $gad($bands);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PortableSimHashBands =
    copy(child = newChild)
}

/** Random-hyperplane LSH signature against PORTABLE pseudo-random planes —
  * [[HyperplaneSig]] with the xxhash64 plane generation swapped for the
  * [[PortableHashSig]] modular family, so a DuckDB oracle re-derives the
  * exact bucket keys (q34/q57, rows-only before r16):
  *
  *   base(plane, dim) = ((7·8191 + plane) mod P · 8191 + dim) mod P
  *   m(plane, dim)    = base · 2654435761 mod 2000001
  *   component        = (m − 1000000) / 1e6   ∈ [−1, 1.000001)
  *
  * Projections accumulate `vec(d) · component` left-to-right in doubles —
  * identical IEEE chains on both engines (the q33 recipe), so the SIGN is
  * identical and the bucket keys match bit-for-bit. A null element nulls
  * the plane's projection → bit 0, mirroring [[HyperplaneSig]]. Distinct
  * `planeOffset`s give independent plane sets (the multi-table
  * OR-amplification dial).
  */
case class PortableHyperplaneSig(child: Expression, nPlanes: Int, planeOffset: Int = 0)
    extends UnaryExpression {
  import PortableHashSig.{P, Mix}

  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    if (nPlanes < 1 || nPlanes > 63 || planeOffset < 0) {
      TypeCheckResult.TypeCheckFailure(
        s"portable_hyperplane_sig needs nPlanes in [1,63] and planeOffset >= 0, " +
          s"got nPlanes=$nPlanes planeOffset=$planeOffset")
    } else child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"portable_hyperplane_sig needs array<float|double>, got $other")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      val plane = planeOffset + p
      val a = (7L * 8191L + plane) % P
      var acc = 0.0
      var anyNull = false
      var d = 0
      while (d < n && !anyNull) {
        if (vec.isNullAt(d)) anyNull = true
        else {
          val m = (a * 8191L + d) % P * Mix % 2000001L
          val comp = (m - 1000000L).toDouble / 1000000.0
          val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
          acc += x * comp
        }
        d += 1
      }
      if (!anyNull && acc >= 0.0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val get = if (isFloat) s"(double) $vec.getFloat" else s"$vec.getDouble"
      val n = ctx.freshName("n"); val sig = ctx.freshName("sig")
      val p = ctx.freshName("p"); val d = ctx.freshName("d")
      val a = ctx.freshName("a"); val acc = ctx.freshName("acc")
      val anyNull = ctx.freshName("anyNull"); val m = ctx.freshName("m")
      s"""
        int $n = $vec.numElements();
        long $sig = 0L;
        for (int $p = 0; $p < $nPlanes; $p++) {
          long $a = (7L * 8191L + ($planeOffset + $p)) % ${P}L;
          double $acc = 0.0;
          boolean $anyNull = false;
          for (int $d = 0; $d < $n && !$anyNull; $d++) {
            if ($vec.isNullAt($d)) { $anyNull = true; } else {
              long $m = ($a * 8191L + $d) % ${P}L * ${Mix}L % 2000001L;
              $acc += $get($d) * (($m - 1000000L) / 1000000.0);
            }
          }
          if (!$anyNull && $acc >= 0.0) $sig |= (1L << $p);
        }
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PortableHyperplaneSig =
    copy(child = newChild)
}
