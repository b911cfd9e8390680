package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** BOTTOM-K-BY-KEY mergeable aggregate — the native (c)-tier form of the
  * "k smallest (ord, id) pairs per group" shape that every bottom-k-hash
  * sketch in the catalog needs (KMV q180/q197/q227, and any order-statistic
  * sample keyed by a portable hash).
  *
  * Why an aggregate and not a window — the HONEST version (measured, see
  * SCALING.md "Native bottom-k aggregate vs window top-k"): Spark 4's own `InferWindowGroupLimit` already
  * rescues the window form's BYTES — a `row_number() <= k` filter plants a
  * partial WindowGroupLimit below the exchange, so only ≤k rows per
  * (task, group) ship either way (probe: identical ~5 KB shuffle writes at
  * 1×/4×/16× data). What the window form still pays is TWO FULL LOCAL SORTS
  * of every input row (pre-shuffle sort feeding the partial group-limit,
  * post-shuffle sort feeding the Window) — O(n log n) each — plus a second
  * pass if the sketch is wanted ALONGSIDE other aggregates. This
  * `TypedImperativeAggregate` replaces the sorts with O(n log k) bounded
  * heap updates inside ordinary two-phase hash aggregation (the same
  * map-side-combine shape as approx_count_distinct), composes with any
  * other aggregate in the same groupBy pass, and needs no rank-filter idiom
  * for the optimizer to recognize. Probe: ~2.5× wall at every replication.
  *
  * Semantics: k smallest pairs under the TOTAL order (ord, id) ascending,
  * returned sorted ascending as `array<struct<ord:long, id:long>>` —
  * bit-identical to the window form's first-k rows whenever (ord, id) is
  * unique (id a distinct key: exactly the KMV setting). NULL ord or id
  * rows are skipped (window form equivalent: a NOT NULL filter). Merge is
  * the same bounded fold, so the result is partitioning- and
  * arrival-order-invariant: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
  * bottom-k(B)) — the KMV union identity, now enforced by the operator
  * rather than by query structure (q197 proves it through the oracle).
  *
  * Buffer: a flat long array used as a binary MAX-heap of packed pairs
  * (ord in the high slot, id low), so update is O(log k) with zero
  * per-row allocation; serialize is the raw 16·n bytes.
  */
case class BottomKPairs(
    ord: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BottomKPairs.Heap] {

  override def children: Seq[Expression] = Seq(ord, id)
  override def nullable: Boolean = false
  override def prettyName: String = "bottomk_pairs"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ord", LongType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  // k is validated here (not a constructor require) so an out-of-range k
  // arriving through the SQL registration surfaces as an AnalysisException
  // like the input-type check, not an IllegalArgumentException at
  // expression-construction time.
  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0 || k > 65536) {
      TypeCheckResult.TypeCheckFailure(
        s"bottomk_pairs k must be in [1, 65536], got $k")
    } else (ord.dataType, id.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bottomk_pairs needs (long, long), got $other")
    }

  override def createAggregationBuffer(): BottomKPairs.Heap =
    new BottomKPairs.Heap(k)

  override def update(buf: BottomKPairs.Heap, input: InternalRow): BottomKPairs.Heap = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null) {
      buf.offer(o.asInstanceOf[Long], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: BottomKPairs.Heap, other: BottomKPairs.Heap): BottomKPairs.Heap = {
    buf.absorb(other)
    buf
  }

  override def eval(buf: BottomKPairs.Heap): Any = {
    val sorted = buf.sortedPairs()
    new GenericArrayData(sorted.map { case (o, i) =>
      InternalRow(o, i)
    })
  }

  override def serialize(buf: BottomKPairs.Heap): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): BottomKPairs.Heap =
    BottomKPairs.Heap.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKPairs =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BottomKPairs =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKPairs =
    copy(ord = newChildren(0), id = newChildren(1))
}

object BottomKPairs {

  /** Bounded max-heap of (ord, id) pairs under (ord, id) ascending order,
    * stored as two parallel long arrays (heap-ordered on the composite).
    * `offer` keeps the k smallest seen; the root is the current kth pair.
    */
  final class Heap(val k: Int) {
    private var ords = new Array[Long](math.min(k, 16))
    private var ids = new Array[Long](math.min(k, 16))
    private var n = 0

    private def less(o1: Long, i1: Long, o2: Long, i2: Long): Boolean =
      o1 < o2 || (o1 == o2 && i1 < i2)

    private def grow(): Unit = {
      val cap = math.min(k, math.max(ords.length * 2, 16))
      ords = java.util.Arrays.copyOf(ords, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
    }

    def size: Int = n

    def offer(o: Long, i: Long): Unit = {
      if (n < k) {
        if (n == ords.length) grow()
        // sift up
        var c = n
        ords(c) = o; ids(c) = i
        n += 1
        while (c > 0) {
          val p = (c - 1) >> 1
          if (less(ords(p), ids(p), ords(c), ids(c))) {
            val to = ords(p); val ti = ids(p)
            ords(p) = ords(c); ids(p) = ids(c)
            ords(c) = to; ids(c) = ti
            c = p
          } else return
        }
      } else if (less(o, i, ords(0), ids(0))) {
        // replace root, sift down
        ords(0) = o; ids(0) = i
        var p = 0
        while (true) {
          val l = 2 * p + 1; val r = l + 1
          var m = p
          if (l < n && less(ords(m), ids(m), ords(l), ids(l))) m = l
          if (r < n && less(ords(m), ids(m), ords(r), ids(r))) m = r
          if (m == p) return
          val to = ords(p); val ti = ids(p)
          ords(p) = ords(m); ids(p) = ids(m)
          ords(m) = to; ids(m) = ti
          p = m
        }
      }
    }

    def absorb(other: Heap): Unit = {
      var j = 0
      while (j < other.n) {
        offer(other.ords(j), other.ids(j))
        j += 1
      }
    }

    /** The kept pairs sorted ascending by (ord, id). */
    def sortedPairs(): Array[(Long, Long)] = {
      val out = Array.tabulate(n)(j => (ords(j), ids(j)))
      java.util.Arrays.sort(out, new java.util.Comparator[(Long, Long)] {
        override def compare(a: (Long, Long), b: (Long, Long)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      })
      out
    }

    def toBytes: Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + 16 * n)
      bb.putInt(n)
      var j = 0
      while (j < n) { bb.putLong(ords(j)); bb.putLong(ids(j)); j += 1 }
      bb.array()
    }
  }

  object Heap {
    def fromBytes(k: Int, bytes: Array[Byte]): Heap = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val h = new Heap(k)
      var j = 0
      while (j < n) { h.offer(bb.getLong, bb.getLong); j += 1 }
      h
    }
  }

  /** Column builder: `bottomkPairs(ordCol, idCol, k)` →
    * `array<struct<ord, id>>` of the k smallest (ord, id) pairs. */
  def bottomkPairs(ord: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      BottomKPairs(ColumnBridge.expression(ord), ColumnBridge.expression(id), k)
        .toAggregateExpression())
}
