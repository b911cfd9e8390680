package graft.ext

import graft.SparkSuite
import graft.plans.NativeRange
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSuite {
  import spark.implicits._

  val points = Seq((1L, 5L), (2L, 10L), (3L, 17L), (4L, 33L), (5L, -2L))
    .toDF("pid", "p")
  val intervals = Seq((10L, 0L, 9L), (20L, 10L, 10L), (30L, 15L, 40L), (40L, 50L, 60L))
    .toDF("iid", "s", "e")

  test("binned range join equals the naive BETWEEN join, across bin widths, both forms") {
    val naive = points.join(intervals, $"p" >= $"s" && $"p" <= $"e")
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    assert(naive === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 30L)))
    for (w <- Seq(1L, 4L, 16L, 100L);
         (form, f) <- Seq[(String, (org.apache.spark.sql.DataFrame,
             org.apache.spark.sql.DataFrame, String, String, String, Long)
               => org.apache.spark.sql.DataFrame)](
           ("native", NativeRange.pointInInterval),
           ("composed", RangeJoinRefs.pointInIntervalComposed))) {
      val binned = f(points, intervals, "p", "s", "e", w)
        .select($"pid", $"iid").as[(Long, Long)].collect()
      assert(binned.length === binned.toSet.size, s"no duplicate pairs at width $w ($form)")
      assert(binned.toSet === naive, s"$form join must equal naive at width $w")
    }
  }

  test("binned range join plans an equi-join, not a nested loop") {
    val out = NativeRange.pointInInterval(points, intervals, "p", "s", "e", 16)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must be an equi-join on the bin:\n$p")
  }

  test("negative domain values bin correctly (floor, not truncate)") {
    val ivl = Seq((1L, -10L, -1L)).toDF("iid", "s", "e")
    for (f <- Seq(NativeRange.pointInInterval _, RangeJoinRefs.pointInIntervalComposed _)) {
      val got = f(points, ivl, "p", "s", "e", 7)
        .select($"pid").as[Long].collect().toSeq
      assert(got === Seq(5L))
    }
  }

  test("bins are exact above 2^53 (r17: integer floor-div, no double round-trip)") {
    // two adjacent giants straddling a bin edge at a magnitude where
    // doubles have 1024-ulp spacing: floor(x / w.toDouble) collapses both
    // into one bin and can mis-bin the interval ends; the exact path keeps
    // them distinct and the match set right
    val big = (1L << 60) // 1.15e18, far past 2^53
    val pts = Seq((1L, big - 1L), (2L, big), (3L, big + 999L))
      .toDF("pid", "p")
    val ivl = Seq((10L, big, big + 999L)).toDF("iid", "s", "e")
    for (f <- Seq(NativeRange.pointInInterval _, RangeJoinRefs.pointInIntervalComposed _)) {
      val got = f(pts, ivl, "p", "s", "e", 1000L)
        .select($"pid").as[Long].collect().toSet
      assert(got === Set(2L, 3L))
    }
  }

  test("interval-overlap join equals the naive inequality join, duplicate-free across widths") {
    // long spans crossing MANY bins + touching endpoints + containment +
    // disjoint pairs — the canonical-bin rule must emit each true pair
    // exactly once whatever the bin width
    val left = Seq((1L, 0L, 25L), (2L, 30L, 31L), (3L, 40L, 90L), (4L, 100L, 100L))
      .toDF("lid", "ls", "le")
    val right = Seq((10L, 20L, 45L), (20L, 31L, 35L), (30L, 89L, 120L), (40L, 200L, 210L))
      .toDF("rid", "rs", "re")
    val naive = left.join(right, $"ls" <= $"re" && $"rs" <= $"le")
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(naive === Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 30L), (4L, 30L)))
    for (w <- Seq(1L, 8L, 64L, 1000L)) {
      val got = NativeRange.intervalOverlap(left, right, "ls", "le", "rs", "re", w)
        .select($"lid", $"rid").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"no duplicate pairs at width $w")
      assert(got.toSet === naive, s"overlap join must equal naive at width $w")
    }
    val p = NativeRange.intervalOverlap(left, right, "ls", "le", "rs", "re", 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap join must be an equi-join on the bin:\n$p")
  }
}
