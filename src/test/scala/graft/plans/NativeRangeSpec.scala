package graft.plans

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** The native physical range join ([[NativeRange]]) against the composed
  * bin-join formulation ([[graft.ext.RangeJoinRefs.pointInIntervalComposed]]) — same
  * bin-replication semantics, exec-side sweep: equality is BIT-equality on
  * full result sets, across partition layouts and adversarial interval
  * geometries (dense bins, multi-bin spans, bin-boundary points, nulls).
  */
class NativeRangeSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def points = Tables.load(spark, dir, "orders")
    .select(col("o_orderkey"), to_date(col("o_orderdate")).as("pdate"))
    .withColumn("pday", unix_date(col("pdate")).cast("long"))

  private def windows = Tables.load(spark, dir, "orders") // fresh lineage
    .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(50)
    .select(col("o_orderkey").as("win_id"), to_date(col("o_orderdate")).as("win_start"))
    .withColumn("win_end", date_add(col("win_start"), 7))
    .withColumn("sday", unix_date(col("win_start")).cast("long"))
    .withColumn("eday", unix_date(col("win_end")).cast("long"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("native == composed on the q55 inputs, across partition layouts and widths") {
    val expected = canon(graft.ext.RangeJoinRefs.pointInIntervalComposed(
        points, windows, "pday", "sday", "eday", binWidth = 16)
      .select("win_id", "o_orderkey", "pday"))
    assert(expected.nonEmpty)
    for (parts <- Seq(1, 7, 32); width <- Seq(1L, 4L, 16L, 10000L)) {
      val got = canon(NativeRange.pointInInterval(
          points.repartition(parts), windows.repartition(parts + 3),
          "pday", "sday", "eday", binWidth = width)
        .select("win_id", "o_orderkey", "pday"))
      assert(got === expected,
        s"layout $parts / width $width diverged from the composed range join")
    }
  }

  test("adversarial geometry: dense bins, multi-bin spans, boundary points, dups") {
    // intervals: all in one bin; spanning many bins; zero-length; nested;
    // disjoint tail. points: on every boundary, duplicated, outside all.
    val intervals = Seq(
      (1L, 10L, 12L), (2L, 10L, 12L), (3L, 11L, 11L),    // dense + zero-length
      (4L, 0L, 100L),                                     // spans all bins
      (5L, 13L, 40L), (6L, 20L, 25L),                     // nested
      (7L, 900L, 905L)                                    // far tail
    ).toDF("iid", "s", "e")
    val pts = (Seq(0L, 9L, 10L, 11L, 12L, 13L, 25L, 40L, 41L, 100L, 101L,
      899L, 900L, 905L, 906L) ++ Seq(11L, 11L, 25L)) // duplicates
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("pid", "p")
    for (width <- Seq(1L, 3L, 16L, 1000L)) {
      val expected = canon(graft.ext.RangeJoinRefs.pointInIntervalComposed(
        pts, intervals, "p", "s", "e", width).select("pid", "iid"))
      val got = canon(NativeRange.pointInInterval(
        pts, intervals, "p", "s", "e", width).select("pid", "iid"))
      assert(got === expected, s"width $width diverged")
      // ground truth: brute-force predicate
      val truth = canon(pts.crossJoin(intervals)
        .filter(col("p") >= col("s") && col("p") <= col("e"))
        .select("pid", "iid"))
      assert(got === truth, s"width $width != brute force")
    }
  }

  test("null point / start / end rows never match (composed-form parity)") {
    val pts = Seq((1L, Some(10L)), (2L, None), (3L, Some(20L)))
      .toDF("pid", "p")
    val ivs = Seq(
      (10L, Some(5L), Some(15L)),
      (11L, None, Some(25L)),
      (12L, Some(18L), None)).toDF("iid", "s", "e")
    val expected = canon(graft.ext.RangeJoinRefs.pointInIntervalComposed(
      pts, ivs, "p", "s", "e", 8).select("pid", "iid"))
    val got = canon(NativeRange.pointInInterval(
      pts, ivs, "p", "s", "e", 8).select("pid", "iid"))
    assert(got === expected)
    assert(got === Seq("[1,10]"), "only the non-null containment survives")
  }

  test("plan: RangeJoinExec with per-side exchanges; no BNLJ, no post-filter") {
    val df = NativeRange.pointInInterval(
      points, windows, "pday", "sday", "eday", binWidth = 16)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("RangeJoin"), s"native exec missing:\n$p")
    assert(!p.contains("BroadcastNestedLoop"), "must not fall back to BNLJ")
    assert("Exchange hashpartitioning".r.findAllIn(p).length >= 2,
      s"both sides must cluster on their bin ids:\n$p")
  }

  test("q55's production call routes through the native exec and stays bit-equal (r17)") {
    // the catalog query itself must plan the native sweep, and its output
    // must bit-match the bin-join reference on the same inputs
    val q55 = graft.QueryCatalog.queries("q55_range_join")(spark, dir)
    val plan = q55.queryExecution.executedPlan.toString
    assert(plan.contains("RangeJoin"), s"q55 must plan the native exec:\n$plan")
    val expected = canon(graft.ext.RangeJoinRefs.pointInIntervalComposed(
        points, windows, "pday", "sday", "eday", binWidth = 16)
      .select("win_id", "o_orderkey", "pdate"))
    assert(expected.nonEmpty)
    assert(canon(q55) === expected)
  }

  test("inputs the native join cannot take fail up front with its clear error") {
    val pts = Seq((1L, 10.0)).toDF("pid", "p")
    val ivs = Seq((10L, 5L, 15L)).toDF("iid", "s", "e")
    val typed = intercept[IllegalArgumentException] {
      NativeRange.pointInInterval(pts, ivs, "p", "s", "e", 8)
    }
    assert(typed.getMessage.contains("must be integral"))
    val o = points
    val shared = intercept[IllegalArgumentException] {
      NativeRange.intervalOverlap(
        o, o.withColumnRenamed("pday", "s2").withColumn("e2", col("s2") + 5),
        "pday", "pday", "s2", "e2", 8)
    }
    assert(shared.getMessage.contains("lineage"))
  }

  test("interval OVERLAP via two native sweeps == composed overlap; pairs exactly once (r18)") {
    // synthetic intervals with deliberate nastiness: zero-length intervals,
    // identical starts across sides (the lS == rS attribution edge), spans
    // crossing many bins, and nulls
    def side(seed: Int, pre: String) = spark.range(400)
      .select((col("id") + seed * 1000).as(s"${pre}_id"),
        pmod(xxhash64(col("id"), lit(seed)), lit(500L)).as(s"${pre}_s"))
      .withColumn(s"${pre}_e",
        col(s"${pre}_s") + pmod(xxhash64(col(s"${pre}_id")), lit(60L)))
      .withColumn(s"${pre}_s", // every 7th: zero-length; every 11th: null
        when(col(s"${pre}_id") % 11 === 0, lit(null).cast("long"))
          .otherwise(col(s"${pre}_s")))
      .withColumn(s"${pre}_e",
        when(col(s"${pre}_id") % 7 === 0, col(s"${pre}_s"))
          .otherwise(col(s"${pre}_e")))
    val l = side(1, "l"); val r = side(2, "r")
    for (width <- Seq(4L, 32L, 10000L)) {
      val composed = canon(graft.ext.RangeJoinRefs.intervalOverlapComposed(
        l, r, "l_s", "l_e", "r_s", "r_e", width).select("l_id", "r_id"))
      val native = NativeRange.intervalOverlap(
        l, r, "l_s", "l_e", "r_s", "r_e", width)
      assert(native.queryExecution.executedPlan.toString.contains("RangeJoin"),
        "the overlap must plan the native sweeps")
      val got = canon(native.select("l_id", "r_id"))
      assert(got === composed, s"overlap parity broke at width=$width")
      // exactly-once: no pair may be emitted by BOTH sweeps
      assert(got.distinct.size === got.size, "max-start split must be disjoint")
    }
  }

  test("shared-lineage self-join is rejected with a clear error") {
    val o = points
    val err = intercept[IllegalArgumentException] {
      NativeRange.pointInInterval(
        o, o.withColumnRenamed("pday", "s2").withColumn("e2", col("s2") + 5),
        "pday", "s2", "e2", 8)
    }
    assert(err.getMessage.contains("lineage"))
  }
}
