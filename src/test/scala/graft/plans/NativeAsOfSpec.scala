package graft.plans

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** The composed window as-of join ([[graft.ext.AsOfJoin]], the library's
  * only as-of operator) against [[NativeAsOf]], the independent sort-merge
  * exec kept in the test tree as its reference — same semantics contract,
  * different execution: the equality here is BIT-equality on full result
  * sets, across partition layouts, including the tie rule. The plan and
  * type-whitelist cases pin that the reference stays a separate merge
  * (no union, no window) rather than a copy of the form under test.
  */
class NativeAsOfSpec extends SparkSuite {
  import spark.implicits._

  private val dir = sf("events")

  private def purchases = Tables.load(spark, dir, "events")
    .filter(col("event_type") === "purchase")
    .select("event_id", "ts", "user_id", "value")

  private def clicks = Tables.load(spark, dir, "events") // fresh lineage
    .filter(col("event_type") === "click")
    .select(col("user_id"), col("ts"),
      col("event_id").as("click_id"), col("value").as("click_value"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("native == composed on the q49 inputs, across partition layouts") {
    val expected = canon(graft.ext.AsOfJoin.asOf(
      purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_id", "click_value")))
    assert(expected.nonEmpty)
    for (parts <- Seq(1, 7, 32)) {
      val got = canon(NativeAsOf.asOf(
        purchases.repartition(parts), clicks.repartition(parts + 3),
        "user_id", "ts", "ts", Seq("click_id", "click_value")))
      assert(got === expected, s"layout $parts diverged from the composed as-of")
    }
  }

  test("plan: AsOfJoinExec with per-side exchanges; no union, no window") {
    val df = NativeAsOf.asOf(purchases, clicks,
      "user_id", "ts", "ts", Seq("click_id", "click_value"))
    val p = df.queryExecution.executedPlan.toString
    // nodeName strips the Exec suffix: the operator renders as "AsOfJoin"
    assert(p.contains("AsOfJoin"), s"native exec missing:\n$p")
    assert(!p.contains("Window"), "no window machinery may appear")
    assert(!p.contains("Union"), "no union padding may appear")
    assert("Exchange hashpartitioning".r.findAllIn(p).length >= 2,
      s"each side must shuffle at its own width:\n$p")
  }

  test("tie rule matches the composed operator: max payload-hash wins") {
    val l = Seq((1L, 10L), (2L, 10L)).toDF("k", "t")
    val r = Seq((1L, 5L, 100L), (1L, 5L, 200L), (1L, 5L, 300L), (2L, 4L, 7L))
      .toDF("k", "t", "p")
    val composed = canon(graft.ext.AsOfJoin.asOf(l, r, Seq("k"), "t", "t", Seq("p")))
    val native = canon(NativeAsOf.asOf(
      l, Seq((1L, 5L, 100L), (1L, 5L, 200L), (1L, 5L, 300L), (2L, 4L, 7L))
        .toDF("k", "t", "p"), "k", "t", "t", Seq("p")))
    assert(native === composed, "tied right rows must pick the same winner")
  }

  test("forward direction == composed asOfForward on the q165 inputs, across layouts") {
    def clicksL = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id", "value")
    def purchasesR = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    val expected = canon(graft.ext.AsOfJoin.asOfForward(
      clicksL, purchasesR, Seq("user_id"), "ts", "ts",
      Seq("purchase_id", "purchase_value")))
    assert(expected.nonEmpty)
    for (parts <- Seq(1, 32)) {
      val got = canon(NativeAsOf.asOf(
        clicksL.repartition(parts), purchasesR.repartition(parts + 3),
        "user_id", "ts", "ts", Seq("purchase_id", "purchase_value"),
        forward = true))
      assert(got === expected, s"forward layout $parts diverged")
    }
  }

  test("forward tie rule matches composed: min payload-hash wins; >= matches equals") {
    val l = Seq((1L, 10L), (1L, 3L), (9L, 5L)).toDF("k", "t")
    def r = Seq((1L, 10L, 100L), (1L, 10L, 200L), (1L, 20L, 300L))
      .toDF("k", "t", "p")
    val composed = canon(graft.ext.AsOfJoin.asOfForward(l, r, Seq("k"), "t", "t", Seq("p")))
    val native = canon(NativeAsOf.asOf(l, r, "k", "t", "t", Seq("p"), forward = true))
    assert(native === composed,
      "forward ties and equal-instant matches must agree with the composed form")
  }

  test("string key == composed, across partition layouts") {
    // event_type as the key: few keys, long per-key timelines — the merge
    // must agree with the composed window form under UTF8String ordering
    def l = Tables.load(spark, dir, "events")
      .select("event_id", "ts", "event_type", "value")
    def r = Tables.load(spark, dir, "events") // fresh lineage
      .select(col("event_type"), col("ts"),
        col("event_id").as("prev_id"), col("value").as("prev_value"))
    val expected = canon(graft.ext.AsOfJoin.asOf(
      l, r, Seq("event_type"), "ts", "ts", Seq("prev_id", "prev_value")))
    assert(expected.nonEmpty)
    for (parts <- Seq(1, 32)) {
      val got = canon(NativeAsOf.asOf(
        l.repartition(parts), r.repartition(parts + 3),
        "event_type", "ts", "ts", Seq("prev_id", "prev_value")))
      assert(got === expected, s"string-key layout $parts diverged")
    }
  }

  test("composite (long, string) key == composed over a concatenated synthetic key") {
    // the composed run keys on one synthetic column,
    // concat(user_id, event_type) — same partitioning, same tiebreak (the
    // payload hash is key-independent); the native run keys on the real
    // two-column tuple
    def base = Tables.load(spark, dir, "events")
    def lSyn = base.select(col("event_id"), col("ts"), col("value"),
      concat_ws("", col("user_id"), col("event_type")).as("k"))
    def rSyn = Tables.load(spark, dir, "events")
      .select(concat_ws("", col("user_id"), col("event_type")).as("k"),
        col("ts"), col("event_id").as("prev_id"))
    val expected = graft.ext.AsOfJoin.asOf(
        lSyn, rSyn, Seq("k"), "ts", "ts", Seq("prev_id"))
      .select("event_id", "ts", "value", "asof_prev_id")
    def l = base.select("event_id", "ts", "value", "user_id", "event_type")
    def r = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id").as("prev_id"))
    for (parts <- Seq(1, 32)) {
      val got = NativeAsOf.asOf(
          l.repartition(parts), r.repartition(parts + 3),
          Seq("user_id", "event_type"), "ts", "ts", Seq("prev_id"))
        .select("event_id", "ts", "value", "asof_prev_id")
      assert(canon(got) === canon(expected),
        s"composite-key layout $parts diverged from the synthetic-key composed run")
    }
  }

  test("forward composite/string keys agree with composed too") {
    def l = Tables.load(spark, dir, "events")
      .select("event_id", "ts", "event_type", "value")
    def r = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"),
        col("event_id").as("next_id"))
    val expected = canon(graft.ext.AsOfJoin.asOfForward(
      l, r, Seq("event_type"), "ts", "ts", Seq("next_id")))
    val got = canon(NativeAsOf.asOf(l.repartition(5), r.repartition(9),
      "event_type", "ts", "ts", Seq("next_id"), forward = true))
    assert(got === expected, "forward string-key diverged")
  }

  test("composite null semantics: any null key component never matches") {
    val l = Seq(
      (Option(1L), Option("a"), 10L),
      (None: Option[Long], Option("a"), 10L),
      (Option(1L), None: Option[String], 10L)
    ).toDF("k1", "k2", "t")
    val r = Seq((Option(1L), Option("a"), 5L, 77L))
      .toDF("k1", "k2", "t", "p")
    val got = NativeAsOf.asOf(l, r, Seq("k1", "k2"), "t", "t", Seq("p"))
      .select($"k1", $"k2", $"asof_p").collect()
      .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
        if (x.isNullAt(1)) "-" else x.getString(1),
        if (x.isNullAt(2)) -1L else x.getLong(2))).toSet
    assert(got === Set((1L, "a", 77L), (-1L, "a", -1L), (1L, "-", -1L)),
      "null components must disqualify, full tuples must match")
  }

  test("unsupported key/time types are rejected up front") {
    val l = Seq((1.5, 10L)).toDF("k", "t")
    val r = Seq((1.5, 5L, 7L)).toDF("k", "t", "p")
    intercept[IllegalArgumentException](
      NativeAsOf.asOf(l, r, "k", "t", "t", Seq("p")))
    val l2 = Seq((1L, "x")).toDF("k", "t")
    val r2 = Seq((1L, "x", 7L)).toDF("k", "t", "p")
    intercept[IllegalArgumentException](
      NativeAsOf.asOf(l2, r2, "k", "t", "t", Seq("p")))
  }

  test("no-match and boundary semantics: nulls; equal timestamps match") {
    val l = Seq((1L, 3L), (1L, 5L), (9L, 100L)).toDF("k", "t")
    val r = Seq((1L, 5L, 50L), (1L, 7L, 70L)).toDF("k", "t", "p")
    val got = NativeAsOf.asOf(l, r, "k", "t", "t", Seq("p"))
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2))).toSet
    assert(got === Set(
      (1L, 3L, -1L),   // before any right row — null payload
      (1L, 5L, 50L),   // equal timestamp matches (<= semantics)
      (9L, 100L, -1L)) // key absent on the right
    )
  }
}
