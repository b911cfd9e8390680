package graft.ext

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  val trades = Seq(
    (1L, ts("2024-01-01 10:00:05"), "t1"),
    (1L, ts("2024-01-01 10:00:30"), "t2"),
    (1L, ts("2024-01-01 09:59:00"), "t0"), // before any quote
    (2L, ts("2024-01-01 10:00:10"), "t3")
  ).toDF("key", "ts", "trade")

  val quotes = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100.0),
    (1L, ts("2024-01-01 10:00:30"), 101.0), // equal-ts with t2
    (1L, ts("2024-01-01 10:01:00"), 102.0),
    (2L, ts("2024-01-01 10:00:00"), 50.0)
  ).toDF("key", "qts", "price")

  test("matches most recent quote at-or-before each trade, null when none") {
    val out = AsOfJoin.asOf(trades, quotes, Seq("key"), "ts", "qts", Seq("price"))
      .select($"trade", $"asof_price").as[(String, Option[Double])]
      .collect().toMap
    assert(out === Map(
      "t0" -> None, // no quote precedes it
      "t1" -> Some(100.0),
      "t2" -> Some(101.0), // equal timestamps match (<= semantics)
      "t3" -> Some(50.0))) // per-key isolation
  }

  test("null payload in the matched row is preserved, and multi-payload comes from ONE row") {
    val quotes2 = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(100.0), Some("nyse")),
      (1L, ts("2024-01-01 10:00:20"), None, Some("cboe")) // most recent for t2: null price
    ).toDF("key", "qts", "price", "venue")
    val out = AsOfJoin.asOf(trades, quotes2, Seq("key"), "ts", "qts", Seq("price", "venue"))
      .select($"trade", $"asof_price", $"asof_venue")
      .as[(String, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // t2 (10:00:30) matches the 10:00:20 row: price NULL (not the older 100.0),
    // venue "cboe" — both fields from the SAME matched row
    assert(out("t2") === ((None, Some("cboe"))))
    assert(out("t1") === ((Some(100.0), Some("nyse"))))
    assert(out("t0") === ((None, None)))
  }

  test("equal (key, rightTime) right rows match deterministically across partitionings") {
    // two quotes at the SAME instant: without the payload-hash tiebreak the
    // winner depends on which partition's rows happen to sort first; with
    // it, every run and layout picks the same row
    val dupQuotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0, "a"),
      (1L, ts("2024-01-01 10:00:00"), 200.0, "b"),
      (1L, ts("2024-01-01 10:00:00"), 300.0, "c")
    ).toDF("key", "qts", "price", "src")
    def backward(df: org.apache.spark.sql.DataFrame) =
      AsOfJoin.asOf(trades, df, Seq("key"), "ts", "qts", Seq("price", "src"))
        .select($"trade", $"asof_price", $"asof_src")
        .as[(String, Option[Double], Option[String])].collect().sortBy(_._1).toSeq
    def forward(df: org.apache.spark.sql.DataFrame) =
      AsOfJoin.asOfForward(trades, df, Seq("key"), "ts", "qts", Seq("price", "src"))
        .select($"trade", $"asof_price", $"asof_src")
        .as[(String, Option[Double], Option[String])].collect().sortBy(_._1).toSeq
    val layouts = Seq(dupQuotes.coalesce(1), dupQuotes.repartition(5),
      dupQuotes.orderBy(desc("price")).repartition(3))
    val b = layouts.map(backward)
    val f = layouts.map(forward)
    assert(b.distinct.size == 1, s"backward as-of flaked across layouts: $b")
    assert(f.distinct.size == 1, s"forward as-of flaked across layouts: $f")
    // the matched (price, src) must come from ONE of the tied rows intact
    val matched = b.head.collectFirst { case ("t1", p, s) => (p, s) }.get
    assert(Seq((Some(100.0), Some("a")), (Some(200.0), Some("b")),
      (Some(300.0), Some("c"))).contains(matched))
  }

  test("nearest as-of: picks the closer side, ties to backward, tolerance drops far matches") {
    // numeric time axis (exact arithmetic): left points probe a right
    // timeline at 100/200/210
    val l = Seq((1L, 90L, "a"), // only forward in reach → 100
      (1L, 150L, "b"),          // equidistant 100/200 → backward (pandas rule)
      (1L, 204L, "c"),          // 200 (4 away) vs 210 (6) → backward 200
      (1L, 208L, "d"),          // 200 (8) vs 210 (2) → forward 210
      (1L, 500L, "e"),          // nearest 210 is 290 away → tolerance kills it
      (2L, 100L, "f")           // no right rows for key 2 → null
    ).toDF("key", "t", "tag")
    val r = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (1L, 210L, 21.0))
      .toDF("key", "rt", "price")
    val out = AsOfJoin.asOfNearest(l, r, Seq("key"), "t", "rt", Seq("price"),
        tolerance = Some(100L))
      .select($"tag", $"asof_price").as[(String, Option[Double])]
      .collect().toMap
    assert(out === Map(
      "a" -> Some(10.0), "b" -> Some(10.0), "c" -> Some(20.0),
      "d" -> Some(21.0), "e" -> None, "f" -> None))
    // and without tolerance, "e" matches the closest (210)
    val noTol = AsOfJoin.asOfNearest(l, r, Seq("key"), "t", "rt", Seq("price"))
      .select($"tag", $"asof_price").as[(String, Option[Double])]
      .collect().toMap
    assert(noTol("e") === Some(21.0))
  }

  test("plans one exchange (union-window, not a range join)") {
    val out = AsOfJoin.asOf(trades, quotes, Seq("key"), "ts", "qts", Seq("price"))
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a product join:\n$p")
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def directed(forward: Boolean) =
    if (forward) AsOfJoin.asOfForward _ else AsOfJoin.asOf _

  /** Brute-force as-of: every qualifying (left, right) pair from a plain
    * left join on equal keys (SQL nulls never match), then per left row
    * (`id`) the nearest right time, ties to the max payload hash backward
    * and to the min forward — the tie rule the window form pins. */
  private def bruteAsOf(l: DataFrame, r: DataFrame, id: String, keys: Seq[String],
      lt: String, rt: String, payload: Seq[String], forward: Boolean): DataFrame = {
    val rr = r.select(keys.map(k => col(k).as(s"__r_$k")) ++ Seq(col(rt).as("__rt"),
      xxhash64(payload.map(col): _*).as("__h")) ++ payload.map(p => col(p).as(s"asof_$p")): _*)
    val on = keys.map(k => col(k) === col(s"__r_$k")).reduce(_ && _) &&
      (if (forward) col("__rt") >= col(lt) else col("__rt") <= col(lt))
    val best = if (forward) Seq(col("__rt").asc, col("__h").asc)
      else Seq(col("__rt").desc, col("__h").desc)
    l.join(rr, on, "left")
      .withColumn("__rn", row_number().over(Window.partitionBy(col(id)).orderBy(best: _*)))
      .filter(col("__rn") === 1)
      .select(l.columns.map(col) ++ payload.map(p => col(s"asof_$p")): _*)
  }

  private def events = Tables.load(spark, sf("events"), "events")

  /** One event type as the left side: (event_id, ts, user_id, value). */
  private def stream(kind: String) = events.filter(col("event_type") === kind)
    .select("event_id", "ts", "user_id", "value")

  /** One event type as the right side: (user_id, ts, <pre>_id, <pre>_value). */
  private def feed(kind: String, pre: String) = events.filter(col("event_type") === kind)
    .select(col("user_id"), col("ts"),
      col("event_id").as(s"${pre}_id"), col("value").as(s"${pre}_value"))

  test("backward and forward equal a brute-force join on the q49/q165 inputs") {
    for ((forward, l, r) <- Seq(
        (false, stream("purchase"), feed("click", "click")),
        (true, stream("click"), feed("purchase", "purchase")))) {
      val payload = r.columns.drop(2).toSeq
      val expected = canon(bruteAsOf(l, r, "event_id", Seq("user_id"), "ts", "ts",
        payload, forward))
      assert(expected.exists(!_.endsWith(",null,null]")), s"forward=$forward: no match at all")
      for (parts <- Seq(1, 7, 32)) {
        val got = canon(directed(forward)(l.repartition(parts), r.repartition(parts + 3),
          Seq("user_id"), "ts", "ts", payload))
        assert(got === expected, s"forward=$forward layout $parts diverged from brute force")
      }
    }
  }

  test("tie rules: backward keeps the max payload hash, forward the min") {
    def byHash(ps: Seq[Long]) = ps.toDF("p").select(col("p"), xxhash64(col("p")).as("h"))
      .as[(Long, Long)].collect().sortBy(_._2).map(_._1)
    val l = Seq(("a", 1L, 10L), ("b", 2L, 10L), ("c", 1L, 3L), ("d", 9L, 5L))
      .toDF("tag", "k", "t")
    val back = Seq((1L, 5L, 100L), (1L, 5L, 200L), (1L, 5L, 300L), (2L, 4L, 7L))
      .toDF("k", "t", "p")
    def matched(df: DataFrame) = df.select($"tag", $"asof_p")
      .as[(String, Option[Long])].collect().toMap
    assert(matched(AsOfJoin.asOf(l, back, Seq("k"), "t", "t", Seq("p"))) === Map(
      "a" -> Some(byHash(Seq(100L, 200L, 300L)).last), "b" -> Some(7L),
      "c" -> None, "d" -> None))
    val fwd = Seq((1L, 10L, 100L), (1L, 10L, 200L), (1L, 20L, 300L)).toDF("k", "t", "p")
    val minTied = byHash(Seq(100L, 200L)).head
    assert(matched(AsOfJoin.asOfForward(l, fwd, Seq("k"), "t", "t", Seq("p"))) === Map(
      "a" -> Some(minTied), // equal instant matches (>=)
      "b" -> None, "c" -> Some(minTied), "d" -> None))
  }

  test("string and composite keys equal a brute-force join in both directions") {
    def l = events.select("event_id", "ts", "user_id", "event_type", "value")
    def r = events.select(col("user_id"), col("event_type"), col("ts"),
      col("event_id").as("prev_id"), col("value").as("prev_value"))
    for (keys <- Seq(Seq("event_type"), Seq("user_id", "event_type")); forward <- Seq(false, true)) {
      val expected = canon(bruteAsOf(l, r, "event_id", keys, "ts", "ts",
        Seq("prev_id", "prev_value"), forward))
      for (parts <- Seq(1, 32)) {
        val got = canon(directed(forward)(l.repartition(parts), r.repartition(parts + 3),
          keys, "ts", "ts", Seq("prev_id", "prev_value")))
        assert(got === expected,
          s"keys ${keys.mkString(",")} forward=$forward layout $parts diverged from brute force")
      }
    }
  }

  test("composite null semantics: any null key component never matches") {
    val l = Seq(
      ("full", Option(1L), Option("a"), 10L),
      ("k1", None: Option[Long], Option("a"), 10L),
      ("k2", Option(1L), None: Option[String], 10L)
    ).toDF("tag", "k1", "k2", "t")
    // right rows with the same null components must not match them either
    val r = Seq(
      (Option(1L), Option("a"), 5L, 77L), (Option(1L), Option("a"), 15L, 55L),
      (None: Option[Long], Option("a"), 5L, 88L), (None: Option[Long], Option("a"), 15L, 89L),
      (Option(1L), None: Option[String], 5L, 99L), (Option(1L), None: Option[String], 15L, 98L)
    ).toDF("k1", "k2", "t", "p")
    val keys = Seq("k1", "k2")
    def matched(df: DataFrame) = df.select($"tag", $"asof_p")
      .as[(String, Option[Long])].collect().toMap
    val none = Map("k1" -> None, "k2" -> None)
    assert(matched(AsOfJoin.asOf(l, r, keys, "t", "t", Seq("p"))) === none + ("full" -> Some(77L)))
    assert(matched(AsOfJoin.asOfForward(l, r, keys, "t", "t", Seq("p"))) ===
      none + ("full" -> Some(55L)))
    assert(matched(AsOfJoin.asOfNearest(l, r, keys, "t", "t", Seq("p"))) ===
      none + ("full" -> Some(77L)), "equidistant: ties to backward")
  }

  test("no-match and boundary semantics: nulls; equal timestamps match") {
    val l = Seq((1L, 3L), (1L, 5L), (9L, 100L)).toDF("k", "t")
    val r = Seq((1L, 5L, 50L), (1L, 7L, 70L)).toDF("k", "t", "p")
    def matched(df: DataFrame) = df.as[(Long, Long, Option[Long])].collect().toSet
    assert(matched(AsOfJoin.asOf(l, r, Seq("k"), "t", "t", Seq("p"))) === Set(
      (1L, 3L, None),       // before any right row — null payload
      (1L, 5L, Some(50L)),  // equal timestamp matches (<= semantics)
      (9L, 100L, None)))    // key absent on the right
    assert(matched(AsOfJoin.asOfForward(l, r, Seq("k"), "t", "t", Seq("p"))) === Set(
      (1L, 3L, Some(50L)),  // earliest at-or-after
      (1L, 5L, Some(50L)),  // equal timestamp matches (>= semantics)
      (9L, 100L, None)))
  }

  test("null keys and null times never match: backward, forward and nearest") {
    val l = Seq(("k", Option(1L), Option(10L)), ("nullKey", None, Option(10L)),
      ("nullTime", Option(1L), None)).toDF("tag", "k", "t")
    val r = Seq((Option(1L), Option(5L), 77L), (Option(1L), Option(12L), 55L),
      (None, Option(5L), 88L), (None, Option(12L), 89L),
      (Option(1L), None, 99L)).toDF("k", "rt", "p")
    def matched(df: DataFrame) = df.select($"tag", $"asof_p")
      .as[(String, Option[Long])].collect().toMap
    val none = Map("nullKey" -> None, "nullTime" -> None)
    assert(matched(AsOfJoin.asOf(l, r, Seq("k"), "t", "rt", Seq("p"))) ===
      none + ("k" -> Some(77L)))
    assert(matched(AsOfJoin.asOfForward(l, r, Seq("k"), "t", "rt", Seq("p"))) ===
      none + ("k" -> Some(55L)))
    assert(matched(AsOfJoin.asOfNearest(l, r, Seq("k"), "t", "rt", Seq("p"))) ===
      none + ("k" -> Some(55L)))
  }
}
