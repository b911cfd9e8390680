package graft.plans

import graft.{CatalogSweep, SparkSuite, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[ScaleLint]]: each rule fires on a minimal offending plan, stays
  * quiet on the approved shapes, barriers carry COMPUTED boundedness
  * across lineage cuts, and — the point of the linter — EVERY catalog
  * query passes with zero errors and every Advice finding sits inside a
  * pinned per-query allowlist: the scale discipline the per-query
  * PlanSpec pins enforce by hand, generalized mechanically to the whole
  * catalog surface.
  */
class ScaleLintSpec extends SparkSuite {
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  private def errs(df: org.apache.spark.sql.DataFrame) =
    ScaleLint.check(df).filter(_.severity == ScaleLint.Error)

  test("global-window-over-raw fires on a data-sized unpartitioned window, not on bounded support") {
    val events = Tables.load(spark, dir, "events")
    val bad = events.withColumn("rn",
      row_number().over(Window.orderBy($"ts", $"event_id")))
    assert(errs(bad).exists(_.rule == "global-window-over-raw"), "raw global window must flag")

    // the approved shape: the cumulate runs over an AGGREGATED (bounded) table
    val good = events.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(Window.orderBy($"n".desc, $"event_type")))
    assert(errs(good).isEmpty, s"bounded-support global window must pass: ${errs(good)}")

    // user-keyed windows over raw data are fine
    val keyed = events.withColumn("rn",
      row_number().over(Window.partitionBy($"user_id").orderBy($"ts")))
    assert(errs(keyed).isEmpty)
  }

  test("raw-broadcast-hint fires on a bare full-scan hint, not on filtered/aggregated/constant sides") {
    val li = Tables.load(spark, dir, "lineitem")
    val orders = Tables.load(spark, dir, "orders")
    val bad = li.join(broadcast(orders), $"l_orderkey" === $"o_orderkey")
    assert(errs(bad).exists(_.rule == "raw-broadcast-hint"),
      "hinted broadcast of a data-sized full scan must flag")

    val filtered = li.join(
      broadcast(orders.filter($"o_orderpriority" === "1-URGENT")),
      $"l_orderkey" === $"o_orderkey")
    assert(errs(filtered).isEmpty, s"filtered broadcast side passes: ${errs(filtered)}")

    val nation = Tables.load(spark, dir, "nation")
    val dim = Tables.load(spark, dir, "customer")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
    assert(errs(dim).isEmpty, "constant-size catalog tables are exempt")

    val unhinted = li.join(orders, $"l_orderkey" === $"o_orderkey")
    assert(errs(unhinted).isEmpty, "unhinted joins are AQE's call - no finding")
  }

  test("unbounded-cartesian fires on data x data, not on scalar/aggregate cross joins") {
    val li = Tables.load(spark, dir, "lineitem")
    val bad = li.crossJoin(Tables.load(spark, dir, "orders"))
    assert(errs(bad).exists(_.rule == "unbounded-cartesian"))

    val bounds = li.agg(min($"l_quantity").as("lo"), max($"l_quantity").as("hi"))
    assert(errs(li.crossJoin(bounds)).isEmpty,
      "the 1-row aggregate cross join (q218 shape) must pass")
  }

  test("unbounded-cartesian: the hinted row-reduced side is the approved scored-set idiom; unhinted stays flagged") {
    val li = Tables.load(spark, dir, "lineitem")
    val scored = Tables.load(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
    // q33's shape: hinted broadcast of a FILTERED set against the corpus —
    // the author asserts the size contract the hint encodes
    assert(errs(li.crossJoin(broadcast(scored))).isEmpty,
      "hinted + row-reduced side is the approved idiom")
    // same join UNHINTED: a filter over a scan is not structurally bounded
    // and nobody asserted smallness — flag it
    assert(errs(li.crossJoin(scored)).exists(_.rule == "unbounded-cartesian"),
      "unhinted filtered side must still flag")
  }

  test("lineage barriers carry COMPUTED boundedness; unregistered barriers are data-sized") {
    val events = Tables.load(spark, dir, "events")
    // a data-sized frame cut via the registering helper: the verdict is
    // computed at cut time, so a global window above it must still FIRE —
    // the r14 trust-all-barriers hole (q187/q193/q233 checkpoint data-sized
    // frames for plan reuse; a window over one passed silently)
    val dataCut = ScaleLint.barrier(events.select($"user_id", $"ts", $"event_id"))
    val overData = dataCut.withColumn("rn",
      row_number().over(Window.orderBy($"ts", $"event_id")))
    assert(errs(overData).exists(_.rule == "global-window-over-raw"),
      "a registered DATA-SIZED barrier must not launder boundedness")

    // a bounded (aggregate) frame cut via the helper: registered bounded,
    // the global cumulate above it stays quiet (the q221 shape)
    val aggCut = ScaleLint.barrier(
      events.groupBy($"event_type").agg(count(lit(1)).as("n")))
    val overAgg = aggCut.withColumn("rnk",
      row_number().over(Window.orderBy($"n".desc, $"event_type")))
    assert(errs(overAgg).isEmpty,
      s"registered bounded barrier must keep its verdict: ${errs(overAgg)}")

    // a RAW localCheckpoint never registers: conservative default is
    // data-sized, so the same bounded aggregate now fires — the price of
    // bypassing the house helper
    val rawCut = events.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val overRaw = rawCut.withColumn("rnk",
      row_number().over(Window.orderBy($"n".desc, $"event_type")))
    assert(errs(overRaw).exists(_.rule == "global-window-over-raw"),
      "unregistered barriers are data-sized by default")
  }

  test("barrier chains: boundedness propagates through checkpoint-of-checkpoint lineage") {
    val events = Tables.load(spark, dir, "events")
    // bounded → cut → derived (still bounded: unary over a bounded
    // barrier) → cut again: the second registration must consult the
    // FIRST barrier's registry entry, not see an opaque leaf
    val agg = ScaleLint.barrier(
      events.groupBy($"event_type").agg(count(lit(1)).as("n")))
    val derived = ScaleLint.barrier(agg.filter($"n" > 0).select($"event_type", $"n"))
    val win = derived.withColumn("rnk",
      row_number().over(Window.orderBy($"n".desc, $"event_type")))
    assert(errs(win).isEmpty,
      s"bounded verdict must survive a two-cut chain: ${errs(win)}")

    // data-sized → cut → aggregate → cut: the aggregate RE-bounds the
    // chain even though the inner barrier is data-sized
    val rawCut = ScaleLint.barrier(events.select($"user_id", $"event_type"))
    val reAgg = ScaleLint.barrier(
      rawCut.groupBy($"event_type").agg(count(lit(1)).as("n")))
    val win2 = reAgg.withColumn("rnk",
      row_number().over(Window.orderBy($"n".desc, $"event_type")))
    assert(errs(win2).isEmpty, s"aggregate re-bounds above a data cut: ${errs(win2)}")

    // data-sized → cut → projection (still data-sized) → cut: stays data
    val rawCut2 = ScaleLint.barrier(
      ScaleLint.barrier(events.select($"user_id", $"ts", $"event_id"))
        .select($"user_id", $"ts", $"event_id"))
    val win3 = rawCut2.withColumn("rn",
      row_number().over(Window.orderBy($"ts", $"event_id")))
    assert(errs(win3).exists(_.rule == "global-window-over-raw"),
      "a projection chain over a data cut must stay data-sized")
  }

  test("exact-percentile is found inside Window expressions (the hoisted sweep)") {
    val f = ScaleLint.check(
      Tables.load(spark, dir, "orders")
        .withColumn("p50", expr("percentile(o_totalprice, 0.5)")
          .over(Window.partitionBy($"o_orderpriority"))))
    assert(f.exists(x => x.rule == "exact-percentile" && x.severity == ScaleLint.Advice),
      s"percentile-over-window must be swept: $f")
  }

  test("exact-percentile is advice, not error") {
    val f = ScaleLint.check(
      Tables.load(spark, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50")))
    assert(f.exists(x => x.rule == "exact-percentile" && x.severity == ScaleLint.Advice))
    assert(!f.exists(_.severity == ScaleLint.Error))
  }

  /** The per-QUERY advice budget: exactly these queries may carry an
    * exact-percentile Advice finding — each is a documented oracle-contract
    * use over bounded groups (see its scaladoc). A new query that silently
    * adopts exact `percentile` (the q187-r13 OOM class) trips this
    * meta-test and must either switch to counting percentiles (q169) /
    * approx_percentile (q115) or argue its way onto the list. */
  private val percentileAdviceAllowlist = Set(
    "q47_percentiles", "q89_quality_cutoff", "q141_robust_zscore",
    "q145_rfm_segments", "q153_temporal_split", "q159_conversion_latency",
    "q162_equidepth_hist", "q174_ks_binned", "q182_calibration_curve",
    "q186_theil_sen")

  /** Per catalog query: the construction error, or (logical, physical)
    * findings — from the one catalog sweep this JVM makes. */
  private def catalogFindings = CatalogSweep.results(dir).map { case (name, s) => name -> s.lints }

  test("the ENTIRE catalog passes the linter with zero errors; advice stays inside the pinned allowlist") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val advice = scala.collection.mutable.ArrayBuffer[String]()
    catalogFindings.foreach { case (name, lints) =>
      lints.left.foreach(err => failures += s"$name: $err")
      lints.toSeq.flatMap(_._1).foreach {
        case ScaleLint.Finding(rule, ScaleLint.Error, detail) =>
          failures += s"$name: $rule - $detail"
        case ScaleLint.Finding(rule, ScaleLint.Advice, _) =>
          advice += s"$name: $rule"
          val allowed = rule == "exact-percentile" &&
            percentileAdviceAllowlist.contains(name)
          if (!allowed) failures += s"$name: advice $rule outside the pinned allowlist"
      }
    }
    assert(failures.isEmpty,
      s"scale-lint errors in the catalog:\n  ${failures.mkString("\n  ")}")
    info(s"advice findings (documented oracle-contract uses): ${advice.distinct.mkString("; ")}")
  }

  test("the lint listener counts error findings on EXECUTED final plans (the lint_errors tripwire)") {
    // Bench.driverSession registers GraftLintListener via
    // spark.sql.queryExecutionListeners, and Bench/Verify surface
    // ScaleLint.errorCount in their artifacts. This suite's session is that
    // one, so the count below is its listener's. The listener lints the FINAL optimized plan — a
    // lint run as an optimizer rule would see the plan mid-rewrite and
    // false-positive on shapes a later batch bounds (q197's rn<=k filter
    // gets its GlobalLimit pushed under the global window only after the
    // user-rule batch ran), so the tripwire lives here.
    val events = Tables.load(spark, dir, "events")
    def drain(): Unit =
      org.apache.spark.graft.CleanerBridge.waitListenerBusEmpty(spark.sparkContext)
    drain()
    val before = ScaleLint.errorCount.get()
    // consume the window's OUTPUT (a bare count() would let the
    // optimizer prune the window away entirely — and the listener,
    // correctly, lints only what actually ran)
    events.withColumn("rn",
      row_number().over(Window.orderBy($"ts", $"event_id")))
      .agg(sum($"rn")).head()
    drain()
    assert(ScaleLint.errorCount.get() === before + 1,
      "a deliberately-bad executed query must raise the error count")
    events.groupBy($"event_type").agg(count(lit(1)).as("n")).count()
    drain()
    assert(ScaleLint.errorCount.get() === before + 1,
      "clean plans must not raise the count")
    // the q197 shape that false-positives mid-rewrite: the
    // rn<=k filter's limit is pushed under the global window in the
    // FINAL plan, so the listener must stay quiet on it
    val P = 1000003L
    val h = pmod(pmod($"doc_id", lit(P)) * lit(2654435761L), lit(P))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", h.as("h"))
      .withColumn("rn", row_number().over(Window.orderBy($"h", $"doc_id")))
      .filter($"rn" <= 16).collect()
    drain()
    assert(ScaleLint.errorCount.get() === before + 1,
      "the limit-pushed rank-filter idiom must not trip the tripwire")
  }

  // ---- physical-plan lint (r17 rule 1; r18 rules 2-4) ----
  // struct-buffered-argmax's positive/negative cases live in
  // ArgExtremumSpec; these pin the r18 generalizations.

  private def phys(df: org.apache.spark.sql.DataFrame) =
    ScaleLint.lintPhysical(df.queryExecution.executedPlan)

  test("sort-agg-non-mutable-buffer names ANY aggregate that silently degrades, not just max_by (r18)") {
    // min/max over a STRING carry a string aggregation buffer —
    // UnsafeRow.isMutable rejects it, so the planner silently falls back
    // to SortAggregate: the exact q179-r17 class with a different member
    val o = Tables.load(spark, dir, "orders")
    val bad = o.groupBy($"o_orderpriority").agg(max($"o_orderstatus").as("m"))
    val f = phys(bad)
    assert(f.exists(x => x.rule == "sort-agg-non-mutable-buffer"
        && x.severity == ScaleLint.Advice && x.detail.contains("max")
        && x.detail.contains("string")),
      s"string-buffered max in SortAggregate must be flagged with its cause: $f")
    // the numeric twin hash-aggregates and stays quiet
    assert(phys(o.groupBy($"o_orderpriority").agg(max($"o_totalprice"))).isEmpty)
  }

  test("codegen-fallback-expression flags interpreted scalar evals in codegen projections; HOFs are exempt (r18)") {
    val docs = Tables.load(spark, dir, "documents").select($"doc_id",
      concat(lit("""{"a":"""), $"doc_id", lit("}")).as("js"),
      array($"doc_id", $"doc_id" * 2).as("arr"))
    // from_json is a CodegenFallback expression: inside the projection it
    // evaluates interpreted per row — the silent scalar tax
    val bad = docs.select(from_json($"js",
      new org.apache.spark.sql.types.StructType().add("a", "long")).as("p"))
    assert(phys(bad).exists(x => x.rule == "codegen-fallback-expression"
        && x.severity == ScaleLint.Advice),
      s"from_json in a projection must be flagged: ${phys(bad)}")
    // higher-order functions are a VISIBLE interpreted tier — exempt
    val hof = docs.select(transform($"arr", x => x + 1).as("t"),
      aggregate($"arr", lit(0L), (a, x) => a + x).as("s"))
    assert(phys(hof).isEmpty, s"HOFs must not be flagged: ${phys(hof)}")
    // plain codegen'd arithmetic stays quiet
    assert(phys(docs.select(($"doc_id" * 3 + 1).as("x"))).isEmpty)
  }

  test("bnlj-raw-build flags a data-sized BNLJ build side; filtered/constant/bounded builds pass (r18)") {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    // non-equi join with a hinted bare-scan build: the logical rule flags
    // the hint; the physical rule must flag the planned BNLJ too
    val bad = li.join(broadcast(o), $"l_orderkey" < $"o_orderkey")
    assert(phys(bad).exists(x => x.rule == "bnlj-raw-build"
        && x.severity == ScaleLint.Advice),
      s"BNLJ over a raw build must flag: ${phys(bad)}")
    // a row-reduced build side is the author-asserted scored-set idiom
    val filtered = li.join(broadcast(o.filter($"o_orderpriority" === "1-URGENT")),
      $"l_orderkey" < $"o_orderkey")
    assert(!phys(filtered).exists(_.rule == "bnlj-raw-build"),
      s"filtered build passes: ${phys(filtered)}")
    // an aggregated (bounded) build side passes — the q218 bounds shape
    val bounds = li.agg(min($"l_quantity").as("lo"), max($"l_quantity").as("hi"))
    assert(!phys(li.crossJoin(broadcast(bounds))).exists(_.rule == "bnlj-raw-build"))
    // constant-size catalog tables are exempt
    val nation = Tables.load(spark, dir, "nation")
    assert(!phys(li.join(broadcast(nation), $"l_suppkey" < $"n_nationkey"))
      .exists(_.rule == "bnlj-raw-build"), "constant tables are exempt")
  }

  /** The physical-advice allowlist (r18): exactly these (query, rule)
    * pairs may carry a physical Advice finding — each a documented,
    * deliberately-kept shape. A new query that silently picks up a
    * SortAggregate fallback / interpreted projection / raw BNLJ build
    * trips this meta-test. The r18 sweep's fourth hit — q218's
    * struct-buffered min/max over the whole series, the q179 class on the
    * one operator designed for billion-point inputs — was FIXED
    * (ArgExtremum re-key), not allowlisted.
    *
    *  - q86_profile: min/max/first over STRING columns — profiling's
    *    semantics; a string buffer is variable-width, no flat-buffer
    *    alternative exists. One scan, and the interpreted update is the
    *    string comparison itself.
    *  - q146_chi_square: the deliberate ordered fold (collect_list +
    *    sorted aggregate) for the bit-stable oracle sum, over the
    *    SUPPORT-BOUNDED |langs|×|sources| cell table — boundedness is a
    *    logical property the physical walk cannot recover.
    *  - q110_from_json: from_json IS the exercised operator (§2.7 JSON
    *    extraction); its interpreted eval is the cost of JSON parsing,
    *    not a silent fallback around it. */
  private val physicalAdviceAllowlist: Set[(String, String)] = Set(
    ("q86_profile", "sort-agg-non-mutable-buffer"),
    ("q146_chi_square", "sort-agg-non-mutable-buffer"),
    ("q110_from_json", "codegen-fallback-expression"))

  test("the ENTIRE catalog passes the PHYSICAL lint; advice stays inside the pinned allowlist (r18)") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val advice = scala.collection.mutable.ArrayBuffer[String]()
    catalogFindings.foreach { case (name, lints) =>
      lints.left.foreach(err => failures += s"$name: $err")
      lints.toSeq.flatMap(_._2).foreach { f =>
        if (f.severity == ScaleLint.Error)
          failures += s"$name: ${f.rule} - ${f.detail}"
        else {
          advice += s"$name: ${f.rule}"
          if (!physicalAdviceAllowlist.contains((name, f.rule)))
            failures += s"$name: physical advice ${f.rule} outside the pinned allowlist (${f.detail.take(160)})"
        }
      }
    }
    assert(failures.isEmpty,
      s"physical-lint findings in the catalog:\n  ${failures.distinct.mkString("\n  ")}")
    info(s"physical advice findings: ${advice.distinct.mkString("; ")}")
  }

  test("a lazy barrier keeps its plan's metrics while a sibling job still reads it") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val b = ScaleLint.barrier(spark.range(0, 4000, 1, 4).toDF().filter($"id" % 3 =!= 0))
    val rdd = b.queryExecution.toRdd
    val lost = graft.AccumulatorErrors.during {
      // the sibling computes partition 0 from the lineage, then keeps its
      // task running past the first job, which cuts that lineage
      val sibling = Future(spark.sparkContext.runJob(rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          it.size; Thread.sleep(4000)
        }, Seq(0)))
      Thread.sleep(500)
      assert(b.count() === 2666L)
      org.apache.spark.graft.CleanerBridge.settle(spark.sparkContext)
      Await.result(sibling, scala.concurrent.duration.Duration(60, "s"))
    }
    assert(lost.isEmpty, s"lost updates of the barrier's metrics: ${lost.take(3)}")
  }

  test("barrier loop does not compound join stats to a BigInteger overflow") {
    // the q189 CC shape distilled: localCheckpoint PRESERVES origin stats,
    // so a barrier-per-round loop of self-joins multiplies sizeInBytes
    // round over round (bits ×3 per round) — pre-guard, Catalyst's stats
    // visitor threw `BigInteger would overflow supported range` at ~round
    // 16; the guard resets any carried sizeInBytes above StatsCap
    import graft.plans.ScaleLint.BarrierSyntax
    var cur = spark.range(8).toDF("id").barrier()
    for (round <- 1 to 20) {
      cur = cur
        .join(cur.withColumnRenamed("id", "id2"), $"id" === $"id2")
        .join(cur.withColumnRenamed("id", "id3"), $"id" === $"id3")
        .select($"id")
        .barrier()
      val sz = cur.queryExecution.analyzed.stats.sizeInBytes
      assert(sz <= ScaleLint.StatsCap,
        s"round $round carried sizeInBytes $sz past the cap")
    }
    assert(cur.count() === 8L, "the loop's data must be untouched by the guard")
  }

  test("barrierByKeySized sizes a lazy-checkpoint input like its plain rows; joins on the key reuse the pin") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // a few-KB advisory size under a wide session makes the test-sized edge
    // table pin to a width strictly between 1 and the session width (21 of
    // 64); broadcast off so the join below plans a shuffled join
    val settings = Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k",
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = settings.keys.map(k => k -> spark.conf.getOption(k)).toMap
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val edges = spark.range(0, 1000, 1, 4)
        .select(($"id" % 100).as("src"), $"id".as("dst"))
      val (_, plainWidth) =
        ScaleLint.barrierByKeySized(edges, "src", identity[DataFrame] _)
      // a LAZY checkpoint has no blocks until something runs it: measured
      // as-is it reads 0 bytes and pins the whole table to one partition
      val (pin, lazyWidth) = ScaleLint.barrierByKeySized(
        edges.localCheckpoint(eager = false), "src", identity[DataFrame] _)
      val sessionWidth = spark.sessionState.conf.numShufflePartitions
      assert(lazyWidth === plainWidth,
        "a lazy-checkpoint input must get the width of the same rows un-checkpointed")
      assert(lazyWidth > 1 && lazyWidth <= sessionWidth,
        s"width $lazyWidth outside (1, $sessionWidth]")
      info(s"pin width $lazyWidth of $sessionWidth")

      // the iterative-operator shape (PageRank/LabelProp): a node-sized
      // state table co-partitioned at the pin's width, joined on the key
      val state = spark.range(100).select($"id".as("node"), lit(1L).as("rank"))
        .repartition(lazyWidth, $"node")
      val joined = pin.join(state, $"src" === $"node")
      val pinRdd = pin.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.head
      def children(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      // every path from the root down to the pinned scan: the Exchanges on it
      def exchangesAbovePin(p: SparkPlan, seen: Int): Seq[Int] = p match {
        case r: RDDScanExec if r.rdd.id == pinRdd => Seq(seen)
        case other =>
          val here = if (other.isInstanceOf[ShuffleExchangeLike]) 1 else 0
          children(other).flatMap(exchangesAbovePin(_, seen + here))
      }
      val paths = exchangesAbovePin(joined.queryExecution.executedPlan, 0)
      assert(paths.nonEmpty, "the pinned scan must appear in the join plan")
      assert(paths.forall(_ == 0),
        s"the pinned side must not be re-shuffled:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() === 1000L, "every edge meets its source node")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
