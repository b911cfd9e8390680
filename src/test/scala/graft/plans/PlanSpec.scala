package graft.plans

import graft.{QueryCatalog, SparkSuite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{InputAdapter, LogicalRDD, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions: the plans we'd want at 100 TB, locked in
  * as tests so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q2: filters and projection reach the parquet scan") {
    val p = formatted(QueryCatalog.q2FilterProject.fn(spark, dir))
    assert(p.contains("PushedFilters:"), "no pushed filters section")
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), s"quantity filter not pushed:\n$p")
    assert(p.contains("Not(EqualTo(l_returnflag,A))"), "returnflag filter not pushed")
    // read schema pruned to the 6 needed columns (5 projected + discount)
    assert(!p.contains("l_suppkey"), "unused column not pruned from scan")
  }

  test("q3: constant-size dims broadcast; big sides never broadcast") {
    val p = plan(QueryCatalog.q3StarJoin.fn(spark, dir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"nation+region should broadcast, got $broadcasts in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q4: orderBy+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(QueryCatalog.q4TopK.fn(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not incremental:\n$p")
  }

  test("q1: aggregation is two-phase (map-side partial before shuffle)") {
    val p = plan(QueryCatalog.q1PricingSummary.fn(spark, dir))
    assert(p.contains("HashAggregate"))
    assert(p.toLowerCase.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("pure projections plan no Exchange") {
    val masks = plan(QueryCatalog.queries("q20_mask_pii")(spark, dir))
    assert(!masks.contains("Exchange"), s"projection should be shuffle-free:\n$masks")
    val stats = plan(QueryCatalog.queries("q26_text_stats")(spark, dir))
    assert(!stats.contains("Exchange"), "text stats should be shuffle-free")
  }

  test("hot paths are whole-stage codegen'd") {
    Seq("q1_pricing_summary", "q2_filter_project", "q21_merchant_risk").foreach { q =>
      val df = QueryCatalog.queries(q)(spark, dir)
      df.collect() // materialize THIS query execution so AQE finalizes
      val p = formatted(df)
      assert(p.contains("codegen id"), s"$q lost whole-stage codegen:\n$p")
    }
  }

  test("q65 decontamination: benchmark n-gram set broadcasts, corpus side never shuffles pre-match") {
    val p = plan(graft.queries.CorpusQueries.q65Decontaminate.fn(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"benchmark set must broadcast:\n$p")
    // the ONLY exchanges allowed are the benchmark distinct + the per-doc
    // groupBy over matched rows; the corpus scan must not feed a shuffle
    // before the broadcast join
    assert(!p.contains("SortMergeJoin"), "corpus side must not sort-merge join")
  }

  test("q69 sampling predicate is a pure projection over the scan (no pre-agg shuffle)") {
    val d = graft.Tables.load(spark, dir, "documents")
    val sampled = d.filter(graft.ext.CorpusOps.hashSampled(col("doc_id"), 0.5))
    val p = plan(sampled)
    assert(!p.contains("Exchange"), s"hash sampling must not shuffle:\n$p")
  }

  test("q75 deep join: date filter reaches the orders scan, dims broadcast") {
    val p = formatted(graft.queries.Analytics.q75RegionalRevenue.fn(spark, dir))
    assert(p.contains("PushedFilters:"), "no pushed-filter section")
    assert("GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(p).isDefined,
      s"date range not pushed to the orders scan:\n$p")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"nation+region must broadcast, got $broadcasts")
    assert(!p.contains("CartesianProduct"))
  }

  test("merge upsert broadcasts the source-keys side") {
    val p = plan(QueryCatalog.queries("q17_merge_upsert")(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"anti join should broadcast source keys:\n$p")
  }

  test("range clustering produces pruned-scan-friendly disjoint files") {
    val li = graft.Tables.load(spark, dir, "lineitem")
    val out = java.nio.file.Files.createTempDirectory("graft-layout").toString + "/li"
    Layout.cluster(li, 8, col("l_shipdate")).write.parquet(out)
    val back = spark.read.parquet(out)
    // per-file min/max of the cluster column should be (near-)disjoint:
    // check total overlap count is far below the all-overlapping worst case
    val ranges = back.groupBy(input_file_name())
      .agg(min(unix_micros(col("l_shipdate").cast("timestamp"))).as("lo"),
        max(unix_micros(col("l_shipdate").cast("timestamp"))).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length === 8)
    val sorted = ranges.sortBy(_._1)
    val overlaps = sorted.sliding(2).count {
      case Array((_, hi1), (lo2, _)) => lo2 < hi1
      case _ => false
    }
    assert(overlaps <= 1, s"clustered file ranges overlap: ${sorted.mkString(", ")}")
    // and a narrow time-range filter must prune files at the scan
    // plain parquet has no file-level stats index (numFiles stays 8 — that's
    // Delta territory); the skipping mechanism here is row-group min/max
    // inside the reader, which needs (a) the predicate pushed to the scan
    // and (b) the sorted layout making row-group ranges tight — (b) is the
    // disjointness proven above, assert (a):
    val pruned = back.filter(col("l_shipdate") === lit(java.sql.Timestamp.valueOf("1996-06-01 00:00:00")))
    val f = formatted(pruned)
    assert(f.contains("PushedFilters") && f.contains("EqualTo(l_shipdate"),
      s"filter must reach the parquet reader for row-group skipping:\n$f")
  }

  test("sessionize plans a single exchange (windows + agg share the user-hash partitioning)") {
    val df = QueryCatalog.queries("q24_sessionize")(spark, dir)
    val p = plan(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"sessionization should reuse one user-hash exchange, got $exchanges:\n$p")
  }

  test("zorder 2-d key interleaves bits") {
    import spark.implicits._
    val r = Seq((3L, 0L), (0L, 3L), (3L, 3L)).toDF("a", "b")
      .select(Layout.zorderKey2($"a", $"b").as("z")).as[Long].collect()
    assert(r.toSeq === Seq(5L, 10L, 15L)) // 0b0101, 0b1010, 0b1111
  }

  test("q96 z-score: per-segment stats broadcast back (no sort-merge join)") {
    val p = plan(QueryCatalog.queries("q96_zscore_normalize")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"stats side must broadcast onto the stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a 5-row stats table must never force a sort-merge join:\n$p")
  }

  test("q92 k-means: centroids broadcast every pass, no sort-merge join anywhere") {
    val p = plan(QueryCatalog.queries("q92_kmeans")(spark, dir))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2,
      s"each assignment pass must broadcast the centroid set:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"k-means must never shuffle-join the corpus against centroids:\n$p")
    // r18: assignment is the fused per-row argmin scan (NearestKey wraps
    // the same sq_l2_distance loop); one occurrence per Lloyd pass
    assert("nearest_key\\(.*sqdist".r.findAllIn(p).nonEmpty,
      s"native fused nearest-centroid selection in the plan:\n$p")
  }

  test("compactToTarget: file count derived from bytes, data identical") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val in = s"$base/in"; val out = s"$base/out"
    // many tiny files: 64 partitions of a small table
    spark.range(0, 10000).select($"id", ($"id" % 7).as("v"))
      .repartition(64).write.parquet(in)
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in) === 64)
    val inBytes = new org.apache.hadoop.fs.Path(in)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(in)).getLength
    val n = Layout.compactToTarget(spark, in, out, targetBytes = inBytes / 4)
    assert(n === 4 || n === 5, s"expected ~4 target-size files, got $n")
    assert(parquetFiles(out) === n)
    assert(spark.read.parquet(out).exceptAll(spark.read.parquet(in)).isEmpty
      && spark.read.parquet(in).exceptAll(spark.read.parquet(out)).isEmpty,
      "compaction must not change the data")
  }

  test("q117 PQ: codebooks and ADC tables broadcast, no cartesian product") {
    val p = plan(QueryCatalog.queries("q117_pq_adc_topk")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"PQ path must never go all-pairs:\n$p")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length +
      "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(broadcasts >= 2,
      s"codebook join (encode) and ADC-table join (search) must broadcast, got $broadcasts")
    // r18: the encode is the fused per-row scan against ONE broadcast
    // books-by-subspace row — exactly one bounded nested-loop cross; the
    // search joins stay equi-broadcasts
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the one-row books broadcast may nest-loop:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      s"the ADC-table search join must stay an equi-broadcast:\n$p")
    assert("nearest_key\\(.*sqdist".r.findAllIn(p).nonEmpty,
      s"native fused PQ encode in the plan:\n$p")
  }

  /** A plan that yields at most one row: a global aggregate, or a
    * projection / exchange / codegen wrapper over one. */
  private def oneRow(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _: ProjectExec | _: BroadcastExchangeExec | _: ShuffleExchangeExec |
        _: WholeStageCodegenExec | _: InputAdapter => oneRow(p.children.head)
    case _ => false
  }

  /** The raw IVF×PQ search shape q120 and q121 share; returns the plan's
    * broadcast hash joins for the caller's own checks. */
  private def ivfPqSearchShape(df: DataFrame): Seq[BroadcastHashJoinExec] = {
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("CartesianProduct"),
      s"IVFPQ must never go all-pairs against the corpus:\n$p")
    // no sort-merge join anywhere: nothing data-proportional shuffles for
    // a join in the search path
    assert(!p.contains("SortMergeJoin"),
      s"IVFPQ search must not shuffle-join the corpus:\n$p")
    // every nested loop builds a constant one-row side; there are two:
    // corpus × quantizer row (index build) and queries × quantizer row
    // (probe rows), one broadcast that AQE reuses at run time
    val bnl = collect(exec) { case j: BroadcastNestedLoopJoinExec => j }
    bnl.foreach { j =>
      val build = if (j.buildSide == BuildRight) j.right else j.left
      assert(oneRow(build), s"nested loop over a non-constant build side:\n$j")
    }
    assert(bnl.size <= 2, s"only the quantizer-row cross joins may nest-loop, got " +
      s"${bnl.size} in:\n$p")
    val bhj = collect(exec) { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(joinsOn(_, "cid")),
      s"list pruning must stay an equi-broadcast on cid:\n$p")
    // no localCheckpoint barrier: the builder plans, it starts no job
    assert(df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r }.isEmpty,
      s"a barrier is back in the IVF×PQ search plan:\n$p")
    bhj
  }

  private def joinsOn(j: BroadcastHashJoinExec, key: String): Boolean =
    j.leftKeys.flatMap(_.references.map(_.name)) == Seq(key)

  test("q120 IVF×PQ: centroids/codebooks/probes broadcast-only, no cartesian product") {
    ivfPqSearchShape(QueryCatalog.queries("q120_ivfpq_topk")(spark, dir))
  }

  test("q121 IVF×PQ refine: candidate-pruned raw fetch, no cartesian, no shuffle join") {
    val df = QueryCatalog.queries("q121_ivfpq_refine")(spark, dir)
    val bhj = ivfPqSearchShape(df)
    // the shortlist fetch (on id) and the query re-attach (on qid) must
    // broadcast like the list-pruning join
    Seq("id", "qid").foreach(key => assert(bhj.exists(joinsOn(_, key)),
      s"the $key join must be a broadcast hash join:\n${df.queryExecution.executedPlan}"))
  }

  test("q120's index build evaluates the coarse nearest_key once per corpus row") {
    // the equi-join on cid infers isnotnull(cid); a nullable cid would push
    // that filter into the build's nested loop as a second nearest-centroid
    // search per row
    val exec = QueryCatalog.queries("q120_ivfpq_topk")(spark, dir).queryExecution.executedPlan
    val coarse = collect(exec) { case p => p }.flatMap(_.expressions.flatMap(_.collect {
      case n: graft.functions.NearestKey if n.right.references.exists(_.name == "__cands") => n
    }))
    assert(coarse.size === 1,
      s"coarse nearest_key evaluated ${coarse.size} times per corpus row:\n$exec")
  }

  test("q122 residual IVF×PQ: broadcast-only tables, pruned seed branches, no shuffle join") {
    val p = plan(QueryCatalog.queries("q122_ivfpq_residual")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"residual path must never go all-pairs against the corpus:\n$p")
    // centroid cross joins: ONE full-corpus assignment (encode pipeline)
    // + one per-query probe selection. The seed-codebook branches live
    // behind the books' lazy checkpoint (computed once over an
    // id<ksub-pruned scan), so they must NOT appear as repeated
    // assignment joins in the search plan.
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 3, s"full-corpus assignment must happen once, got $bnl nest-loops")
    assert(!p.contains("SortMergeJoin"),
      s"residual search must not shuffle-join the corpus:\n$p")
  }

  test("q123 residual refine: broadcast-only composition, no cartesian, no shuffle join") {
    val p = plan(QueryCatalog.queries("q123_ivfpq_residual_refine")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"residual refine must never go all-pairs against the corpus:\n$p")
    // one full-corpus assignment (encode) + one probe selection, as q122
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 3, s"only the centroid cross joins may nest-loop, got $bnl")
    assert(!p.contains("SortMergeJoin"),
      s"shortlist fetch + re-rank must stay broadcast-pruned keyed joins:\n$p")
  }

  test("q124 persisted-index search: NO corpus assignment in the plan, broadcast-only") {
    val p = plan(QueryCatalog.queries("q124_ivfpq_persisted")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"persisted search must never go all-pairs:\n$p")
    // THE point of the artifact: the n·|centroids| assignment/encode work
    // happened at BUILD time — the search plan may nest-loop only the
    // per-query probe selection (|queries| × |centroids|, both tiny)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1,
      s"corpus assignment leaked into the persisted-index search plan ($bnl nest-loops):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"persisted search must not shuffle-join the code table:\n$p")
  }

  test("q125 post-promote search: same broadcast-only shape as q124, no corpus assignment") {
    val p = plan(QueryCatalog.queries("q125_ann_retrain_promote")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"post-promote search must never go all-pairs:\n$p")
    // promotion swaps WHICH artifacts serve, not the search plan shape:
    // the bootstrap generation's build work must be invisible here
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1,
      s"assignment/encode work leaked into the post-promote search plan ($bnl nest-loops):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"post-promote search must not shuffle-join the code table:\n$p")
  }

  test("q126 importance resampling: bucket tables broadcast, selection is top-k not global sort") {
    val p = plan(QueryCatalog.queries("q126_importance_resample")(spark, dir))
    // DSIR's hashed projection exists to make the feature space constant:
    // the target/background bucket tables must broadcast at any corpus size
    assert(!p.contains("SortMergeJoin"),
      s"constant-size bucket tables must broadcast-join, never shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"k-row selection must plan as top-k, not a global sort:\n$p")
  }

  test("q128 contrastive mining: anchors broadcast against the cid-keyed corpus, no shuffle join") {
    val p = plan(QueryCatalog.queries("q128_contrastive_pairs")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    // centroid assignment is the one sanctioned nest-loop (corpus ×
    // broadcast constant-size centroids, the q88/q92 shape); the mining
    // join itself must be a broadcast HASH join on cid
    assert(!p.contains("SortMergeJoin"),
      s"anchor set must broadcast against the cluster-keyed corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cid-keyed mining join missing:\n$p")
  }

  test("q129 span removal: shingle/position-keyed joins only, no cartesian product") {
    val p = plan(QueryCatalog.queries("q129_dup_span_removal")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"span removal must never go all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"every join is equi-keyed (shingle, then (doc,pos)):\n$p")
  }

  test("q116 fuzzy decontamination: keyed joins only, no cartesian product") {
    val p = plan(QueryCatalog.queries("q116_fuzzy_decontam")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"benchmark probe must be a token-keyed join, never all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no non-equi join in the probe path")
  }

  test("q134 SCD2 build: both windows share ONE exchange on the dimension key") {
    val p = plan(QueryCatalog.queries("q134_scd2_dimension")(spark, dir))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges === 1,
      s"run-collapse and versionize windows both partition by key — one shuffle total:\n$p")
    assert(!p.contains("Join"), s"the rebuild path is join-free:\n$p")
  }

  test("q136 kNN graph: centroid assignment broadcast, pair join cid-keyed, no cartesian") {
    val p = plan(QueryCatalog.queries("q136_knn_graph")(spark, dir))
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"only the broadcast centroid cross join may be nested-loop:\n$p")
    // the in-cluster pair join must be an equi join on cid, never all-pairs
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"pair stage must be a keyed join:\n$p")
  }

  test("q137 triangle census: wedge/closure joins equi-keyed, never all-pairs") {
    val p = plan(QueryCatalog.queries("q137_triangle_census")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"triangle enumeration must be keyed joins:\n$p")
  }

  test("q139 SCD2 lookup: the version table broadcasts — facts never shuffle for the interval join") {
    val p = plan(QueryCatalog.queries("q139_scd2_lookup")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"dimension versions are broadcast-sized at any fact scale:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval probe rides the custkey equi join, not a non-equi join:\n$p")
  }

  test("q144 attribution: ONE window pass — the event stream never self-joins") {
    val p = plan(QueryCatalog.queries("q144_attribution")(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"last-touch is a running window, not an events⋈events join:\n$p")
  }

  test("q158 market share: every nation/region leg broadcasts, no products") {
    val p = plan(QueryCatalog.queries("q158_market_share")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a 7-relation join must stay equi-keyed throughout:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"nation(×2)+region legs broadcast (got $bhj):\n$p")
  }

  test("q145 RFM: no unpartitioned Window (no global sort); cutoffs broadcast back") {
    val df = QueryCatalog.queries("q145_rfm_segments")(spark, dir)
    // the logical plan must carry NO Window at all (the ntile form had
    // three unpartitioned ones = three single-partition global sorts)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"cutoff scoring must not plan a Window:\n${windows.mkString}")
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row cutoff table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // no Sort anywhere — the cutoff form's only single-partition stage is
    // the percentile partials MERGE (buffers, not rows)
    assert(!p.contains("Sort "), s"no sort may appear in the cutoff form:\n$p")
  }

  test("q167 containment pairs: shingle/id-keyed joins only, no cartesian") {
    val p = plan(QueryCatalog.queries("q167_containment_pairs")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay shingle-keyed:\n$p")
  }

  test("q166 concurrency sweep: the only unpartitioned window runs over the aggregated minute series") {
    val df = QueryCatalog.queries("q166_session_concurrency")(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // two windows total: the user-keyed sessionizer and the minute sweep
    val unpartitioned = wins.count(_.partitionSpec.isEmpty)
    assert(unpartitioned === 1,
      s"exactly the post-aggregation sweep may be global, got $unpartitioned")
  }

  test("q149 count-min: the sketch side broadcasts against the queried keys") {
    val p = plan(QueryCatalog.queries("q149_countmin_heavy_hitters")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤1024-row sketch must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q176 revenue concentration: the only global window is the partition-offsets cumulate") {
    // Gini runs through the distributed rank recipe (range partition +
    // per-partition rank + offsets): the ONE permitted unpartitioned
    // window cumulates the per-partition COUNTS (#partitions rows, 32
    // here), never the per-customer totals — its child must be the
    // partition-id aggregate
    val df = QueryCatalog.queries("q176_revenue_concentration")(spark, dir)
    val global = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(global.size === 1, s"exactly the offsets cumulate may be global:\n$global")
    assert(global.head.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.exists(_.groupingExpressions.exists(_.toString.contains("__rank_pid"))),
      s"the global window must run over the partition-count aggregate:\n${global.head}")
    assert(!plan(df).contains("CartesianProduct"))
  }

  test("q174/q182 equi-depth cutoffs broadcast; cumulate windows run over ≤B buckets") {
    for (q <- Seq("q174_ks_binned", "q182_calibration_curve")) {
      val df = QueryCatalog.queries(q)(spark, dir)
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: the 1-row cutoff table must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    }
  }

  test("q179 k-core: every peeling round is degree-agg + semi-joins, never all-pairs") {
    val p = plan(QueryCatalog.queries("q179_kcore")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"peel rounds must stay node-keyed:\n$p")
  }

  test("q192 skyline: the only global window is the prefix-scan partition cumulate") {
    // Scan.runningMaxExclusive mirrors the distributed-rank shape: the one
    // unpartitioned window runs over the #partitions-row per-pid aggregate
    val df = QueryCatalog.queries("q192_skyline")(spark, dir)
    val global = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(global.size === 1, s"exactly the partition-prefix cumulate may be global:\n$global")
    assert(global.head.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.exists(_.groupingExpressions.exists(_.toString.contains("__scan_pid"))),
      s"the global window must run over the partition aggregate:\n${global.head}")
    assert(!plan(df).contains("CartesianProduct"))
  }

  test("q193 item similarity: no mandatory broadcast of the data-sized count table") {
    // the per-item count table has one row per distinct part — data-sized,
    // not support-bounded — so a hinted broadcast would OOM the driver at
    // 100 TB (hints bypass autoBroadcastJoinThreshold). The join-back must
    // be unhinted: AQE may still ELECT a broadcast when the table is small,
    // but the logical plan may not demand one.
    val df = QueryCatalog.queries("q193_item_similarity")(spark, dir)
    val hinted = df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty, s"no join may carry a mandatory hint:\n$hinted")
    assert(!plan(df).contains("CartesianProduct"))
  }

  test("q187 trimmed mean: no exact-percentile buffer; bin counts bound the state") {
    // the cutoffs must come from the counting recipe (state = one count per
    // distinct cent bin), never Spark's exact `percentile`, whose buffer is
    // the whole per-group value multiset — O(group rows) at 100 TB
    val df = QueryCatalog.queries("q187_trimmed_mean")(spark, dir)
    val p = plan(df)
    assert(!p.toLowerCase.contains("percentile"),
      s"exact percentile must not appear in the plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the support-bounded cuts table must broadcast:\n$p")
  }

  test("q181 quantile normalization: no global window anywhere; min-n broadcasts") {
    // the per-group rank window sits behind the checkpoint barrier; what
    // the final plan may NOT contain is an unpartitioned window or a
    // product — the min-n scalar broadcasts
    val df = QueryCatalog.queries("q181_quantile_normalize")(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"no global window may survive:\n${wins.mkString}")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row min-n must broadcast:\n$p")
  }

  test("q202/q203 rank scans: global windows are only the prefix-scan cumulates") {
    // Mann-Whitney ranks one distinct-value table (1 scan); Spearman ranks
    // two metrics (2 scans). Each scan's single unpartitioned window runs
    // over the #partitions-row per-pid aggregate, never over data rows.
    for ((name, nScans) <- Seq("q202_mann_whitney" -> 1, "q203_spearman" -> 2,
        "q213_low_watermark" -> 1)) {
      val df = QueryCatalog.queries(name)(spark, dir)
      val global = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(global.size === nScans,
        s"$name: expected $nScans partition-prefix cumulates:\n$global")
      assert(global.forall(_.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.exists(_.groupingExpressions.exists(_.toString.contains("__scan_pid")))),
        s"$name: every global window must run over the partition aggregate")
      assert(!plan(df).contains("CartesianProduct"))
    }
  }

  test("q204 autocorrelation: bounded day series; stats and lags broadcast") {
    val df = QueryCatalog.queries("q204_autocorrelation")(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.isEmpty, s"no window belongs in the ACF plan:\n${wins.mkString}")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
  }

  test("q218 M4: pure aggregation — no window, no per-bucket sort") {
    // the struct-min/max formulation must keep M4 a one-pass groupBy; a
    // window/rank formulation would sort every bucket's rows
    val df = QueryCatalog.queries("q218_m4_downsample")(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.isEmpty, s"M4 must not plan a window:\n${wins.mkString}")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
  }

  test("q215/q219 sequence ops: every window is user-keyed, none global") {
    Seq("q215_gaps_islands", "q219_interval_merge").foreach { name =>
      val df = QueryCatalog.queries(name)(spark, dir)
      val global = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"$name: global window found:\n${global.mkString}")
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if !w.partitionSpec.exists(_.toString.contains("user_id")) => w
      }
      assert(bad.isEmpty, s"$name: window not keyed on user_id:\n${bad.mkString}")
    }
  }

  test("q214 string metrics: quadratic work runs over the dictionary, after distinct") {
    val df = QueryCatalog.queries("q214_string_metrics")(spark, dir)
    val p = plan(df)
    // the inequality pair join over the 64-name dictionary is a broadcast
    // nested loop — never a shuffled product over data-sized sides
    assert(p.contains("BroadcastNestedLoopJoin"), s"dictionary pair join shape:\n$p")
    assert(!p.contains("CartesianProduct"))
    // distinct (Aggregate) sits BELOW the join on both inputs
    val join = df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.get
    Seq(join.left, join.right).foreach { side =>
      assert(side.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, s"pair-join side must dedup to the dictionary first:\n$side")
    }
  }

  test("q221/q222/q223 paired stats: windows only over bounded aggregates, no products over data") {
    // q221's single global window cumulates the distinct-|d| table (≤ days
    // rows); q222/q223 plan no windows at all
    val w221 = QueryCatalog.queries("q221_wilcoxon")(spark, dir)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(w221.size === 1, s"q221: exactly the rank cumulate:\n${w221.mkString}")
    // the distinct-|d| aggregate below it is localCheckpointed (lineage
    // truncated to a LogicalRDD), so pin the window by its order key: it
    // must cumulate the |d| VALUE table, not the raw data
    assert(w221.head.orderSpec.exists(_.child.toString.contains("absd")),
      s"q221: the global window must order by the distinct |d| values:\n${w221.head}")
    Seq("q222_mase", "q223_kendall_tau").foreach { name =>
      val df = QueryCatalog.queries(name)(spark, dir)
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.isEmpty, s"$name: no window belongs here:\n${wins.mkString}")
      assert(!plan(df).contains("CartesianProduct"), s"$name plans a cartesian")
    }
  }

  test("q224/q225/q226 experimentation tier: pure aggregates, no windows, no cartesian") {
    // DiD and CUPED are conditional/moment aggregates; jackknife's only
    // joins carry the 1-row totals / B-row bucket table
    Seq("q224_diff_in_diff", "q225_cuped", "q226_jackknife").foreach { name =>
      val df = QueryCatalog.queries(name)(spark, dir)
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.isEmpty, s"$name: no window belongs here:\n${wins.mkString}")
      assert(!plan(df).contains("CartesianProduct"), s"$name plans a cartesian")
    }
  }

  test("q233 textrank: pair generation is window-based — no doc-keyed self-join") {
    // The ±2-token co-occurrence pairs must come from LEADs over a
    // (doc_id, pos) window (O(doc_len·w) work), never a doc_id self-join
    // whose join GROUP enumerates O(doc_len²) position pairs before the
    // gap filter — a single 100k-token doc would be 10^10 comparisons.
    // pin the edge-generation frame, not the full query: the PageRank
    // recurrence localCheckpoints per round, so the final plan is
    // lineage-truncated and any pin on it would be vacuous
    val df = graft.queries.TextQueries.textrankEdges(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    val docJoins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "doc_id")) => j
    }
    assert(docJoins.isEmpty,
      s"pair generation regressed to a doc-keyed self-join:\n${docJoins.mkString}")
    val docWindows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(_.name == "doc_id")) => w
    }
    assert(docWindows.nonEmpty, "expected the (doc_id, pos) LEAD window")
  }

  test("q31/q39/q57/q147 LSH pairs: one aggregate per bucket, no bucket-keyed self-join") {
    // the band self-join forms keyed their join on `bh` (q31, q39, q57) or
    // (band, key) (q147); the one-aggregate form groups on `bucket`
    val bucketCols = Set("bucket", "bh", "band", "key")
    Seq("q31_minhash_neardup", "q39_simhash_neardup", "q57_embed_neardup",
        "q147_image_neardup").foreach { q =>
      val opt = QueryCatalog.queries(q)(spark, dir).queryExecution.optimizedPlan
      val bucketJoins = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists(_.references.exists(a => bucketCols(a.name))) => j
      }
      assert(bucketJoins.isEmpty, s"$q joins on its bucket key:\n${bucketJoins.mkString}")
      if (q == "q31_minhash_neardup") {
        val rdds = opt.collect { case r: LogicalRDD => r }
        assert(rdds.isEmpty, s"q31 materializes its band table:\n$opt")
      }
    }
  }
}
