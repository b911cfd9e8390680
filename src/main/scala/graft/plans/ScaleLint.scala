package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The repo's 100 TB scale discipline as a MECHANICAL plan linter — the
  * rules every VERDICT audit and PlanSpec pin enforces by hand, checkable
  * on any query in one call:
  *
  *  1. `global-window-over-raw` (error): a `Window` with an empty
  *     partitionSpec funnels its whole input through ONE task; that is only
  *     acceptable over a support-bounded table (something an `Aggregate`,
  *     `Limit`, or literal relation produced — the q157/q186 "bounded
  *     support" idiom, and the shape `ext/Scan` exists to provide for
  *     data-sized inputs).
  *  2. `raw-broadcast-hint` (error): a mandatory broadcast hint on a side
  *     that is a bare full-table scan (no filter, aggregate, or limit
  *     between the hint and the relation) OOMs the driver when the table
  *     is data-sized — hints bypass autoBroadcastJoinThreshold (the q193
  *     rule). Constant-size catalog tables (region/nation by default) are
  *     exempt.
  *  3. `unbounded-cartesian` (error): a join with NO condition where
  *     neither side is support-bounded is a data×data product.
  *  4. `exact-percentile` (advice): Spark's exact `percentile` buffers the
  *     whole per-group value multiset (the q187-r13 OOM class); counting
  *     percentiles (q169) or `approx_percentile` (q115) are the scale
  *     recipes. Advice, not error — the exact form is deliberately kept
  *     where it IS the oracle contract (bounded groups).
  *
  * A subtree is judged support-bounded if it contains an Aggregate, a
  * Limit, a literal relation, or a lineage barrier REGISTERED as bounded:
  * barriers are opaque, so [[ScaleLint.barrier]] (the house lineage-cut,
  * replacing raw `localCheckpoint` at every call site) computes the
  * pre-checkpoint plan's verdict and carries it across the cut keyed by
  * RDD id; an unregistered LogicalRDD is treated as data-sized.
  *
  * ScaleLintSpec proves each rule fires on a minimal offending plan, stays
  * quiet on the approved shapes, and — the point — that EVERY catalog query
  * passes with zero errors (the per-query PlanSpec pins generalized to the
  * whole surface). [[GraftLintListener]] runs the lint warn-only on the
  * final plan of every query a session executes.
  */
object ScaleLint {

  sealed trait Severity
  case object Error extends Severity
  case object Advice extends Severity

  final case class Finding(rule: String, severity: Severity, detail: String)

  /** Tables whose cardinality is constant by schema contract (TPC-H region
    * and nation) — full-scan broadcasts of these are fine at any SF. */
  val DefaultConstantTables: Set[String] = Set("region", "nation")

  /** Boundedness carried ACROSS lineage barriers, keyed by the
    * checkpointed RDD's id: [[barrier]] computes the pre-checkpoint
    * plan's verdict and records it here, because the LogicalRDD the
    * checkpoint leaves behind is opaque. r14 trusted every barrier as
    * bounded ("the house convention localCheckpoints only bounded
    * intermediates") — a convention q187/q193/q233 already violated
    * with data-sized checkpoints for plan reuse, so a global window or
    * hinted broadcast above one would have passed the lint silently.
    * Unregistered LogicalRDDs are now treated as DATA-SIZED (the
    * conservative default). */
  private val barrierBounded =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()

  /** The house lineage-cut: `localCheckpoint` + boundedness registration.
    * Call sites use this instead of raw `df.localCheckpoint(...)` so the
    * linter's [[bounded]] judgment survives the barrier — the verdict is
    * computed on the plan that EXISTS at cut time, not asserted by
    * convention. Lazy by default (the catalog's plan-reuse idiom); pass
    * `eager = true` for the iterative-operator pattern (PageRank rounds,
    * BPE merges) that wants the blocks materialized now.
    *
    * STAT-EXPLOSION GUARD (r16, caught by the catalog100x torture probe):
    * `Dataset.localCheckpoint` PRESERVES the origin plan's statistics in
    * the LogicalRDD it leaves behind, so a barrier-per-round loop (the CC
    * superstep) compounds join-stat PRODUCTS round over round — sizeInBytes
    * grows doubly-exponentially (bits ×3 per superstep) until Catalyst's
    * SizeInBytesOnlyStatsPlanVisitor throws `BigInteger would overflow
    * supported range` at ~round 16 (q189's CC at 300k media died exactly
    * there). When the carried sizeInBytes exceeds [[StatsCap]], the
    * LogicalRDD is rebuilt with NO origin stats (→ the session default),
    * which resets the compounding each round while leaving every sane
    * barrier's stats — and the broadcast-planning they feed — untouched. */
  val StatsCap: BigInt = BigInt(Long.MaxValue)

  def barrier(df: DataFrame, eager: Boolean = false): DataFrame = {
    val b = bounded(df.queryExecution.optimizedPlan)
    val out = df.localCheckpoint(eager)
    val metrics = PlanMetrics.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.metrics.values.toSeq
    }.flatten
    val guarded = out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.stats.sizeInBytes > StatsCap =>
        org.apache.spark.sql.graft.PlanBridge.ofRows(df.sparkSession,
          org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            None, None))
      case _ => out
    }
    guarded.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        barrierBounded.put(l.rdd.id, b)
        barrierMetrics.put(l.rdd, metrics)
      case _ => ()
    }
    guarded
  }

  private object PlanMetrics extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The SQL metric accumulators of each [[barrier]]'s pre-checkpoint plan,
    * held while its checkpointed RDD is reachable. The first job that
    * materializes a lazy barrier truncates the RDD's lineage, which held
    * the last reference to those metrics; a sibling job still computing
    * the same partitions (AQE submits independent stages together, e.g.
    * q193's two consumers of one barrier) then reports updates for
    * accumulators the ContextCleaner has already removed — the
    * DAGScheduler logs `Failed to update accumulator` and drops them. */
  private val barrierMetrics = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_],
      Seq[org.apache.spark.sql.execution.metric.SQLMetric]]())

  /** [[barrier]] with a PINNED physical layout, auto-sized: hash-
    * repartition on `key`, sort within partitions, run `shape`, then
    * eagerly checkpoint and rebuild the LogicalRDD with the layout
    * declared. Returns the pinned table and its width; iterative callers
    * (PageRank, LabelProp) repartition their per-round state table to that
    * width, because a state-table exchange planned at a different width
    * makes EnsureRequirements re-shuffle the PINNED (data-sized) side of
    * every round's join, which silently undoes the pin.
    *
    * Why pin at all: `Dataset.localCheckpoint` under AQE records
    * `UnknownPartitioning` (the adaptive plan's final partitioning is not
    * visible when the Dataset captures it), so every iteration re-shuffled
    * AND re-sorted a checkpointed edge table. The declared layout is TRUE
    * by construction: `repartition(n, key)` with an explicit n is never
    * AQE-coalesced, so partition p holds exactly the rows with
    * `pmod(hash(key), n) = p` — Spark's own HashPartitioning contract —
    * and the within-partition sort survives the checkpoint's row copy.
    *
    * Width: AQE cannot size the pin (coalescing merges adjacent hash
    * buckets, which would make the declared HashPartitioning false), so
    * the input is first materialized ONCE as a plain eager barrier (no
    * shuffle), its TRUE block bytes are read from the block manager, and
    * the pin gets ceil(bytes / advisoryPartitionSizeInBytes) clamped to
    * [1, numShufflePartitions]: a data-sized table clamps to the session
    * width, a small one pins to a couple of partitions. The pre-barrier
    * is taken for EVERY input, also one that is already a LogicalRDD: a
    * lazy `localCheckpoint` has no blocks yet, and measuring it would
    * read 0 bytes and pin the whole table to one partition. It doubles as
    * the single materialization of the caller's derivation, and its
    * blocks are dropped once the pinned copy is materialized.
    *
    * `shape` MUST preserve per-partition row placement and order (e.g. a
    * window partitioned by `key`, a projection) — the declared layout is
    * asserted on its output. */
  def barrierByKeySized(df: DataFrame, key: String,
      shape: DataFrame => DataFrame): (DataFrame, Int) = {
    val pre = barrier(df, eager = true)
    val n = materializedWidth(pre)
    val out = barrierByKey(pre, key, n, shape)
    dropBarrier(pre)
    (out, n)
  }

  /** Pin width from TRUE materialized bytes: the block-manager size of an
    * eagerly materialized barrier divided by the session's advisory
    * partition size, clamped to [1, numShufflePartitions]. */
  private def materializedWidth(df: DataFrame): Int = {
    val sc = df.sparkSession.sparkContext
    val conf = df.sparkSession.sessionState.conf
    val bytes = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.headOption
      .flatMap(id => sc.getRDDStorageInfo.find(_.id == id))
      .map(i => i.memSize + i.diskSize).getOrElse(0L)
    val advisory = math.max(1L, conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    math.max(1, math.min(conf.numShufflePartitions,
      math.ceil(bytes.toDouble / advisory).toInt))
  }

  /** Release the pre-barrier's blocks. Unpersisting a local checkpoint is
    * unrecoverable (its blocks are the only copy; lineage is cut), so this
    * is only called once the pin derived from it is itself materialized. */
  private def dropBarrier(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        barrierBounded.remove(l.rdd.id)
      case _ => ()
    }

  /** The pin at an explicit width `n` (see [[barrierByKeySized]]). */
  private def barrierByKey(df: DataFrame, key: String, n: Int,
      shape: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val b = bounded(df.queryExecution.optimizedPlan)
    val out = shape(df
      .repartition(n, org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key))
      .localCheckpoint(true)
    val pinned = out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        // the name must be UNIQUE: with duplicates this would declare the
        // layout on an arbitrary attribute and Catalyst would elide real
        // exchanges — wrong results, not just a slow plan
        val matches = l.output.filter(_.name == key)
        require(matches.size == 1,
          s"barrierByKey: column $key must resolve uniquely, found ${matches.size}")
        val attr = matches.head
        org.apache.spark.sql.graft.PlanBridge.ofRows(df.sparkSession,
          org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd,
            HashPartitioning(Seq(attr), n),
            Seq(SortOrder(attr, Ascending)),
            l.isStreaming, l.stream)(
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            None, None))
      case _ => out
    }
    pinned.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        barrierBounded.put(l.rdd.id, b)
      case _ => ()
    }
    pinned
  }

  /** Suffix syntax so call sites read like the localCheckpoint they
    * replace: `df.barrier()` / `df.barrier(eager = true)`. */
  implicit class BarrierSyntax(private val df: DataFrame) extends AnyVal {
    def barrier(eager: Boolean = false): DataFrame =
      ScaleLint.barrier(df, eager)
  }

  /** Support-bounded: some node below caps the row count independently of
    * the input data size (aggregate output, limit, literal, registered
    * bounded barrier). A join or union is bounded iff every input is; a
    * unary node inherits its child's verdict; a real relation scan — and
    * an UNREGISTERED lineage barrier — is data-sized. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      Option(barrierBounded.get(l.rdd.id)).exists(_.booleanValue)
    case _: Aggregate | _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case _: LeafNode => false
    case other => other.children.forall(bounded)
  }

  private def scannedTables(p: LogicalPlan): Seq[String] = p.collect {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.map(_.getName.replaceAll("\\.parquet$", ""))
  }.flatten

  private def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** True when every conjunct is a bare IsNotNull guard — the filters the
    * optimizer itself infers from join keys; they reduce nothing on clean
    * data, so they don't make a scan "row-reduced". */
  private def onlyNullGuards(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    conjuncts(e).forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull])

  /** True when `side` is a bare relation scan with nothing row-reducing on
    * top (projections, aliases, and inferred null guards only). */
  private def bareFullScan(side: LogicalPlan): Boolean = side match {
    case _: LogicalRelation => true
    case Project(_, c) => bareFullScan(c)
    case SubqueryAlias(_, c) => bareFullScan(c)
    case Filter(cond, c) if onlyNullGuards(cond) => bareFullScan(c)
    case _ => false
  }

  /** A side that is not structurally bounded but is hinted broadcast AND
    * row-reduced (a real filter / limit / aggregate above the scan): the
    * approved "broadcast the small scored set against the corpus" idiom
    * (q33's query set, centroid tables, anchor sets) — the author asserts
    * the contract the hint encodes, and rule 2 still rejects the hint when
    * nothing reduces the side. */
  private def smallByContract(side: LogicalPlan,
      hint: Option[HintInfo]): Boolean =
    hint.exists(_.strategy.contains(BROADCAST)) && !bareFullScan(side)

  def lint(plan: LogicalPlan,
      constantTables: Set[String] = DefaultConstantTables): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]

    plan.foreach { node =>
      // expression sweep runs for EVERY node (a Percentile can hide in a
      // Window's windowExpressions or a Join condition — the exact shape
      // the q187-r13 OOM class includes), not just the default arm
      node.expressions.foreach(_.foreach {
        case _: Percentile =>
          out += Finding("exact-percentile", Advice,
            "exact percentile buffers the per-group value multiset; " +
              "use counting percentiles (q169) or approx_percentile (q115) at scale")
        case _ => ()
      })
      node match {
        case w: Window if w.partitionSpec.isEmpty =>
          if (!bounded(w.child))
            out += Finding("global-window-over-raw", Error,
              s"unpartitioned window over a data-sized input: ${w.windowExpressions.map(_.sql).mkString(", ")}")
        case j: Join =>
          def checkHint(h: Option[HintInfo], side: LogicalPlan, name: String): Unit =
            if (h.exists(_.strategy.contains(BROADCAST))
                && bareFullScan(side)
                && !scannedTables(side).forall(constantTables.contains))
              out += Finding("raw-broadcast-hint", Error,
                s"mandatory broadcast of a bare full scan on the $name side: ${scannedTables(side).mkString(",")}")
          checkHint(j.hint.leftHint, j.left, "left")
          checkHint(j.hint.rightHint, j.right, "right")
          if (j.condition.isEmpty
              && !bounded(j.left) && !bounded(j.right)
              && !smallByContract(j.left, j.hint.leftHint)
              && !smallByContract(j.right, j.hint.rightHint))
            out += Finding("unbounded-cartesian", Error,
              "condition-free join with two data-sized sides")
        case _ => ()
      }
    }
    out.result().distinct
  }

  /** Lint a DataFrame's OPTIMIZED plan (post-pushdown, the shape that
    * executes). */
  def check(df: DataFrame,
      constantTables: Set[String] = DefaultConstantTables): Seq[Finding] =
    lint(df.queryExecution.optimizedPlan, constantTables)

  /** Error findings logged by [[GraftLintListener]] since JVM start: the
    * listener is warn-only (it can never fail a query), so the engine's own
    * session mains surface this count in their artifacts — `lint_errors`
    * in the bench JSON, a `[verify]` stderr line. A query executed more
    * than once is counted each time, so the value is a tripwire
    * (0 = clean session), not a precise finding tally. */
  val errorCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** PHYSICAL-plan lint (r17, generalized r18) — the logical rules above
    * cannot see physical degradations. All Advice severity (over a
    * support-bounded input each shape is harmless, and boundedness is a
    * logical property the physical walk can't always recover):
    *
    *  1. `struct-buffered-argmax`: a SortAggregateExec evaluating MaxBy /
    *     MinBy. Their ordering value lives in a STRUCT-typed aggregation
    *     buffer, which HashAggregate's mutable-buffer requirement rejects —
    *     so the plan silently falls back to SortAggregate, whose per-row
    *     update path (interpreted struct build + compare + copy) costs
    *     ~10 µs. Invisible at test scale; at assignment-cross-product scale
    *     it WAS the wall (q179's 100× rung: 4,063 CPU-s in one balanced
    *     stage — the r16 verdict misread it as join skew). The fix for
    *     data-sized inputs is [[graft.functions.ArgExtremum]]
    *     (flat-primitive-buffer argmax/argmin, stays HashAggregate).
    *  2. `sort-agg-non-mutable-buffer` (r18): the same silent-fallback
    *     class for EVERY other aggregate — any SortAggregateExec caused by
    *     a non-fixed-width aggregation buffer (the exact planner test:
    *     `UnsafeRow.isMutable` over the buffer schema), reporting the
    *     offending aggregate and buffer type. The r17 find was made by
    *     a hand-run stage diagnosis (SCALING.md, "The q179 straggler was
    *     a hidden SortAggregate"); this catches the next member of
    *     the class mechanically. A SortAggregate whose buffers are all
    *     mutable is NOT flagged — the planner chose it for ordering
    *     reasons, not as a fallback.
    *  3. `codegen-fallback-expression` (r18): a CodegenFallback expression
    *     inside a codegen-eligible ProjectExec/FilterExec — the expression
    *     evaluates INTERPRETED per row inside the WholeStageCodegen span,
    *     the same ~µs/row silent tax as rule 1 in scalar form.
    *     Higher-order functions (transform/aggregate/filter over arrays)
    *     are exempt: they are a visible, deliberately-chosen interpreted
    *     tier (the alternative is a custom native expression, which the
    *     repo builds where the profile justifies it), not a silent
    *     planner fallback — and everything inside an HOF lambda is
    *     necessarily interpreted with it.
    *  4. `bnlj-raw-build` (r18): a BroadcastNestedLoopJoinExec whose build
    *     side contains NO row-reducing operator (no filter, aggregate,
    *     limit, or local relation) and is not a constant-size catalog
    *     table — a data-sized broadcast that OOMs the driver at scale.
    *     The logical `raw-broadcast-hint` rule catches the hinted form
    *     pre-planning; this catches plans that reach BNLJ any other way
    *     (stats mis-estimation, extension-built plans).
    *
    * The walk descends through AQE wrappers (AdaptiveSparkPlanExec's
    * current executed plan, QueryStageExec's inner plan) so post-run
    * listener calls see the stages that actually executed. */
  def lintPhysical(plan: org.apache.spark.sql.execution.SparkPlan,
      constantTables: Set[String] = DefaultConstantTables): Seq[Finding] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, UnsafeRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    def walk(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(walk) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => Seq.empty
      }))
    // non-HOF CodegenFallback expressions; an HOF subtree is exempt whole
    // (its lambda body is interpreted WITH it — one visible choice, not
    // a second silent fallback)
    def fallbacks(e: Expression): Seq[Expression] = e match {
      case _: HigherOrderFunction => Seq.empty
      case cf: CodegenFallback => Seq(cf)
      case other => other.children.flatMap(fallbacks)
    }
    // "nothing row-reducing anywhere below, and some data-sized leaf":
    // the physical mirror of the logical bareFullScan. File scans of
    // constant catalog tables are exempt; RDD scans (lineage barriers)
    // consult the same boundedness registry the logical rule uses —
    // an unregistered RDD leaf is data-sized by the conservative default.
    def rawBuild(p: SparkPlan): Boolean = {
      val nodes = walk(p)
      val reduced = nodes.exists {
        // inferred IsNotNull guards reduce nothing (the logical rule's
        // onlyNullGuards carve-out, same expression classes physically)
        case f: org.apache.spark.sql.execution.FilterExec =>
          !onlyNullGuards(f.condition)
        // a filter fully pushed into the scan leaves no FilterExec — read
        // the scan's own data filters
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.dataFilters.exists(e =>
            !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull])
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
        case _: org.apache.spark.sql.execution.LocalLimitExec
           | _: org.apache.spark.sql.execution.GlobalLimitExec
           | _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
           | _: org.apache.spark.sql.execution.CollectLimitExec
           | _: org.apache.spark.sql.execution.LocalTableScanExec => true
        case _ => false
      }
      val dataLeaf = nodes.exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          !f.relation.location.rootPaths
            .map(_.getName.replaceAll("\\.parquet$", ""))
            .forall(constantTables.contains)
        case r: org.apache.spark.sql.execution.RDDScanExec =>
          !Option(barrierBounded.get(r.rdd.id)).exists(_.booleanValue)
        case _ => false
      }
      !reduced && dataLeaf
    }
    walk(plan).flatMap {
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
        s.aggregateExpressions.map(_.aggregateFunction).flatMap {
          case _: org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
             | _: org.apache.spark.sql.catalyst.expressions.aggregate.MinBy =>
            Some(Finding("struct-buffered-argmax", Advice,
              "max_by/min_by planned as SortAggregate (struct ordering buffer " +
                "is not hash-aggregable): ~10 µs interpreted per-row updates — " +
                "the q179-r17 wall class. For data-sized inputs use " +
                "graft.functions.ArgExtremum (flat buffer, stays HashAggregate). " +
                s"Node: ${s.simpleStringWithNodeId()}"))
          case f =>
            val bad = f.aggBufferAttributes.filterNot(a => UnsafeRow.isMutable(a.dataType))
            if (bad.isEmpty) None
            else Some(Finding("sort-agg-non-mutable-buffer", Advice,
              s"${f.prettyName} planned as SortAggregate because its aggregation " +
                s"buffer holds non-fixed-width field(s) " +
                bad.map(a => s"${a.name}: ${a.dataType.simpleString}").mkString(", ") +
                " — interpreted per-row updates (the q179-r17 degradation class). " +
                "Re-key the aggregate onto flat primitive buffers for data-sized " +
                s"inputs. Node: ${s.simpleStringWithNodeId()}"))
        }
      case p: org.apache.spark.sql.execution.ProjectExec =>
        p.projectList.flatMap(fallbacks).distinct.map(e =>
          Finding("codegen-fallback-expression", Advice,
            s"${e.prettyName} is CodegenFallback inside a codegen projection: " +
              "interpreted eval per row inside the WholeStageCodegen span. " +
              "Prefer a codegen'd built-in or a native Expression with doGenCode."))
      case f: org.apache.spark.sql.execution.FilterExec =>
        fallbacks(f.condition).distinct.map(e =>
          Finding("codegen-fallback-expression", Advice,
            s"${e.prettyName} is CodegenFallback inside a codegen filter: " +
              "interpreted eval per row inside the WholeStageCodegen span. " +
              "Prefer a codegen'd built-in or a native Expression with doGenCode."))
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        if (rawBuild(build))
          Some(Finding("bnlj-raw-build", Advice,
            "BroadcastNestedLoopJoin builds on a side with no row-reducing " +
              "operator (no filter/aggregate/limit/local relation) and no " +
              "constant-table exemption — a data-sized broadcast OOMs the " +
              s"driver at scale. Node: ${j.simpleStringWithNodeId()}"))
        else None
      case _ => Seq.empty
    }
  }
}

/** Post-execution lint of the FINAL optimized plan — the plan that
  * actually ran, after every bounding rewrite. Error findings log and
  * bump [[ScaleLint.errorCount]] (the `lint_errors` tripwire the engine's
  * Bench/Verify sessions surface). Register via
  * `spark.sql.queryExecutionListeners=graft.plans.GraftLintListener` or
  * `spark.listenerManager.register(new GraftLintListener)`. Dispatch is
  * async on the listener bus — drain it before reading the counter. */
class GraftLintListener
    extends org.apache.spark.sql.util.QueryExecutionListener {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = {
    (ScaleLint.lint(qe.optimizedPlan) ++
        ScaleLint.lintPhysical(qe.executedPlan)).foreach { f =>
      if (f.severity == ScaleLint.Error) ScaleLint.errorCount.incrementAndGet()
      log.warn(s"[scale-lint] ${f.severity}/${f.rule}: ${f.detail}")
    }
  }
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()
}
