package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the dedup-clustering
  * step: near-dup PAIRS ([[Dedup.prefixJaccardPairs]],
  * [[Dedup.minhashNearDupsPortable]], [[Similarity.cosineNearDupPairs]])
  * become canonical GROUPS (component = min doc id reachable), from which
  * one representative per group survives.
  *
  * Algorithm: min-label propagation with POINTER JUMPING — every node
  * starts labeled with its own id; each round (a) takes the min of its
  * label and its neighbors' labels (one hash join + one groupBy), then
  * (b) shortcuts through its label's label (comp ← comp(comp), one more
  * hash join — valid because a label is always the id of a node in the
  * same component, so the label graph is a forest the jump halves in
  * height). Propagation alone needs DIAMETER rounds; with the jump each
  * round doubles the reach, so convergence is O(log diameter) — the same
  * bound class as the small-star/large-star contraction [Kiveris et al.],
  * with a simpler per-round plan (3 keyed shuffles, no re-keying of the
  * edge list). Long chains of pairwise-similar docs (the adversarial shape
  * for near-dup graphs) go from ~diameter rounds to a handful.
  *
  * Iterative DataFrame loops MUST materialize each round: checkpointing
  * truncates the lineage so round N's plan doesn't re-execute rounds
  * 1..N-1 (and convergence is detected on the driver from the
  * strictly-decreasing label sum — loop-carried control flow is the one
  * place a driver-side action is the correct tool, unlike a scalar that
  * can stay lazy). Durability is an EXPLICIT OPT-IN: set the session conf
  * `graft.cc.reliableCheckpoint=true` AND `sc.setCheckpointDir` — every
  * materialization in the loop (edge list + each round) then uses
  * RELIABLE `checkpoint` and survives executor loss, at the cost of a
  * recompute + DFS write per round, with superseded round FILES reclaimed
  * by `spark.cleaner.referenceTracking.cleanCheckpoints=true` (on driver
  * GC) or a post-job sweep of the dir — the in-code `release()` frees
  * only block-manager state. The conf gate (not the dir alone) keeps a
  * checkpoint dir configured for unrelated reasons from silently
  * converting every CC query to the 2-jobs-per-round durable mode.
  */
object Components {

  /** Materialize `df` via localCheckpoint and return it together with the
    * block-manager ids the checkpoint pinned, so a superseded round can be
    * freed. Iterative loops that never unpersist leak one materialized RDD
    * per round — across a query catalog (q63/q67/q71 all run CC) the
    * accumulated blocks crowd the block manager and slow every LATER query
    * (measured: q63 4.9 s standalone vs 13.4 s late in a full bench pass). */
  private def checkpointTracked(df: DataFrame): (DataFrame, collection.Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // LAZY checkpoint: the caller's next action (the convergence labelSum)
    // materializes the blocks AND computes the sum in ONE job — an eager
    // checkpoint spends a whole extra job per round just to materialize,
    // and at local[32] round cost is job latency, not data.
    // reliable when the caller opted in (cluster durability),
    // block-manager-local otherwise; the tracked-ids release only applies
    // to the local flavor (reliable rounds live as files — see the object
    // doc for how those are reclaimed)
    val out =
      if (reliableMode(df)) df.checkpoint(eager = false)
      else df.barrier()
    (out, sc.getPersistentRDDs.keySet.diff(before))
  }

  /** Durable-rounds opt-in. A caller that sets the conf flag has asked for
    * durability, so a missing checkpoint dir FAILS FAST here instead of
    * silently downgrading to block-manager-local checkpoints (the caller
    * would believe rounds survive executor loss when they don't). */
  private def reliableMode(df: DataFrame): Boolean = {
    val wantReliable =
      df.sparkSession.conf.get("graft.cc.reliableCheckpoint", "false").toBoolean
    if (wantReliable)
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "graft.cc.reliableCheckpoint=true but no checkpoint dir is configured; " +
          "call sparkContext.setCheckpointDir(...) or unset the flag")
    wantReliable
  }

  private def release(df: DataFrame, ids: collection.Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Edge-count gate below which the component computation collapses to a
    * driver-side union-find. Rationale: this operator runs on the
    * CONTRACTED near-dup graph (one node per unique token set, edges =
    * verified rep pairs) — metadata-sized even on dup-heavy corpora, and
    * 2M edges collect to ~32 MB. Below the gate, one collect + linear
    * union-find replaces O(log d) supersteps of 3 shuffles each; above it
    * (a 100 TB corpus whose verified-pair graph is itself huge) the
    * distributed label-propagation loop runs unchanged. The edge list is
    * already materialized when the gate is read, so the count is a
    * block-read, not an extra evaluation. */
  val SmallGraphMaxEdges: Long = 2L * 1000 * 1000

  /** nodes: (id); edges: (a, b) undirected (either orientation); every edge
    * endpoint must itself appear in `nodes` (edges ⊆ nodes × nodes) — an
    * unknown endpoint would propagate as a component label pointing at a
    * nonexistent node id. Output: (id, component) for EVERY node —
    * singletons keep their own id. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    // Checkpoint the edge list BEFORE mirroring it: the two orientations are
    // two branches of one union, and each branch would re-evaluate the
    // (potentially expensive — near-dup pair generation) upstream plan.
    // Materialize once, then both orientations read the checkpointed blocks.
    // (Pre-partitioning the static side on the join key was measured and
    // rejected: localCheckpoint does not carry the partitioning into the
    // next query's planning here, so the extra exchange is pure overhead.)
    // Same durability flavor as the rounds: a reliably-checkpointed loop
    // re-reads the edge list every superstep, so a block-manager-only edge
    // list would void the rounds' executor-loss guarantee.
    val e0 = edges.select(col("a"), col("b"))
    val e = if (reliableMode(e0)) e0.checkpoint() else e0.barrier(eager = true)
    val idIsLong = nodes.schema("id").dataType == org.apache.spark.sql.types.LongType
    // The gate counts RAW edges (null-endpoint rows included) while
    // smallGraphComponents drops them — a deliberate mismatch: the count's
    // job is to bound the driver collect, and the raw count is an upper
    // bound on what gets collected. A pathological null-heavy input only
    // errs toward the distributed path, never toward an oversized collect.
    if (idIsLong && e.count() <= smallGraphMaxEdges)
      return smallGraphComponents(nodes, e)
    // Both orientations from ONE Generate over the checkpointed blocks — NOT
    // the self-union `e.unionByName(e.select(b as a, a as b))`: the r16
    // catalog100x torture probe caught Spark's Union constraint rewrite
    // (UnionBase.rewriteConstraints) throwing `key not found: a#...` on that
    // shape — the swapped child's inferred constraints reference the shared
    // child plan's attributes, which the sibling's output map lacks. The
    // crash is masked below smallGraphMaxEdges (this path never ran), so it
    // surfaced only at 100× scale. Explode carries no cross-child
    // constraints and reads the blocks once.
    val undirected = e.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
    // Iterate ONLY over edge-touched nodes: a node with no edge can never
    // change its label, so singletons — the vast majority of a near-dup
    // graph at any real scale — are unioned back at the end with their own
    // id instead of riding every round's joins. Labels ∝ |touched nodes|,
    // not |corpus|.
    val allNodes = nodes.select(col("id"))
    val touched = undirected.select(col("a").as("id")).distinct()
    // Seed labels with the 1-hop minimum (min of own id and neighbor ids):
    // one aggregate over the edge list folded into the initial
    // materialization — saves a full propagation round. Restricting to
    // edge-touched ids also bounds the join: `touched` node ids ARE the
    // groupBy keys of this aggregate, so the semi-join is implicit.
    var (labels, labelsIds) = checkpointTracked(allNodes
      .join(undirected.groupBy(col("a").as("id")).agg(min(col("b")).as("nmin")),
        Seq("id"), "inner")
      .select(col("id"), least(col("id"), col("nmin")).as("comp")))
    // coalesce: sum over zero rows is NULL — an empty corpus must yield an
    // empty result, not an NPE at the convergence check.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("comp")), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    // One superstep: neighbor-min propagation, then a pointer jump. Nothing
    // in here is checkpointed: the jump join references prop twice, but both
    // sides shuffle the same subplan, so Catalyst's exchange reuse evaluates
    // it once.
    def superstep(l: DataFrame): DataFrame = {
      val neighborMin = undirected
        .join(l.withColumnRenamed("id", "b"), Seq("b"))
        .groupBy(col("a")).agg(min(col("comp")).as("ncomp"))
      val prop = l
        .join(neighborMin.withColumnRenamed("a", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jump: comp ← comp(comp). Left join is defensive — comp is
      // always a node id, so it always matches.
      prop
        .join(prop.select(col("id").as("comp"), col("comp").as("jcomp")),
          Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
    }
    // ONE superstep per materialization: fusing two into a single lazy plan
    // was measured slower — the outer step references the inner step's
    // output from several join sides, and without a materialization between
    // them the inner subplan re-evaluates per reference.
    while (!converged && it < maxIter) {
      val (updated, updatedIds) = checkpointTracked(superstep(labels))
      val newSum = labelSum(updated) // materialized: the previous round is now unreferenced
      release(labels, labelsIds)
      converged = newSum == prevSum // labels only ever decrease
      prevSum = newSum
      labels = updated
      labelsIds = updatedIds
      it += 1
    }
    labels.unionByName(
      allNodes.join(touched, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp")))
  }

  /** Small-graph path: collect the (materialized) edge list, run union-find
    * with path compression on the driver, emit min-id-per-component labels
    * for edge-touched nodes, and anti-join singletons back — value-identical
    * to the distributed fixpoint (component = min reachable id). The driver
    * is already in the loop for convergence detection on the distributed
    * path; here it does the whole (metadata-sized) graph in one pass. */
  private def smallGraphComponents(nodes: DataFrame, e: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // Match the distributed path's tolerance exactly: null endpoints are
    // dropped (the distributed joins never match them — collecting them here
    // would NPE), and label rows are semi-joined back against `nodes` below
    // so an edge endpoint absent from `nodes` (a contract violation) is
    // dropped on BOTH paths instead of surviving only on this one.
    val pairs = e.filter(col("a").isNotNull && col("b").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.get(root)
      var cur = x // path compression
      while (cur != root) { val next = parent.get(cur); parent.put(cur, root); cur = next }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // min-id root wins, so every root IS its component's min member
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val touched = new java.util.HashSet[Long]()
    pairs.foreach { case (a, b) => touched.add(a); touched.add(b) }
    val labels = scala.jdk.CollectionConverters
      .IteratorHasAsScala(touched.iterator()).asScala
      .map(id => (id, find(id))).toSeq
    val labelsDf = labels.toDF("id", "lab")
    // ONE scan of `nodes` with the (tiny) label table broadcast: a node with
    // a label takes it, everything else is a singleton. Driving from `nodes`
    // also drops labels for edge endpoints that are not nodes — the same
    // inner-join semantics the distributed path applies.
    nodes.select(col("id"))
      .join(broadcast(labelsDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("lab"), col("id")).as("comp"))
  }
}
