package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — iterative graph analytics beyond the
  * reachability class [[Components]] covers: a per-node IMPORTANCE score
  * (stationary mass of the damped random walk), the standard centrality
  * measure for entity graphs a training-data pipeline derives (co-purchase
  * / co-occurrence / citation networks), used to weight or filter sources
  * by authority.
  *
  * Arithmetic is INTEGER-EXACT by construction: ranks are BIGINT
  * micromass units (`scale` total ≈ 1.0), every division is a floor
  * division, and every per-iteration sum is a BIGINT sum — associative
  * and order-free, so Spark's partial aggregation over any partitioning
  * produces bit-identical ranks to a serial engine evaluating the same
  * recurrence (the DuckDB oracle re-derives all iterations with `//`).
  * Floating-point PageRank cannot make that promise: the neighbor-sum's
  * rounding depends on reduction order. The floor divisions leak ≤1 unit
  * of mass per (edge + node) per iteration — at `scale`=1e12 a relative
  * error ≤ ~1e-6 for million-edge graphs, far below ranking resolution,
  * and identically reproduced by any engine implementing the same
  * recurrence.
  *
  * Per iteration the plan is: ranks ⋈ edges on src (hash join, shuffles
  * only the rank table — two narrow columns), per-edge floor-div
  * contribution, one keyed sum onto dst (partial agg map-side). Cost is
  * O(|E|) per iteration with no global sorts and no driver data paths;
  * the edge list (with out-degrees attached) is materialized ONCE via
  * localCheckpoint so iterations don't re-derive it, and the rank
  * recurrence chains lazily (a fixed small iteration count keeps the
  * linear plan cheap to analyze; a long-running variant would checkpoint
  * ranks every ~5 rounds exactly as [[Components]] does per-round).
  *
  * Dangling nodes: callers pass a SYMMETRIZED edge list (both directions
  * of each undirected edge) so every node has out-degree ≥ 1 and the
  * walk is ergodic without a dangling-mass redistribution term; the
  * teleport term `(1-d)/n` is folded in as an integer constant.
  */
object PageRank {

  /** Ranks after `iters` damped power-method rounds.
    *
    * @param edges (src: long, dst: long) directed edges; every node that
    *              appears must have out-degree ≥ 1 (symmetrize first).
    * @return (node: long, rank: long) — rank in units of `scale`⁻¹.
    */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
      dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // ONE materialization of the caller's edge derivation, auto-width pin
    // (r19). The r18 shape evaluated `edges` twice (degree aggregate +
    // pinned join) and pinned at the session shuffle width, which at bench
    // scale made every iteration stage `numShufflePartitions` tasks of
    // mostly fixed overhead. Now: the edges materialize once inside
    // barrierByKeySized (width from TRUE block bytes — scale-adaptive,
    // clamps to the session width for data-sized graphs), and out-degree is
    // attached by a count window partitioned on src INSIDE the pin job —
    // the window's required distribution and ordering are exactly the
    // pin's repartition+sort, so it streams with zero extra exchange, zero
    // extra sort, zero extra scan (bit-identical outd to the former join:
    // rows per src). Iterations re-read the pinned blocks — already
    // co-partitioned, already sorted — and shuffle only the two-column
    // rank table, the documented scale contract.
    val (ew, n) = graft.plans.ScaleLint.barrierByKeySized(edges, "src",
      (d: DataFrame) => d.withColumn("outd",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("src"))))
    val w = edges.sparkSession.sessionState.conf.numShufflePartitions
    // nodes = distinct src over the pin: partial+final aggregate with NO
    // exchange (the pin's HashPartitioning satisfies the distinct), and it
    // IS the node table (out-degree ≥ 1 by the symmetrization contract)
    val nodes = ew.select(col("src")).distinct()
    val nNodes = nodes.count()
    val base = scale / nNodes
    val teleport = (100 - dampingPct) * base / 100 // exact Long arithmetic
    var ranks = nodes.select(col("src").as("node"))
      .withColumn("rank", lit(base))
    for (i <- 1 to iters) {
      // co-partition the (node-sized) rank table with the pin: round i's
      // rank table comes off a session-width aggregate exchange, and a
      // width mismatch with the pin makes EnsureRequirements re-shuffle
      // the EDGE side of the join — the exact re-shuffle the pin exists to
      // remove. Round 1's init is already pin-partitioned; when the pin
      // width equals the session width the aggregate exchange already
      // matches and the extra repartition would be a redundant shuffle.
      val r = if (i == 1 || n == w) ranks
        else ranks.repartition(n, col("node"))
      ranks = ew.join(r, col("src") === col("node"))
        .select(col("dst"), expr("rank div outd").as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr(s"($dampingPct * s) div 100")).as("rank"))
    }
    ranks
  }

  /** PERSONALIZED PageRank: the damped walk restarts at a SEED SET
    * instead of uniformly — rank becomes proximity-to-the-seeds
    * (recommendation / related-entity expansion), not global authority.
    * Same integer micromass recurrence as [[run]] (bit-exact across
    * engines and partitionings); the teleport term lands only on seeds,
    * so the rank table holds ONLY REACHED nodes and stays SPARSE by
    * construction — PPR mass is local to the seeds' neighborhood, which
    * is exactly why the operator scales: per iteration the plan joins the
    * reached-set rank table (not |V| rows) against the edge list and
    * full-outer-merges the seed teleport back in.
    *
    * @param seeds single-column `node`; restricted to nodes present in
    *              the graph (a seed with no out-edges would strand mass).
    */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // single-materialization auto-width pin with window-attached
    // out-degree, exactly as in [[run]] (r19)
    val (ew, n) = graft.plans.ScaleLint.barrierByKeySized(edges, "src",
      (d: DataFrame) => d.withColumn("outd",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("src"))))
    val w = edges.sparkSession.sessionState.conf.numShufflePartitions
    // seed restriction semi-joins the zero-exchange node table derived
    // from the pin (never re-distincts the base edge derivation)
    val sd = seeds.select(col("node")).distinct()
      .join(ew.select(col("src").as("node")).distinct(),
        Seq("node"), "left_semi")
      .barrier(eager = true)
    val nSeeds = sd.count()
    require(nSeeds >= 1, "no seed appears in the graph")
    val base = scale / nSeeds
    val teleport = (100 - dampingPct) * base / 100
    val tele = sd.withColumn("tele", lit(teleport))
    var ranks = sd.withColumn("rank", lit(base))
    for (_ <- 1 to iters) {
      // co-partition the reached-set rank table with the pin (see [[run]])
      val r = if (n == w) ranks else ranks.repartition(n, col("node"))
      val walked = ew.join(r, col("src") === col("node"))
        .select(col("dst"), expr("rank div outd").as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          expr(s"($dampingPct * s) div 100").as("walk"))
      ranks = walked.join(tele, Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("walk"), lit(0L)) + coalesce(col("tele"), lit(0L)))
            .as("rank"))
    }
    ranks
  }
}
