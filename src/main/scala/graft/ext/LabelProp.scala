package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation over an edge list — community detection
  * for the derived entity graphs ([[PageRank]]'s importance, this
  * module's grouping): every node starts as its own label (its id) and
  * each round adopts the most frequent label among its neighbors,
  * deterministic tiebreak (higher count wins, then the SMALLEST label —
  * communities converge toward their minimum member id, the
  * [[Components]] labeling convention). A fixed synchronous round count
  * makes the algorithm a pure integer recurrence: label counts are exact
  * BIGINT aggregation, argmax is (count, −label) max — order-free and
  * engine-portable, so a SQL oracle can unroll the same rounds as plain
  * CTE stages (the [[PageRank]] trick; classic async LPA with random
  * visit order is unreproducible by construction).
  *
  * Per round: labels ⋈ edges on src (shuffles only the two-column label
  * table), count per (dst, label), argmax per dst — all keyed shuffles
  * with map-side partials, O(|E|) per round, no driver paths. The edge
  * list is materialized once; callers pass SYMMETRIZED edges (both
  * directions) so adoption is mutual and every node has neighbors.
  */
object LabelProp {

  /** Labels after `iters` synchronous rounds.
    * @param edges (src: long, dst: long), symmetrized.
    * @return (node: long, label: long). */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    // pinned hash-partitioned + sorted on src (r18, the PageRank fix; r19:
    // auto-sized width from TRUE materialized bytes — see
    // ScaleLint.barrierByKeySized): each round's label join then reads an
    // already co-partitioned, already sorted edge side instead of
    // re-shuffling and re-sorting the edge table once per round — rounds
    // shuffle only the label table.
    val (e, n) = graft.plans.ScaleLint.barrierByKeySized(
      edges.select(col("src"), col("dst")), "src", identity[DataFrame] _)
    val w = edges.sparkSession.sessionState.conf.numShufflePartitions
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (i <- 1 to iters) {
      // co-partition the node-sized label table with the pin: a width
      // mismatch would make EnsureRequirements re-shuffle the EDGE side
      // of every round's join (see PageRank.run). Round 1's init is
      // already pin-partitioned.
      val l = if (i == 1 || n == w) labels
        else labels.repartition(n, col("node"))
      labels = e.join(l, col("src") === col("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        // argmax, NOT max_by: the struct-buffered max_by plans as an
        // interpreted SortAggregate (functions/ArgExtremum); counts are
        // exact in double below 2^53, far above any degree here
        .agg(graft.functions.ArgExtremum.argmax(
          col("label"), col("c").cast("double")).as("label"))
        .select(col("dst").as("node"), col("label"))
    }
    labels
  }
}
