package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Similarity.{dot, l2Norm}

/** Reference formulations of [[Similarity]]'s native operators: the
  * higher-order-function (HOF) trees the fused expressions in
  * [[graft.functions]] are pinned bit-equal against (SimilaritySpec,
  * CodegenSpec), and the round-based MMR the fused aggregator is pinned
  * against (MmrSpec). Interpreted — references only, never a hot path.
  */
object SimilarityRefs {

  /** `dot/(‖a‖·‖b‖)` in HOFs — [[Similarity.cosine]]'s reference. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** `‖a‖² − 2a·b + ‖b‖²` in HOFs — [[Similarity.sqDist]]'s reference. */
  def sqDistHof(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Deterministic pseudo-random hyperplane component in [-1, 1): derived
    * from (plane, dim) via xxhash64 so every executor materializes identical
    * planes with zero driver state shipped. */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(2000001L)) - lit(1000000L)).cast("double") / 1000000.0

  /** HOF formulation of [[Similarity.hyperplaneSignature]]. */
  def hyperplaneSignatureHof(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec,
          transform(sequence(lit(0), size(vec) - 1), d => planeComponent(planeOffset + p, d)),
          (x, h) => x.cast("double") * h),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** HOF formulation of [[Similarity.randomProject]]. */
  def randomProjectHof(vecs: DataFrame, idCol: String, vecCol: String,
      dOut: Int): DataFrame =
    vecs.select(col(idCol),
      expr(
        s"""transform(sequence(0, ${dOut - 1}), i ->
            aggregate(sequence(0, size($vecCol) - 1), CAST(0 AS BIGINT),
              (acc, j) -> acc
                + CAST(floor(CAST(element_at($vecCol, j + 1) AS DOUBLE)
                    * 1000000.0) AS BIGINT)
                  * (1 - 2 * (((j * 1000003 + i) * 2654435761)
                      % 1000000007 % 2))))""").as("proj"))

  /** Round-based MMR: the same selection rule as
    * [[Similarity.mmrTopKFused]] as plain DataFrame rounds — a
    * poolSize²-per-query pair matrix of native [[Similarity.cosine]]
    * values, then k keyed rounds, each an equi-join + per-query window,
    * every pick localCheckpointed so the k-round lineage stays linear.
    * MmrSpec pins both forms to a sequential greedy, so they pin each
    * other. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int, poolSize: Int,
      lambda: Double): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need poolSize >= k >= 1, got k=$k pool=$poolSize")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val pool = Similarity.bruteForceTopK(corpus, queries, poolSize)
      .join(corpus, "id")
      .select(col("qid"), col("id"), col("sim"), col("vec"))
      .barrier()
    val pairs = pool.select(col("qid"), col("id").as("ia"), col("vec").as("va"))
      .join(pool.select(col("qid").as("qb"), col("id").as("ib"), col("vec").as("vb")),
        col("qid") === col("qb") && col("ia") =!= col("ib"))
      .select(col("qid"), col("ia"), col("ib"), Similarity.cosine(col("va"), col("vb")).as("psim"))
      .barrier()

    var selected: DataFrame = null
    var remaining = pool.select(col("qid"), col("id"), col("sim"))
    var round = 1
    while (round <= k) {
      val scored =
        if (selected == null) // first pick: pure relevance (empty-set max term is 0)
          remaining.withColumn("mmr", col("sim") * lambda)
        else {
          val div = pairs
            .join(selected.select(col("qid").as("qs"), col("id").as("sel_id")),
              col("qid") === col("qs") && col("ib") === col("sel_id"))
            .groupBy(col("qid"), col("ia"))
            .agg(max(col("psim")).as("div"))
            .withColumnRenamed("ia", "id")
          remaining.join(div, Seq("qid", "id"), "left")
            .withColumn("mmr",
              col("sim") * lambda - (lit(1.0) - lambda) * coalesce(col("div"), lit(0.0)))
        }
      val w = Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("id"))
      val pick = scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid"), col("id"), col("sim"), col("mmr"),
          lit(round.toLong).as("pick"))
        .barrier()
      selected = if (selected == null) pick else selected.unionByName(pick)
      remaining = remaining.join(pick.select(col("qid"), col("id")),
        Seq("qid", "id"), "left_anti")
      round += 1
    }
    selected.select(col("qid"), col("pick"), col("id"), col("sim"), col("mmr"))
  }
}
