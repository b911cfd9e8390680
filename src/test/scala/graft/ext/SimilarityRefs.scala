package graft.ext

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Similarity.{dot, l2Norm, sqDist}

/** Reference formulations of [[Similarity]]'s native operators: the
  * higher-order-function (HOF) trees the fused expressions in
  * [[graft.functions]] are pinned bit-equal against (SimilaritySpec,
  * CodegenSpec), the round-based MMR the fused aggregator is pinned
  * against (MmrSpec), and the per-subspace union codebooks and join /
  * group-by IVF×PQ searches the one-projection forms are pinned row for
  * row against (SimilaritySpec). References only, never a hot path.
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

  /** [[Similarity.pqCodebooks]] as m separate plans, one per subspace
    * (each its own Lloyd run), joined by an m-way `unionByName`. */
  def pqCodebooksUnion(corpus: DataFrame, m: Int, ksub: Int, iters: Int): DataFrame =
    (0 until m).map { s =>
      val sub = corpus.select(col("id"), pqSlice(col("vec"), m, lit(s)).as("vec"))
      val init = sub.filter(col("id") < ksub)
        .select(col("id").cast("int").as("cid"), col("vec").as("cvec"))
      val book =
        if (iters <= 1) init
        else Similarity.kmeansUpdate(Similarity.kmeansLloyd(sub, init, iters - 1))
          .select(col("cid").cast("int").as("cid"), col("cvec"))
      book.select(lit(s).as("subspace"), col("cid"), col("cvec"))
    }.reduce(_.unionByName(_))

  /** [[Similarity.ivfPqTopK]] as a (qid, cid) probe set picked by a
    * barrier'd window, an index join on it, a (qid, subspace, code)
    * broadcast join to the ADC table and a (qid, id) decimal group-by. */
  def ivfPqTopKJoin(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, m: Int, k: Int, nProbe: Int = 2): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("d2c"), col("cid"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("d2c", sqDist(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cid"))
      .barrier()
    val qparts = queries.select(col("qid"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => pqSlice(col("qvec"), m, s))).as(Seq("subspace", "qsub")))
    val dtable = qparts.join(codebooks, Seq("subspace"))
      .select(col("qid"), col("subspace"), col("cid").as("code"),
        sqDist(col("qsub"), col("cvec")).as("d2"))
    val scored = index
      .join(broadcast(probes), Seq("cid"))
      .select(col("qid"), col("id"), posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(dtable), Seq("qid", "subspace", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(round(col("d2"), 6).cast(
        org.apache.spark.sql.types.DecimalType(28, 8))).cast("double").as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adc"))
  }

  /** [[Similarity.ivfPqResidualTopK]] (`model` None) and
    * [[Similarity.ivfPqOpqTopK]] as a barrier'd window of (qid, cid, qres)
    * probe rows, a (qid, cid, subspace, code) distance table joined to the
    * probed lists' exploded codes, and a (qid, id) decimal group-by. */
  def ivfPqResidualTopKJoin(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, model: Option[Pca.Model], m: Int, k: Int, nProbe: Int): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("d2c"), col("cid"))
    val probes0 = queries.crossJoin(broadcast(centroids))
      .withColumn("d2c", sqDist(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cid"),
        zip_with(col("qvec"), col("cvec"), (x, y) => x - y).as("qres"))
    val probes = model.fold(probes0)(mdl => Pca.project(probes0, "qres", mdl, "qrot")
        .select(col("qid"), col("cid"), col("qrot").as("qres")))
      .barrier()
    val qparts = probes.select(col("qid"), col("cid"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => pqSlice(col("qres"), m, s))).as(Seq("subspace", "qsub")))
    val dtable = qparts.join(
        broadcast(codebooks.withColumnRenamed("cid", "code")),
        Seq("subspace"))
      .select(col("qid"), col("cid"), col("subspace"), col("code"),
        sqDist(col("qsub"), col("cvec")).as("d2"))
    val scored = index
      .join(broadcast(probes.select(col("qid"), col("cid"))), Seq("cid"))
      .select(col("qid"), col("cid"), col("id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(dtable), Seq("qid", "cid", "subspace", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(round(col("d2"), 6).cast(
        org.apache.spark.sql.types.DecimalType(28, 8))).cast("double").as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adc"))
  }

  /** [[Similarity]]'s subspace slice: width ⌊d/m⌋, the last takes the rest. */
  private def pqSlice(vec: Column, m: Int, s: Column): Column = {
    val base = floor(size(vec) / m).cast("int")
    slice(vec, s * base + 1, when(s === m - 1, size(vec) - base * (m - 1)).otherwise(base))
  }
}
