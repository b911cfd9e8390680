package graft.gen

import graft.plans.ScaleLint.BarrierSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic embedding corpus for ANN quality specs: component
  * (id, dim) is xxhash64-derived uniform in [-1, 1) — the
  * [[graft.ext.Similarity]] hyperplane recipe, so every executor (and every
  * run) materializes identical vectors with zero driver state, and corpus
  * size is a dial, not a dataset. Distribution matches the testdata's
  * near-orthogonal regime (i.i.d. components), i.e. the ANN worst case —
  * scale measurements on it are conservative. */
object VecGen {
  def vectors(spark: SparkSession, n: Long, d: Int): DataFrame =
    spark.range(n).select(col("id"),
      transform(sequence(lit(0), lit(d - 1)), dim =>
        (pmod(xxhash64(col("id"), dim), lit(2000001L)) - lit(1000000L))
          .cast("double") / 1000000.0).as("vec"))

  /** CLUSTERED deterministic corpus — the regime where coarse+residual
    * quantization has structure to exploit (the near-orthogonal
    * [[vectors]] is the no-structure worst case): vector `id` = center
    * `id % k` plus `spread`-scaled i.i.d. noise, both xxhash64-derived
    * (same zero-driver-state property as [[vectors]]). With `spread` well
    * under the ~O(√d) inter-center distance, true nearest neighbors are
    * intra-cluster — exactly the structure residual codebooks model. */
  def clusteredVectors(spark: SparkSession, n: Long, d: Int, k: Int,
      spread: Double): DataFrame = {
    def unit(seed: org.apache.spark.sql.Column, dim: org.apache.spark.sql.Column) =
      (pmod(xxhash64(seed, dim), lit(2000001L)) - lit(1000000L))
        .cast("double") / 1000000.0
    spark.range(n).select(col("id"),
      transform(sequence(lit(0), lit(d - 1)), dim =>
        unit(concat(lit("c"), pmod(col("id"), lit(k.toLong))), dim) +
          lit(spread) * unit(col("id"), dim)).as("vec"))
  }

  /** [[clusteredVectors]] with CORRELATED anisotropic within-cluster noise:
    * noise' = R·diag(s)·noise, where s is a geometric variance spectrum
    * (3·0.82ʲ) and R a dense deterministic orthonormal basis (Jacobi
    * eigenvectors of a seeded symmetric matrix). Every PQ-style coordinate
    * slice of the result sees a cross-correlated blend of all scales —
    * the covariance shape OPQ's decorrelate-and-balance exists for, and
    * the control corpus of QualityGuardSpec's OPQ floor (QUALITY.md's
    * *_aniso rows). Deterministic, zero driver state
    * beyond the d×d basis literal. */
  def correlatedClusteredVectors(spark: SparkSession, n: Long, d: Int,
      k: Int, spread: Double): DataFrame = {
    val symm0 = Array.tabulate(d, d)((i, j) =>
      (((i * j + i + j) % 13) + ((i + 2) * (j + 2) % 7)) * 0.1)
    val (_, rBasis) = graft.ext.Pca.jacobiEigen(
      Array.tabulate(d, d)((i, j) => symm0(i)(j) + symm0(j)(i)))
    val sArr = Array.tabulate(d)(j => 3.0 * math.pow(0.82, j))
    val centers = clusteredVectors(spark, n, d, k, 0.0)
      .select(col("id"), col("vec").as("cvec0"))
    // pin the scaled-noise array before the d mixing dot products read it
    // (the SCALING.md HOF-inlining rule)
    val scaled = clusteredVectors(spark, n, d, k, spread)
      .join(centers, Seq("id"))
      .withColumn("scaled", zip_with(
        zip_with(col("vec"), col("cvec0"), (x, c) => x - c),
        typedlit(sArr.toSeq), (x, s) => x * s))
      .barrier()
    val mixed = (0 until d).map { i =>
      aggregate(zip_with(col("scaled"), typedlit(rBasis(i).toSeq),
        (x, r) => x * r), lit(0.0), (a, x) => a + x)
    }
    scaled.select(col("id"),
      zip_with(col("cvec0"), array(mixed: _*), (c, x) => c + x).as("vec"))
  }
}
