package graft.gen

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the synthetic corpus generators' distributional claims — the
  * clustered ANN fixtures of QualityGuardSpec and AnnIndexSpec rest on
  * them.
  */
class VecGenSpec extends SparkSuite {
  import spark.implicits._

  test("vectors: deterministic, bounded components, exact shape") {
    val a = VecGen.vectors(spark, 100, 8).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1)))
    val b = VecGen.vectors(spark, 100, 8).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1)))
    assert(a.toSeq === b.toSeq, "generation must be bit-deterministic")
    assert(a.forall(_._2.length == 8))
    assert(a.forall(_._2.forall(x => x >= -1.0 && x < 1.0)))
  }

  test("clusteredVectors: intra-cluster distances sit below inter-cluster distances") {
    val k = 4
    val cc = VecGen.clusteredVectors(spark, 200, d = 16, k = k, spread = 0.15)
      .withColumn("cluster", pmod(col("id"), lit(k.toLong)))
    // mean pairwise squared-L2 within clusters vs across clusters — the
    // structure residual quantization exploits must actually exist
    val pairs = cc.as("a").crossJoin(cc.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(
        (col("a.cluster") === col("b.cluster")).as("same"),
        graft.ext.Similarity.sqDist(col("a.vec"), col("b.vec")).as("d2"))
    val Array(intra, inter) = pairs.groupBy(col("same")).agg(avg(col("d2")))
      .collect().sortBy(!_.getBoolean(0)).map(_.getDouble(1))
    assert(intra < inter / 4,
      f"clustered corpus must have real structure: intra=$intra%.3f inter=$inter%.3f")
  }
}
