package graft.ext

import scala.util.Random

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** [[Dedup.bucketPairs]] and [[Dedup.bucketPayloadPairs]] (one aggregate
  * per bucket) against the band self-join forms in [[DedupRefs]], row for
  * row, on hand-built edge cases and on generated bucket tables. */
class BucketPairsSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("bucket", LongType), StructField("id", LongType),
    StructField("payload", LongType)))

  private def table(rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (b, i, p) => Row(b, i, p) }, 3), schema)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def sameRows(got: DataFrame, ref: DataFrame, what: String): Seq[String] = {
    assert(got.schema.map(f => (f.name, f.dataType)) === ref.schema.map(f => (f.name, f.dataType)),
      s"$what: schema")
    val g = rows(got)
    assert(g === rows(ref), s"$what: rows differ from the self-join form")
    g
  }

  private def L(v: Long): java.lang.Long = v
  private val NULL: java.lang.Long = null

  /** maxBucketSize 4. Bucket 1: a repeated id (two payloads); 2: a null id;
    * 3: a singleton; 4: exactly 4 rows; 5: 5 rows; 6: 4 ids plus a null
    * id; 7: 4 distinct ids over 5 rows; 8: repeats bucket 1's pair; then a
    * null bucket and a bucket of null ids. */
  private val edges = table(
    Seq((L(1), L(1), L(7)), (L(1), L(1), L(8)), (L(1), L(2), L(14)),
      (L(2), NULL, L(0)), (L(2), L(3), L(21)), (L(2), L(4), L(28)),
      (L(3), L(5), L(35))) ++
    (10L to 13L).map(i => (L(4), L(i), L(i * 7))) ++
    (20L to 24L).map(i => (L(5), L(i), L(i * 7))) ++
    (30L to 33L).map(i => (L(6), L(i), L(i * 7))) ++ Seq((L(6), NULL, L(0))) ++
    Seq(40L, 40L, 41L, 42L, 43L).map(i => (L(7), L(i), L(i * 7))) ++
    Seq((L(8), L(1), L(7)), (L(8), L(2), L(14)),
      (NULL, L(50), L(1)), (NULL, L(51), L(2)),
      (L(9), NULL, L(0)), (L(9), NULL, L(0))))

  test("capped form: edge-case buckets give the self-join's pairs") {
    val got = sameRows(Dedup.bucketPairs(edges.drop("payload"), 4),
      DedupRefs.cappedBucketPairsSelfJoin(edges.drop("payload"), 4), "capped")
    val expected = (Seq((1, 2), (3, 4)) ++
      (for (a <- 10 to 13; b <- a + 1 to 13) yield (a, b)))
      .map { case (a, b) => Row(a.toLong, b.toLong).toString }.sorted
    assert(got === expected, "buckets 5, 6 and 7 exceed the cap; 3 and 9 have no pair")
  }

  test("uncapped form: edge-case buckets give the self-join's payload pairs") {
    val got = sameRows(Dedup.bucketPayloadPairs(edges),
      DedupRefs.bucketPayloadPairsSelfJoin(edges), "uncapped")
    assert(got.contains(Row(1L, 2L, 7L, 14L).toString) &&
      got.contains(Row(1L, 2L, 8L, 14L).toString),
      "each payload of a repeated id pairs once")
    assert(got.exists(_.startsWith("[20,24,")), "no cap in the uncapped form")
  }

  test("both forms equal the self-join forms on generated bucket tables") {
    for (seed <- 1 to 4) {
      val rnd = new Random(seed)
      val nBuckets = 6 + rnd.nextInt(10)
      val gen = Seq.fill(40 + rnd.nextInt(60)) {
        val b = if (rnd.nextInt(20) == 0) NULL else L(rnd.nextInt(nBuckets).toLong)
        val i = if (rnd.nextInt(10) == 0) NULL else L(rnd.nextInt(30).toLong)
        val p = if (i == null) NULL else L(i * 3 + rnd.nextInt(2))
        (b, i, p)
      }
      val df = table(gen)
      for (cap <- Seq(2, 5, 8))
        sameRows(Dedup.bucketPairs(df.drop("payload"), cap),
          DedupRefs.cappedBucketPairsSelfJoin(df.drop("payload"), cap),
          s"seed $seed, cap $cap")
      sameRows(Dedup.bucketPayloadPairs(df), DedupRefs.bucketPayloadPairsSelfJoin(df),
        s"seed $seed, uncapped")
    }
  }
}
