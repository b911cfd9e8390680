package graft.ext

import graft.{SparkSuite, Tables}
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental aggregate maintenance ([[IncrementalAgg]]): extension ==
  * rebuild bit-for-bit, replay idempotency via the commit log, and
  * history survival.
  */
class IncrementalAggSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-incragg").toString + "/agg"

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select($"l_returnflag", $"l_linestatus", $"n_rows",
        $"sum_val".cast("string"), $"min_val", $"max_val")
      .as[(String, String, Long, String, Double, Double)].collect().toSet

  test("three-batch extension == one-shot aggregation, decimal-exact") {
    val base = tmp()
    val li = Tables.load(spark, sf("li"), "lineitem")
    (0L until 3L).foreach { b =>
      assert(IncrementalAgg.update(spark, base,
        li.filter(pmod($"l_linenumber", lit(3)) === b),
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice", b))
    }
    val oneShot = li.groupBy($"l_returnflag", $"l_linestatus").agg(
      count(lit(1)).as("n_rows"),
      sum($"l_extendedprice".cast("decimal(28,2)")).cast("decimal(28,2)").as("sum_val"),
      min($"l_extendedprice").as("min_val"),
      max($"l_extendedprice").as("max_val"))
    assert(canon(IncrementalAgg.read(spark, base).get) === canon(oneShot))
  }

  test("replayed batch is a no-op: recognized by batchId, no new commit, same result") {
    val base = tmp()
    val li = Tables.load(spark, sf("li"), "lineitem").limit(100)
    assert(IncrementalAgg.update(spark, base, li, Seq("l_returnflag"), "l_quantity", 7L))
    val v1 = VersionedTable.currentVersion(spark, base)
    val r1 = canon2(IncrementalAgg.read(spark, base).get)
    // at-least-once delivery replays batch 7
    assert(!IncrementalAgg.update(spark, base, li, Seq("l_returnflag"), "l_quantity", 7L))
    assert(VersionedTable.currentVersion(spark, base) === v1)
    assert(canon2(IncrementalAgg.read(spark, base).get) === r1)
  }

  private def canon2(df: org.apache.spark.sql.DataFrame) =
    df.select($"l_returnflag", $"n_rows", $"sum_val".cast("string"))
      .as[(String, Long, String)].collect().toSet

  test("aggregate history survives: each batch is one versioned commit") {
    val base = tmp()
    val li = Tables.load(spark, sf("li"), "lineitem")
    IncrementalAgg.update(spark, base, li.filter($"l_linenumber" === 1),
      Seq("l_returnflag"), "l_quantity", 0L)
    IncrementalAgg.update(spark, base, li.filter($"l_linenumber" === 2),
      Seq("l_returnflag"), "l_quantity", 1L)
    assert(VersionedTable.appliedBatches(spark, base) === Set(0L, 1L))
    // time travel: version 0 holds only batch 0's rows
    val v0 = VersionedTable.readVersion(spark, base, 0L)
    val n0 = li.filter($"l_linenumber" === 1).count()
    assert(v0.agg(sum($"n_rows")).head.getLong(0) === n0)
  }
}
