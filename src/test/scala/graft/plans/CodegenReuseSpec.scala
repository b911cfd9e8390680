package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.CleanerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{QueryCatalog, SparkSuite}

/** Tripwires for the `dedup_search` benchmark queries' driver cost:
  *  - rebuilding a query must generate the same code, so Spark's codegen
  *    cache serves the second run and compiles nothing (with code that
  *    differs per build, no cache size helps);
  *  - a builder only plans: no dedup_search query starts a Spark job
  *    before its result is materialized (no eager barrier, no eager
  *    index build). */
class CodegenReuseSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"
  private val dedupSearch = Seq("q31_minhash_neardup", "q39_simhash_neardup",
    "q59_bpe_tokens", "q120_ivfpq_topk", "q214_string_metrics")

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(q: String): Long = {
    val before = compiled
    QueryCatalog.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    compiled - before
  }

  test("a dedup_search query rebuilt and run again compiles no generated class") {
    dedupSearch.foreach { q =>
      val first = run(q)
      val second = run(q)
      info(s"$q: $first classes compiled on the first run, $second on the second")
      assert(second === 0L, s"$q generated different code on its second build")
    }
  }

  test("no dedup_search query's builder starts a Spark job") {
    val sc = spark.sparkContext
    dedupSearch.foreach { q =>
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      CleanerBridge.waitListenerBusEmpty(sc)
      sc.addSparkListener(listener)
      try {
        QueryCatalog.queries(q)(spark, dir)
        CleanerBridge.waitListenerBusEmpty(sc)
      } finally sc.removeSparkListener(listener)
      assert(jobs.get === 0, s"$q's builder started ${jobs.get} Spark job(s)")
    }
  }
}
