package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.graft.CleanerBridge

import graft.Housekeeping

object Catalog {
  /** The catalog queries each workload times. relational: the TPC-H, Silver
    * and Gold queries, where scan, shuffle and planning do the work and the
    * native kernels do none. dedup_search: the LLM-data queries, bound by the
    * `functions` kernels and `ext` operators over a small input. */
  val workloads: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q1_pricing_summary", "q2_filter_project", "q3_star_revenue",
      "q5_window_rank", "q13_except", "q15_anti_join", "q22_customer_features"),
    "dedup_search" -> Seq("q31_minhash_neardup", "q39_simhash_neardup", "q59_bpe_tokens",
      "q120_ivfpq_topk", "q214_string_metrics"))

  /** Query order of one pass. The seed orders the timed passes (1, 2, ...);
    * the cold and warm-up passes run in catalog order, so every seed's JIT
    * compiles the same code paths in the same order. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    if (pass < 1) names else new scala.util.Random(seed * 1000003L + pass).shuffle(names)
}

/** A catalog workload: a cold pass (set-up) whose results are kept for the
  * DuckDB check, two untimed warm-up passes, then timed passes into a noop sink
  * until the time is up. */
final class Catalog(spark: SparkSession, c: BenchMain.Conf, rec: Recorder, names: Seq[String]) {
  import BenchMain._

  private val queries = graft.QueryCatalog.queries
  private val fns = names.map(n => n -> queries.getOrElse(n, sys.error(s"no query $n"))).toMap

  /** Builds, plans and materializes one query; returns (rows, seconds), or
    * the error. Only the build and the sink are timed. */
  private def runOp(name: String, sink: DataFrame => Unit): Either[String, (Long, Double)] =
    try {
      val obs = Observation()
      val (_, s) = time {
        val df = rec.span("build")(fns(name)(spark, c.data))
        rec.span("exec")(sink(df.observe(obs, count(lit(1)).as("rows"))))
      }
      Right((obs.get("rows").asInstanceOf[Long], s))
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def onePass(pass: Int, sink: String => DataFrame => Unit): Double = {
    var total = 0.0
    Catalog.order(names, c.seed, pass).foreach { n =>
      rec.spans.op += 1
      val r = rec.span("op")(runOp(n, sink(n)))
      Housekeeping.releaseAll(spark) // barriers pin the result referenced
      // outside the timer, a full GC and a drained cleaner keep one query's
      // garbage out of the next one's time (`Housekeeping.releaseAndSettle`
      // with a 50 ms quiet window in place of 200 ms, which keeps the run
      // within its time budget)
      if (pass >= 1) CleanerBridge.settle(spark.sparkContext, quietMs = 50)
      r match {
        case Right((rows, s)) => total += s; rec.op(pass, n, s, rows, None)
        case Left(e) => rec.op(pass, n, -1, -1, Some(e))
      }
    }
    total
  }

  def run(t0: Long): Unit = {
    // the cold pass materializes each result into the check directory, where
    // run.py compares it with DuckDB once the process has ended
    val checkDir = s"${c.work}/check"
    onePass(0, n => _.write.mode("overwrite").parquet(s"$checkDir/$n"))
    rec.put("setup_s", (System.nanoTime() - t0) / 1e9)
    rec.put("check_dir", checkDir)
    rec.put("oracle_sql", names.map(n => n -> graft.QueryCatalog.oracleSql.getOrElse(n, ""))
      .toMap)
    // two untimed passes more: the JIT is still compiling after the cold pass
    // (query times kept falling by up to ~30% a pass through the first two
    // warm passes, and how far they fell varied from run to run)
    Housekeeping.releaseAndSettle(spark)
    for (_ <- 1 to 2) onePass(-1, _ => noop)
    Housekeeping.releaseAndSettle(spark)
    HeapPeak.reset()
    rec.calibrate("calib_pre")
    val start = System.nanoTime()
    var pass = 1
    while (pass <= rec.minPasses || (System.nanoTime() - start) / 1e9 < c.seconds) {
      rec.setTracing(c.trace && pass % 4 >= 2)
      rec.pass(pass, onePass(pass, _ => noop))
      pass += 1
    }
    rec.setTracing(false)
    rec.calibrate("calib_post")
  }
}
