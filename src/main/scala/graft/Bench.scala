package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one warmup pass (JIT + codegen compile + file-index
  * caches), then a timed pass; prints the driver-contract JSON line.
  *
  * The JSON carries `calib_pre`/`calib_post`: wall seconds for a FIXED
  * deterministic CPU-bound job (200M xxhash64 partial-agg) run before the
  * warmup and after the timed pass. Adjacent full-catalog runs on this
  * shared host were measured drifting by a uniform ~1.35× with zero
  * per-query spikes — machine-level speed variance, not harness noise.
  * The calibration pins the machine factor of THIS run so cross-run and
  * cross-round comparisons can normalize it out instead of misreading
  * global drift as regression.
  */
object Bench {

  /** Fixed CPU-bound calibration: data-independent, shuffle-free (one
    * partial-agg row per partition), same cost every run on equal
    * hardware. The hash is masked to 32 bits before summing — 2e8 raw
    * xxhash64 longs overflow the Long sum almost surely, which ANSI mode
    * (Spark 4's default) turns into a run-killing error; the masked sum
    * peaks at ~2^59 and the per-row cost is unchanged. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(200000000L)
      .select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFFFFFL)))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** How often a calib probe is interleaved into the timed pass. r13's
    * driver run drifted 1.41× MID-run with only endpoint probes, so
    * per-query normalization was blind interpolation across 194 queries;
    * a probe every 25 localizes drift to a segment. */
  val CalibEvery = 25

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = driverSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // optional arg: comma-separated substring filters for targeted timing
    // (dev tool; the driver invokes with no args = full catalog)
    val qs = args.headOption match {
      case Some(f) =>
        val fs = f.split(',').toSeq
        SparkEntry.queries.filter(q => fs.exists(q._1.contains))
      case None => SparkEntry.queries
    }
    // first calibrate() pays the calibration query's own JIT/codegen
    // compile (~10× the steady-state reading) — warm it untimed so
    // calib_pre measures the machine, not the compiler
    calibrate(spark)
    val calibPre = calibrate(spark)
    qs.foreach { case (_, fn) => // warmup
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      Housekeeping.releaseAndSettle(spark) // don't let one query's residue time the next
    }
    // A query that THROWS records -1, never its time-to-exception: an
    // exception in 0.1s would otherwise read as a 0.1s run and rc 0 would
    // mask a broken catalog (exactly how r10's 14 events-reader failures
    // hid inside a green-looking BENCH artifact). Failures are also listed
    // by name so the artifact is self-diagnosing.
    //
    // BEST-OF-2 per query: three straight rounds saw single-query 2–3.8×
    // spikes (GC / machine scheduling) manufacture false regression marks
    // that a same-session rerun couldn't reproduce. The min of two
    // back-to-back reps discards a one-off spike while an honest
    // regression shows in both reps; reps run adjacent so they see the
    // same machine state, and Housekeeping separates queries, not reps.
    // calib probes interleave every CalibEvery queries; the raw series is
    // recorded as calib_series
    val probes = scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, calibPre))
    val results = qs.toSeq.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && qi % CalibEvery == 0) probes += ((qi, calibrate(spark)))
      val reps = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) dt else -1.0
      }
      Housekeeping.releaseAndSettle(spark) // outside the timed section
      val good = reps.filter(_ >= 0)
      name -> (if (good.nonEmpty) good.min else -1.0)
    }
    val calibPost = calibrate(spark)
    probes += ((qs.size, calibPost))
    val calibJson = probes.map { case (i, c) => s"[$i,$c]" }.mkString("[", ",", "]")
    val failures = results.collect { case (k, v) if v < 0 => k }.toSeq
    val fjson = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qjson = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // the lint listener dispatches async on the listener bus — drain it so
    // the tripwire has seen every executed plan before we read it
    org.apache.spark.graft.CleanerBridge.waitListenerBusEmpty(spark.sparkContext)
    val lintErrors = graft.plans.ScaleLint.errorCount.get()
    val line = s"""{"metric":"total","value":$total,"unit":"sec","calib_pre":$calibPre,"calib_post":$calibPost,"calib_series":$calibJson,"n_failed":${failures.size},"failures":$fjson,"lint_errors":$lintErrors,"queries":$qjson,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH artifact truncates the per-query map; persist the
    // full map so later rounds can diff EVERY query, not a visible suffix.
    try {
      val out = java.nio.file.Paths.get("bench/last_run.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // never fail the bench over a log file
    // The driver records only the last ~2000 chars of stdout, so the full
    // line above never parses in its artifact (its head is cut mid-map).
    // Emit a COMPACT line — headline queries only, small enough to sit
    // whole inside the tail window — so BENCH_rN.json self-parses; the full
    // per-query map lives in bench/last_run.json (and the full line above).
    // It must be the VERY LAST stdout: r10's compact line landed in the
    // tail but sbt's [success] epilogue followed it and the driver parsed
    // null — so print it AFTER spark.stop() (whose shutdown chatter goes
    // to stderr/log4j, not stdout) as the final act of main.
    // No per-query map here — even the 5-headline subset pushed past what
    // the tail window reliably holds; everything per-query lives in
    // bench/last_run.json. Failure NAMES are capped at 5 (count is always
    // exact in n_failed) to bound the line under ~500 bytes.
    val fCapped = failures.take(5).map("\"" + _ + "\"").mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","calib_pre":$calibPre,"calib_post":$calibPost,"n_failed":${failures.size},"failures":$fCapped,"lint_errors":$lintErrors,"n_queries":${results.size},"full":"bench/last_run.json","sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("bench/summary.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (compact + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    println(compact)
    System.out.flush()
  }

  /** The one definition of the library's session: [[Bench]], [[Verify]]
    * and the tier-1 suites (`SparkSuite`) all build it here, so the plans
    * the tests check, the oracle dump checks and this timer times come from
    * one configuration. Its only parameter is the core count; the log level
    * is the caller's (it changes no plan). Each setting and why:
    *  - `local[cores]` with one shuffle partition per core: a local run
    *    sized to the cores it is given.
    *  - AQE on, and shuffled hash join allowed wherever its size conditions
    *    hold (`preferSortMergeJoin=false`, adopted in r19 after a controlled
    *    full-catalog A/B; see OPTIMIZATION_r19.md §7). SHJ is chosen only
    *    when a build side fits per-task memory (canBuildLocalHashMapBySize),
    *    so this does not license unbounded builds at 100 TB; SMJ remains
    *    the fallback.
    *  - UTC session time zone and µs-typed parquet timestamps (not INT96),
    *    so the oracle's arrow schema (timestamp[us]) and values match ours
    *    bit-for-bit.
    *  - `streaming.checkpoint.fileChecksum.enabled=false`: Spark 4.1's
    *    ChecksumCheckpointFileManager deadlocks awaiting its checksum
    *    future inside flatMapGroupsWithState state-store commits; plain
    *    checkpoint files restore the documented behavior.
    *  - `legacy.parquet.nanosAsLong=true`: nanosecond INT64 parquet
    *    timestamps read as raw longs instead of failing the read
    *    ([PARQUET_TYPE_ILLEGAL]); [[Tables.events]] floors them to µs and
    *    fails under a session without this setting.
    *  - a fresh temp `spark.sql.warehouse.dir`, so no run leaves a
    *    `spark-warehouse/` in its working directory; the UI off.
    *  - every executed query passes through the warn-only scale lint
    *    ([[graft.plans.GraftLintListener]]); error findings land in the log
    *    and their count is surfaced as `lint_errors`. */
  private[graft] def driverSession(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.queryExecutionListeners", "graft.plans.GraftLintListener")
      .getOrCreate()
}
