package graft

/** Performance guardrail: headline queries must not regress >2× against the
  * committed baseline (`bench/baseline.json`, snapshotted from the round-1
  * driver bench at sf0.1, local[32]). Runs warm (one untimed pass first), so
  * a warm run beating the COLD baseline's 2× bar is a conservative check; a
  * 1-second absolute floor absorbs timer/GC noise on sub-second queries.
  * Update the baseline file deliberately when a query's cost model changes —
  * never to paper over an accidental regression.
  */
class BenchGuardSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.1"

  private def baseline(): Map[String, Double] = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("bench/baseline.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    raw""""(q\w+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  test("baselined queries stay within 2x of the committed bench baseline") {
    val lost = AccumulatorErrors.during(guardBaselines())
    assert(lost.isEmpty,
      s"accumulator updates lost during the timed pass:\n${lost.distinct.take(5).mkString("\n")}")
  }

  private def guardBaselines(): Unit = {
    val base = baseline()
    // guard every query listed in the baseline file (headliners + the
    // heavies whose cost model we deliberately locked in)
    val guarded = QueryCatalog.all.filter(q => base.contains(q.name))
    assert(guarded.nonEmpty)
    // MACHINE-FACTOR NORMALIZATION (the graft.Bench calib story applied
    // to the guard): baselines were recorded at calibrate() ≈ 0.25–0.35 s
    // on this host class. A shared host can degrade uniformly 2–3× for
    // minutes at a time (measured: calib 0.71 during one full-suite run),
    // which best-of-3 retries cannot absorb because the slowdown is
    // PERSISTENT, not a spike — so budgets scale by the live machine
    // factor, floored at 1 so a fast machine never loosens the bar.
    // Take the MIN of three samples (a single noisy-high calibrate — GC
    // pause, transient contention — would otherwise inflate every budget
    // for the whole run) and CAP the factor at 3×: past that the host is
    // too degraded for any timing to mean anything, and an uncapped
    // factor silently disables the guard. Log what was applied so an
    // inflated run is visible in test output.
    // PER-SEGMENT re-probe (the r13 lesson — calib drifted 1.41× MID-run):
    // a single up-front factor goes stale over a ~194-query pass, so the
    // factor refreshes every Bench.CalibEvery guarded queries; min of the
    // window's samples, clamped to [1, 3].
    Bench.calibrate(spark) // pay the calibration plan's own JIT untimed
    var calibSamples = Seq.fill(3)(Bench.calibrate(spark))
    var machineFactor = math.min(3.0, math.max(1.0, calibSamples.min / 0.30))
    info(f"initial machine factor ${machineFactor}%.2f " +
      s"(calib samples ${calibSamples.map(c => f"$c%.3f").mkString(", ")})")
    def timeOnce(q: graft.Q): Double = {
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val failures = guarded.zipWithIndex.flatMap { case (q, qi) =>
      if (qi > 0 && qi % Bench.CalibEvery == 0) {
        calibSamples = Seq.fill(2)(Bench.calibrate(spark))
        machineFactor = math.min(3.0, math.max(1.0, calibSamples.min / 0.30))
        info(f"segment $qi: machine factor refreshed to ${machineFactor}%.2f")
      }
      base.get(q.name).flatMap { b =>
        q.fn(spark, sfDir).count() // warmup: JIT + codegen + file listing
        val budget = math.max(2.0 * b, b + 1.0) * machineFactor
        // a real regression is reproducible; a single over-budget timing
        // under full-suite contention is not — retry only the over-budget
        // case, best of 3 decides
        var sec = timeOnce(q)
        if (sec > budget) sec = math.min(sec, math.min(timeOnce(q), timeOnce(q)))
        if (sec <= budget) None
        else {
          // persistent over-budget: re-probe the machine AT THIS INSTANT
          // before declaring a regression. The per-segment factor goes
          // stale within a segment — under full-suite load (GC pressure,
          // RocksDB background threads from the streaming suites) a spike
          // can start mid-segment, and a real regression is load-invariant
          // while this class isn't. The live factor never goes BELOW the
          // segment factor, so a quiet machine keeps the tight bar.
          val live = math.min(3.0,
            math.max(machineFactor, Seq.fill(2)(Bench.calibrate(spark)).min / 0.30))
          val budget2 = math.max(2.0 * b, b + 1.0) * live
          if (sec > budget2)
            Some(f"${q.name}: ${sec}%.2f s > budget ${budget2}%.2f s " +
              f"(baseline $b%.2f s, live factor $live%.2f)")
          else {
            info(f"${q.name}: ${sec}%.2f s over the segment bar but within the " +
              f"live-probed bar ${budget2}%.2f s (transient load, factor $live%.2f)")
            None
          }
        }
      }
    }
    assert(failures.isEmpty, s"bench regression:\n${failures.mkString("\n")}")
  }
}
