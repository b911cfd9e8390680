package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming._

/** Arbitrary per-key streaming state (SURVEY §2.8 ST8) via Spark 4's
  * `transformWithState` + `StatefulProcessor`.
  *
  * ST8 history: `flatMapGroupsWithState` deadlocks in this environment
  * (HDFS-backed state-store delta commits hang in the checksum checkpoint
  * manager; see round-1 notes). `transformWithState` runs on the
  * RocksDB state-store provider — a different commit path — and works;
  * the caller (or the query conf) must set
  * `spark.sql.streaming.stateStore.providerClass` to
  * [[Stateful.RocksDbProvider]] before starting the query, which is also
  * the provider you want at scale (incremental checkpoints, state larger
  * than heap, no JVM-heap eviction storms).
  */
object Stateful {

  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Per-key running (count, sum) over a Double metric — the canonical
    * "profile accumulator" shape (running per-merchant txn totals): state
    * is one fixed-width value per key, output is the refreshed profile on
    * every update. TTL bounds state for keys that go quiet (pass
    * `ttl = None` for unbounded retention). */
  class RunningTotalsProcessor(ttl: Option[java.time.Duration])
      extends StatefulProcessor[String, (String, Double), (String, Long, Double)] {
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttlConf = ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
      state = getHandle.getValueState[(Long, Double)](
        "totals", Encoders.product[(Long, Double)], ttlConf)
    }

    override def handleInputRows(
        key: String, rows: Iterator[(String, Double)],
        timerValues: TimerValues): Iterator[(String, Long, Double)] = {
      var (n, s) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { r => n += 1; s += r._2 }
      state.update((n, s))
      Iterator((key, n, s))
    }
  }

  /** Wire the processor onto a keyed stream: emits (key, running_count,
    * running_sum) per updated key per micro-batch (Update mode). */
  def runningTotals(
      keyed: KeyValueGroupedDataset[String, (String, Double)],
      ttl: Option[java.time.Duration] = None): Dataset[(String, Long, Double)] = {
    implicit val enc: Encoder[(String, Long, Double)] =
      Encoders.product[(String, Long, Double)]
    keyed.transformWithState(
      new RunningTotalsProcessor(ttl), TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING HEAVY HITTERS — the Space-Saving summary (Metwally 2005)
    * as per-shard streaming state: each shard key holds at most
    * `capacity` (item → (count, overestimate)) entries; a new item
    * beyond capacity evicts the (count, item)-minimum entry and inherits
    * its count as the overestimate bound. Guarantees, per shard: every
    * item with true frequency > N/capacity IS in the summary, and
    * true_count ∈ [count − overestimate, count]. This is the STREAMING
    * twin of q149's count-min (batch sketch → point estimates; here a
    * bounded top-k summary maintained incrementally, the RocksDB state
    * never exceeding capacity entries per shard).
    *
    * 100 TB shape: items are pre-sharded by hash (the caller keys the
    * stream by `hash(item) % nShards`), so state and per-batch work
    * spread across shards; a reader merges shard summaries (counts and
    * overestimates ADD — the standard mergeability of Space-Saving) for
    * the global view. Eviction ties break by item string, so the summary
    * is deterministic for a given arrival order. */
  class SpaceSavingProcessor(capacity: Int)
      extends StatefulProcessor[Int, (Int, String), (Int, String, Long, Long)] {
    @transient private var state: MapState[String, (Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getMapState[String, (Long, Long)](
        "ss", Encoders.STRING, Encoders.product[(Long, Long)], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Int, rows: Iterator[(Int, String)],
        timerValues: TimerValues): Iterator[(Int, String, Long, Long)] = {
      // load the (≤ capacity)-entry summary once, fold the batch in
      // memory, write back once — RocksDB round-trips per ROW would
      // dominate otherwise
      val m = scala.collection.mutable.Map[String, (Long, Long)]()
      state.iterator().foreach { case (k, v) => m(k) = v }
      rows.foreach { case (_, item) =>
        m.get(item) match {
          case Some((c, e)) => m(item) = (c + 1, e)
          case None if m.size < capacity => m(item) = (1L, 0L)
          case None =>
            val (evictItem, (minC, _)) =
              m.minBy { case (it, (c, _)) => (c, it) }
            m.remove(evictItem)
            state.removeKey(evictItem)
            m(item) = (minC + 1, minC)
        }
      }
      m.foreach { case (it, v) => state.updateValue(it, v) }
      m.iterator.map { case (it, (c, e)) => (key, it, c, e) }
    }
  }

  /** Wire Space-Saving onto a shard-keyed stream: emits every shard's
    * full summary per micro-batch (Update mode) as (shard, item, count,
    * overestimate). */
  def heavyHitters(
      keyed: KeyValueGroupedDataset[Int, (Int, String)],
      capacity: Int): Dataset[(Int, String, Long, Long)] = {
    implicit val enc: Encoder[(Int, String, Long, Long)] =
      Encoders.product[(Int, String, Long, Long)]
    keyed.transformWithState(
      new SpaceSavingProcessor(capacity), TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING CUSUM MONITOR — the incremental twin of the batch q184
    * changepoint statistic: per key, Cₜ = max(0, Cₜ₋₁ + (xₜ − μ)) with
    * the reference mean μ a constructor parameter (a monitor watches
    * deviations from a KNOWN baseline; the batch form derives μ from the
    * full series it already has). O(1) (count, cusum) state per key;
    * within a batch rows fold in (ts, event_id) order, so the statistic
    * BIT-matches the batch prefix fold at every micro-batch boundary —
    * the EWMA parity contract applied to a nonlinear recurrence. */
  class CusumProcessor(mu: Double)
      extends StatefulProcessor[Long, (Long, Long, Long, Double), (Long, Long, Double)] {
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[(Long, Double)](
        "cusum", Encoders.product[(Long, Double)], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, c) = if (state.exists()) state.get() else (0L, 0.0)
      // (key, ts, event_id, value) → event order within the batch
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
        n += 1; c = math.max(0.0, c + (r._4 - mu))
      }
      state.update((n, c))
      Iterator((key, n, c))
    }
  }

  /** Wire the CUSUM monitor onto a keyed stream of (key, ts, event_id,
    * value): emits (key, n_obs, cusum) per updated key per micro-batch. */
  def cusum(
      keyed: KeyValueGroupedDataset[Long, (Long, Long, Long, Double)],
      mu: Double): Dataset[(Long, Long, Double)] = {
    implicit val enc: Encoder[(Long, Long, Double)] =
      Encoders.product[(Long, Long, Double)]
    keyed.transformWithState(
      new CusumProcessor(mu), TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING KMV (k-minimum-values) — the bottom-k-by-hash distinct
    * sample + cardinality sketch (batch twin: q180) kept incrementally per
    * shard key: state is the ≤ k (hash, item) pairs with the smallest
    * portable-hash values seen so far. DETERMINISTIC by construction —
    * hash order is blind to arrival order, duplication, and micro-batch
    * slicing, so the streaming summary EQUALS the batch bottom-k of the
    * union of all batches (spec-pinned exact, not approximate), and
    * replay is idempotent with no extra machinery. Mergeable: bottom-k of
    * pooled shard summaries = bottom-k of the union (the [[graft.ext
    * .SpaceSaving.mergeShards]] pattern, here without error terms).
    * Emits the full (shard, item, hash) summary per updated shard per
    * micro-batch. */
  class KmvProcessor(k: Int)
      extends StatefulProcessor[Int, (Int, Long), (Int, Long, Long)] {
    private val P = 1000003L
    @transient private var state: ValueState[(Array[Long], Array[Long])] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[(Array[Long], Array[Long])](
        "kmv", Encoders.product[(Array[Long], Array[Long])], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Int, rows: Iterator[(Int, Long)],
        timerValues: TimerValues): Iterator[(Int, Long, Long)] = {
      val (hs, items) =
        if (state.exists()) state.get() else (Array.empty[Long], Array.empty[Long])
      // fold the batch in memory (sorted map keyed by (hash, item) — the
      // bottom-k order), write back once
      val m = scala.collection.mutable.TreeMap[(Long, Long), Unit]()
      hs.indices.foreach(i => m((hs(i), items(i))) = ())
      rows.foreach { case (_, item) =>
        val h = math.floorMod(math.floorMod(item, P) * 2654435761L, P)
        m((h, item)) = ()
        if (m.size > k) m.remove(m.lastKey)
      }
      val bottom = m.keys.toArray
      state.update((bottom.map(_._1), bottom.map(_._2)))
      bottom.iterator.map { case (h, item) => (key, item, h) }
    }
  }

  /** Wire KMV onto a shard-keyed stream of (shard, item): emits each
    * shard's full bottom-k summary per micro-batch. */
  def kmv(
      keyed: KeyValueGroupedDataset[Int, (Int, Long)],
      k: Int): Dataset[(Int, Long, Long)] = {
    implicit val enc: Encoder[(Int, Long, Long)] =
      Encoders.product[(Int, Long, Long)]
    keyed.transformWithState(
      new KmvProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING EWMA — the incremental twin of the batch q151 recurrence,
    * with a SPEC-PINNED parity contract: fed the same events in timestamp
    * order across ANY micro-batch slicing, the streaming level BIT-matches
    * the straight ordered fold (same `acc·(1−α) + x·α` IEEE ops in the
    * same order — within a batch the rows are sorted by (ts, event_id)
    * before folding, because handleInputRows gives arrival order, not
    * event order), and agrees with q151's segmented-fold form to 1e-9
    * (same algebra, float-reassociated). α is a constructor parameter —
    * the batch side takes its smoothing knob, so the streaming twin must
    * too, and the parity spec runs the matrix over ≥ 2 alphas. State is
    * one (count, level) pair per key — O(1) forever, the streaming answer
    * to the batch side's bounded-chunk machinery. Late rows that cross a
    * micro-batch boundary are the caller's watermark concern (the
    * standard streaming contract), not silently reordered here. */
  class EwmaProcessor(alpha: Double = 0.25)
      extends StatefulProcessor[Long, (Long, Long, Long, Double), (Long, Long, Double)] {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[(Long, Double)](
        "ewma", Encoders.product[(Long, Double)], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, level) = if (state.exists()) state.get() else (0L, 0.0)
      // (user, ts, event_id, value) → event order within the batch
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
        n += 1; level = level * (1.0 - alpha) + r._4 * alpha
      }
      state.update((n, level))
      Iterator((key, n, level))
    }
  }

  /** Wire the EWMA onto a user-keyed stream of (user_id, ts, event_id,
    * value): emits (user_id, n_events, ewma) per updated key per
    * micro-batch. */
  def ewma(
      keyed: KeyValueGroupedDataset[Long, (Long, Long, Long, Double)],
      alpha: Double = 0.25): Dataset[(Long, Long, Double)] = {
    implicit val enc: Encoder[(Long, Long, Double)] =
      Encoders.product[(Long, Long, Double)]
    keyed.transformWithState(
      new EwmaProcessor(alpha), TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING ORDERED FUNNEL (batch twin: q200) — per-user progression
    * through signup → click-strictly-after → purchase-strictly-after,
    * kept as three first-hit timestamps (micros; -1 = stage not reached).
    * State is one fixed-width triple per user — O(users), never O(events).
    * The fold is ORDER-SENSITIVE (a stage only arms after the previous
    * stage's timestamp), so exact batch parity holds when micro-batches
    * respect per-user event-time order — the watermark contract an
    * event-time pipeline provides; within a batch rows are sorted by
    * (ts, event_id) exactly like [[CusumProcessor]]. Under that contract
    * the emitted triple bit-matches q200's batch derivation at every
    * micro-batch boundary (spec-pinned across uneven slicings).
    *
    * The contract is MECHANICALLY ENFORCED (r16, the
    * [[AsOfLatestProcessor]] monotonicity-guard pattern hardened into a
    * failure): state carries the high-water mark (ts, event_id) of the
    * last folded event per key, and a batch whose earliest row sits
    * BEFORE that mark throws rather than silently mis-staging — an
    * order-sensitive fold that keeps running on disordered input
    * produces confidently wrong funnels, the worst failure mode.
    * Re-delivery of exactly the high-water-mark row (at-least-once
    * replay) is tolerated: the guard is strict-less-than, and the fold's
    * first-hit conditions make the duplicate a no-op.
    *
    * CHECKPOINT COMPATIBILITY: the r16 guard widened the `funnel` value
    * state from a 3-tuple to this 5-tuple UNDER THE SAME STATE NAME — a
    * query restored from a pre-r16 checkpoint fails state deserialization
    * rather than migrating. Intentional (the narrower state cannot prove
    * the order contract, so a silent migration would resume unguarded);
    * restart pre-r16 pipelines from a fresh checkpoint.
    *
    * OPERATIONAL NOTE: fail-fast is correct for a contract violation, but
    * the throw happens inside `transformWithState`, so a single disordered
    * key poisons the stream PERMANENTLY — restart replays the same batch
    * and throws again. Where that retry loop is the worse failure mode,
    * wire [[funnelDeadLetter]] instead: violations freeze their key and
    * route to a side output; every other key keeps exact batch parity. */
  class FunnelProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, String), (Long, Long, Long, Long)] {
    // (signup, click, purchase, hwmTs, hwmId)
    @transient private var state: ValueState[(Long, Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[(Long, Long, Long, Long, Long)](
        "funnel", Encoders.product[(Long, Long, Long, Long, Long)], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var (s, c, p, hwmTs, hwmId) =
        if (state.exists()) state.get()
        else (-1L, -1L, -1L, Long.MinValue, Long.MinValue)
      // (key, tsMicros, event_id, event_type) → event order within batch
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      sorted.headOption.foreach { r =>
        if (r._2 < hwmTs || (r._2 == hwmTs && r._3 < hwmId))
          throw new IllegalStateException(
            s"FunnelProcessor: out-of-order input for key $key — event " +
              s"(ts=${r._2}, id=${r._3}) arrived after the state high-water " +
              s"mark (ts=$hwmTs, id=$hwmId). The funnel fold is " +
              "order-sensitive; feed per-key event-time-ordered " +
              "micro-batches (the watermark contract).")
      }
      sorted.foreach { r =>
        r._4 match {
          case "signup" if s < 0 => s = r._2
          case "click" if s >= 0 && c < 0 && r._2 > s => c = r._2
          case "purchase" if c >= 0 && p < 0 && r._2 > c => p = r._2
          case _ => ()
        }
      }
      sorted.lastOption.foreach { r => hwmTs = r._2; hwmId = r._3 }
      state.update((s, c, p, hwmTs, hwmId))
      Iterator((key, s, c, p))
    }
  }

  /** Wire the funnel onto a keyed stream of (user_id, tsMicros, event_id,
    * event_type): emits (user_id, signup_ts, click_ts, purchase_ts) per
    * updated user per micro-batch (-1 = stage not reached yet). */
  def funnel(
      keyed: KeyValueGroupedDataset[Long, (Long, Long, Long, String)])
      : Dataset[(Long, Long, Long, Long)] = {
    implicit val enc: Encoder[(Long, Long, Long, Long)] =
      Encoders.product[(Long, Long, Long, Long)]
    keyed.transformWithState(
      new FunnelProcessor(), TimeMode.None(), OutputMode.Update())
  }

  /** DEAD-LETTER funnel (r17) — the operational alternative to
    * [[FunnelProcessor]]'s fail-fast order guard. Same fold, same
    * high-water-mark contract, but a violation QUARANTINES the key instead
    * of killing the query: the key's funnel state FREEZES at its last
    * good value (a fold that has seen disorder cannot be trusted to stage
    * correctly, so it stops folding rather than guess), every subsequent
    * row for that key counts into a per-key violation tally, and the
    * emitted row carries (n_violations, frozen) so violations route to a
    * side output with one `filter(frozen)` — the count metric is the
    * tally itself, aggregable downstream. Keys that never violate emit
    * tallies of 0 and bit-match [[FunnelProcessor]] (and therefore the
    * q200 batch twin) exactly — one bad key never perturbs its neighbors.
    *
    * State lives under its OWN name (`funnel_dl`, a 7-tuple), so the two
    * modes never collide in a checkpoint and switching modes is an
    * explicit re-bootstrap, not a silent schema break. Fail-fast stays
    * the default wiring ([[funnel]]); choose this at pipeline
    * construction where a poison key must not halt the stream. */
  class DeadLetterFunnelProcessor
      extends StatefulProcessor[
        Long, (Long, Long, Long, String), (Long, Long, Long, Long, Long, Boolean)] {
    // (signup, click, purchase, hwmTs, hwmId, violations)
    @transient private var state: ValueState[(Long, Long, Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[(Long, Long, Long, Long, Long, Long)](
        "funnel_dl", Encoders.product[(Long, Long, Long, Long, Long, Long)],
        TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long, Boolean)] = {
      var (s, c, p, hwmTs, hwmId, viol) =
        if (state.exists()) state.get()
        else (-1L, -1L, -1L, Long.MinValue, Long.MinValue, 0L)
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      val disordered = sorted.headOption.exists(r =>
        r._2 < hwmTs || (r._2 == hwmTs && r._3 < hwmId))
      if (viol > 0 || disordered) {
        // frozen (now or previously): quarantine the whole batch — state
        // stays at its last good fold, the tally records the loss
        viol += sorted.size
      } else {
        sorted.foreach { r =>
          r._4 match {
            case "signup" if s < 0 => s = r._2
            case "click" if s >= 0 && c < 0 && r._2 > s => c = r._2
            case "purchase" if c >= 0 && p < 0 && r._2 > c => p = r._2
            case _ => ()
          }
        }
        sorted.lastOption.foreach { r => hwmTs = r._2; hwmId = r._3 }
      }
      state.update((s, c, p, hwmTs, hwmId, viol))
      Iterator((key, s, c, p, viol, viol > 0))
    }
  }

  /** Wire the dead-letter funnel: emits (user_id, signup_ts, click_ts,
    * purchase_ts, n_violations, frozen) per updated user per micro-batch.
    * `filter(!frozen)` is the exact funnel stream (bit-parity with
    * [[funnel]] on contract-respecting keys); `filter(frozen)` is the
    * dead-letter side output. */
  def funnelDeadLetter(
      keyed: KeyValueGroupedDataset[Long, (Long, Long, Long, String)])
      : Dataset[(Long, Long, Long, Long, Long, Boolean)] = {
    implicit val enc: Encoder[(Long, Long, Long, Long, Long, Boolean)] =
      Encoders.product[(Long, Long, Long, Long, Long, Boolean)]
    keyed.transformWithState(
      new DeadLetterFunnelProcessor(), TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING AS-OF (latest-state enrichment) — the incremental twin of
    * the batch backward as-of join ([[graft.ext.AsOfJoin.asOf]], q49): per key,
    * state is the LATEST right-side row seen ((tsMicros, id, value)); each
    * left-side row emits tagged with the held right row at-or-before it.
    * This is the stream-enrichment shape ("stamp each event with the most
    * recent quote/config/snapshot for its key") that the watermarked
    * stream-stream join cannot express with O(1) state — the symmetric
    * join buffers a whole time-range window per key, while as-of needs
    * exactly ONE held row per key, ever.
    *
    * Ordering contract (the EWMA/CUSUM parity discipline): within a
    * micro-batch rows fold in (ts, right-before-left, id) order — a right
    * row at the SAME instant as a left row applies first, so equal
    * timestamps match, the batch operator's inclusive `rightTime <=
    * leftTime` contract; across batches the caller feeds per-key
    * event-time order (the watermark contract). Under that contract every
    * emitted match BIT-equals the batch as-of at the same left row
    * (spec-pinned across uneven slicings against [[graft.ext.AsOfJoin]]).
    * A defensive (ts, id) monotonicity guard makes a late right row a
    * no-op rather than a state regression. A left row arriving before any
    * right emits id −1 / value 0.0 — the batch left-join null. */
  class AsOfLatestProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Int, Double),
        (Long, Long, Long, Long, Double)] {
    // input:  (key, tsMicros, id, side: 0 = right / 1 = left, value)
    // output: (key, leftId, leftTs, matchedRightId or -1, matchedRightValue)
    @transient private var state: ValueState[(Long, Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[(Long, Long, Double)](
        "latest", Encoders.product[(Long, Long, Double)], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, Int, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Double)] = {
      var held = if (state.exists()) state.get() else (-1L, -1L, 0.0)
      val out = Seq.newBuilder[(Long, Long, Long, Long, Double)]
      // rights fold before lefts at an equal instant (inclusive <=)
      rows.toSeq.sortBy(r => (r._2, r._4, r._3)).foreach {
        case (_, ts, id, 0, v) =>
          if (ts > held._1 || (ts == held._1 && id >= held._2))
            held = (ts, id, v)
        case (_, ts, id, _, _) =>
          out += ((key, id, ts,
            if (held._1 >= 0) held._2 else -1L,
            if (held._1 >= 0) held._3 else 0.0))
      }
      state.update(held)
      out.result().iterator
    }
  }

  /** Wire the latest-state as-of onto a keyed union stream of
    * (key, tsMicros, id, side 0=right/1=left, value): emits one
    * (key, left_id, left_ts, matched_right_id, matched_right_value) row
    * per LEFT input row per micro-batch (-1 = no right row yet). */
  def asOfLatest(
      keyed: KeyValueGroupedDataset[Long, (Long, Long, Long, Int, Double)])
      : Dataset[(Long, Long, Long, Long, Double)] = {
    implicit val enc: Encoder[(Long, Long, Long, Long, Double)] =
      Encoders.product[(Long, Long, Long, Long, Double)]
    keyed.transformWithState(
      new AsOfLatestProcessor(), TimeMode.None(), OutputMode.Update())
  }
}
