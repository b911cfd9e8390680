package graft.streaming

import graft.plans.ScaleLint.BarrierSyntax

import graft.silver.{Merge, TxnSilver}
import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming pipeline stages (SURVEY §2.1 S1-S4, §2.8 ST1-ST7).
  *
  * The reference's Delta streaming sinks/sources map to parquet here (no
  * Delta jar): checkpointed exactly-once file sinks, schema-explicit file
  * sources, foreachBatch for multi-table/merge logic, AvailableNow for
  * batch-over-stream runs. Watermarked windows / session windows /
  * dropDuplicatesWithinWatermark are the north-star stateful additions the
  * reference lacks (SURVEY §2.8 ST7).
  */
object StreamPipes {

  /** Bronze ingest (ref 01:181-189): append streaming sink, partitioned by
    * ingestion_date, checkpointed, AvailableNow. Caller awaits termination. */
  def bronzeSink(bronze: DataFrame, path: String, checkpoint: String): StreamingQuery =
    bronze.writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .option("path", path)
      .partitionBy("ingestion_date")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-read a parquet table (ref 02:199-200; parquet file source needs
    * an explicit schema, unlike Delta). */
  def tableStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.format("parquet").schema(schema).load(path)

  /** The stanza every foreachBatch stage shares: append mode, checkpointed,
    * AvailableNow, `body` run once per micro-batch with its batchId. */
  private def foreachBatchStage(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)
      .start()

  /** Silver foreachBatch (ref 02:97-209): per micro-batch DQ split → enrich
    * → idempotent keyed merge into the silver path + quarantine write.
    * Exactly-once under replay on BOTH sinks: the merge is keyed on
    * transaction_id (re-processing a batch is a no-op), and the quarantine
    * write is scoped to a `batch=<id>` partition directory and overwritten —
    * replaying a micro-batch after a failure between the quarantine write
    * and the checkpoint commit rewrites the same partition instead of
    * appending duplicates. */
  def silverForeachBatch(
      bronzeStream: DataFrame,
      silverPath: String, quarantinePath: String, checkpoint: String,
      clock: java.sql.Timestamp, validMcc: Seq[String]): StreamingQuery =
    foreachBatchStage(bronzeStream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val (silverReady, quarantined) = TxnSilver.processBatch(batch, clock, validMcc)
      // 02:124-128; batch-scoped overwrite = idempotent replay
      quarantined.write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
      val merged = VersionedTable.read(spark, silverPath) match {
        case Some(target) =>
          Merge.upsert(target, silverReady, Seq("transaction_id")) // 02:174-181
        case None => silverReady // 02:184 first-batch fallback
      }
      VersionedTable.commit(spark, silverPath, merged)
      ()
    }

  /** Streaming DECLARATIVE EXPECTATIONS (r14) — [[graft.ext.Expectations]]
    * as a maintained stream stage, the generalization of
    * [[silverForeachBatch]]'s hand-rolled DQ split to an arbitrary rule
    * set (the managed-ETL `expect_or_drop` surface the reference platform
    * ships as notebook decorators): per micro-batch, one flagging pass,
    * clean rows APPEND to the contract-passing table, violations and the
    * per-rule metrics land in `batch=<id>`-scoped partitions.
    *
    * Exactly-once under replay on all three sinks: clean rows are scoped
    * to `batch=<id>` partition dirs exactly like quarantine/metrics —
    * replaying a micro-batch after a failure between any write and the
    * checkpoint commit OVERWRITES the same partitions instead of
    * appending duplicates (the proven silverForeachBatch discipline). The
    * FLAGGED frame is persisted before the three derived writes so the
    * flagging projection and the dataset-level joins run once, not three
    * times. Dataset-level rules
    * (uniqueness/FK) evaluate WITHIN the micro-batch — cross-batch
    * uniqueness belongs to the keyed-merge tier (dropDuplicates state /
    * [[dedupIngest]]'s persisted index), not a per-batch contract. */
  def expectationsIngest(
      stream: DataFrame,
      rules: Seq[graft.ext.Expectations.Rule],
      cleanPath: String, quarantinePath: String, metricsPath: String,
      checkpoint: String): StreamingQuery =
    foreachBatchStage(stream, checkpoint) { (batch, batchId) =>
      // persist the FLAGGED frame, not the raw batch: clean/quarantine/
      // metrics are three consumptions of the same flagging projection +
      // dataset-level joins (uniqueness groupBy, FK join) — caching below
      // the flags would recompute all of that three times per micro-batch
      val r = graft.ext.Expectations.check(batch, rules)
      val cached = r.flagged.persist()
      try {
        r.clean.write.mode("overwrite")
          .parquet(s"$cleanPath/batch=$batchId")
        r.quarantine.write.mode("overwrite")
          .parquet(s"$quarantinePath/batch=$batchId")
        r.metrics.write.mode("overwrite")
          .parquet(s"$metricsPath/batch=$batchId")
      } finally { cached.unpersist(); () }
    }

  /** Watermarked event-time hourly aggregate (north-star ST7): late data
    * beyond 10 minutes is dropped; state is bounded by the watermark. */
  def watermarkedHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Session windows with a 30-minute gap (north-star ST7): the streaming
    * twin of [[graft.ext.Sessionize]]. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming dedup bounded by watermark (north-star ST7). */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream join (north-star ST surface): key equality +
    * a bounded event-time range. Both watermarks plus the range condition
    * let the symmetric-hash-join state evict rows once the other side can
    * no longer match them — state stays bounded no matter how long the
    * streams run (the unbounded-state failure mode of an unconstrained
    * stream-stream join). `rightTime` must fall in
    * `[leftTime - lookback, leftTime]`. `joinType` supports `inner` and
    * `left_outer` — outer rows emit null-padded once the watermark proves
    * no match can arrive. */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame,
      key: String, rightKey: String,
      leftTime: String, rightTime: String,
      watermark: String = "10 minutes",
      lookback: String = "5 minutes",
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(
        right.withWatermark(rightTime, watermark),
        expr(s"$key = $rightKey AND " +
          s"$rightTime BETWEEN $leftTime - interval $lookback AND $leftTime"),
        joinType)

  /** STREAMING ANN-INDEX INGESTION — [[graft.ext.AnnIndex]]'s incremental
    * extension as a foreachBatch pipeline (the vector-tier twin of
    * [[dedupIngest]]): every micro-batch of (id, vec) rows is encoded
    * against the CURRENT frozen quantizer generation and written as that
    * generation's shard `batch=<id>`. Caller must have run
    * [[graft.ext.AnnIndex.train]] first (the production split: quantizers
    * train offline on a sample; the index extends online forever).
    *
    * Replay idempotency is BATCH-ID KEYED: [[graft.ext.AnnIndex
    * .extendBatch]] skips any batchId already present in the shard
    * manifest (and would re-encode bit-identically even if it didn't —
    * encoding is a pure function of the frozen quantizers; extension ==
    * rebuild, SimilaritySpec), so at-least-once delivery never
    * double-counts a batch, including after compaction folded its shard
    * away. The manifest, not the table log, carries the batch ids because
    * compaction re-registers them per generation and two generations
    * coexist during a retrain.
    *
    * `compactEvery` > 0 folds the accreted per-batch shards into one
    * every N batches ([[graft.ext.AnnIndex.compact]]) — the maintenance
    * loop a long-running stream needs: uncompacted, the shard count (and
    * with it every search's per-file open cost and the manifest's own
    * copy-on-write rewrite) grows one per micro-batch without bound.
    * Compaction inside the same foreachBatch keeps the invariant
    * single-writer and is itself replay-safe: the swap is one manifest
    * commit, covered batchIds stay registered, and a replayed trigger
    * either finds one shard (no-op) or compacts again idempotently. */
  def annIngest(
      vectors: DataFrame, basePath: String, checkpoint: String,
      compactEvery: Int = 0): StreamingQuery =
    foreachBatchStage(vectors, checkpoint) { (batch, batchId) =>
      graft.ext.AnnIndex.extendBatch(batch.sparkSession, basePath, batch, batchId)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        graft.ext.AnnIndex.compact(batch.sparkSession, basePath)
      ()
    }

  /** STREAMING corpus ingestion with EXACT near-dup admission — the
    * incremental dedup flow ([[graft.ext.Dedup.incrementalNearDupExact]] +
    * [[graft.ext.Dedup.extendPrefixIndex]]) as a foreachBatch pipeline.
    * Every micro-batch is admitted against the corpus ingested so far via
    * the PERSISTED prefix index (never re-reading earlier corpus text),
    * written as the delta dir `corpus/batch=<id>`, and the extended index
    * is committed as one version of the `state/` [[VersionedTable]] —
    * postings and vocab as kind-tagged rows of ONE commit, so a reader can
    * never pair postings from one batch with vocab from another.
    *
    * Replay and read isolation are [[VersionedTable.commitBatch]]'s
    * protocol (op tag `dedup batch=<id>`): an applied batch is skipped
    * outright, and a batch that crashed before its commit re-runs against
    * the current index, its half-written corpus dir invisible to
    * [[graft.ext.Dedup.readCorpus]] until the retry commits.
    *
    * `compactEvery` > 0 runs the maintenance loop every N batches: the
    * corpus delta dirs fold into one recorded compaction and the covered
    * dirs plus superseded index versions are swept. Uncompacted, a
    * long-running stream accretes one corpus dir + one index version per
    * micro-batch forever — the small-files pathology the ANN shard sweep
    * measured (SCALING.md). Consumers read the corpus via
    * [[graft.ext.Dedup.readCorpus]], not a raw read of `corpus/`. */
  def dedupIngest(
      docs: DataFrame, basePath: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.9, compactEvery: Int = 0): StreamingQuery =
    foreachBatchStage(docs, checkpoint) { (batch, batchId) =>
      dedupBatch(batch, batchId, basePath, idCol, textCol, threshold)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        maintainAdmitted(batch.sparkSession, basePath, DedupStage, batch.schema)
    }

  private val DedupStage = "dedup"
  private val DsirStage = "dsir"

  /** One [[dedupIngest]] micro-batch; false iff already applied. */
  private[streaming] def dedupBatch(batch: DataFrame, batchId: Long, basePath: String,
      idCol: String, textCol: String, threshold: Double): Boolean = {
    import graft.ext.Dedup
    val spark = batch.sparkSession
    val state = Dedup.admitState(basePath)
    VersionedTable.commitBatch(spark, state, DedupStage, batchId) { current =>
      val (postings, vocab) = current match {
        case Some(idx) => (
          idx.filter(col("kind") === "postings").select("tid", "p", "n", "itoks"),
          idx.filter(col("kind") === "vocab").select("tok", "tid"))
        case None => Dedup.prefixIndex(batch.limit(0), idCol, textCol, threshold)
      }
      val kept = Dedup.incrementalNearDupExact(
        batch, postings, vocab, idCol, textCol, threshold).barrier(eager = true)
      kept.write.mode("overwrite")
        .parquet(VersionedTable.deltaPath(Dedup.admitCorpus(basePath), batchId))
      val (p2, v2) = Dedup.extendPrefixIndex(
        kept, postings, vocab, idCol, textCol, threshold)
      p2.withColumn("kind", lit("postings"))
        .unionByName(v2.withColumn("kind", lit("vocab")), allowMissingColumns = true)
    }
  }

  /** The admission stages' maintenance loop: fold the corpus delta dirs
    * into one recorded compaction, then sweep the dirs it covers and the
    * state table's superseded versions (a skipped or retried batch only
    * ever reads the current one). */
  private def maintainAdmitted(spark: SparkSession, basePath: String,
      stage: String, corpusSchema: StructType): Unit = {
    import graft.ext.Dedup.{admitCorpus, admitState}
    VersionedTable.compactDeltas(spark, admitState(basePath), admitCorpus(basePath),
      stage, corpusSchema)
    VersionedTable.vacuumDeltas(spark, admitState(basePath), admitCorpus(basePath))
    VersionedTable.vacuum(spark, admitState(basePath))
  }

  /** STREAMING DSIR ADMISSION — [[graft.ext.CorpusOps.importanceWeights]]
    * as an ingest pipeline (the data-selection twin of [[dedupIngest]],
    * same layout and protocol): each micro-batch of documents is scored
    * against the target/background bucket counts ACCUMULATED FROM PRIOR
    * BATCHES (never against its own contents — the online estimator), docs
    * with weight ≥ `threshold` are admitted to the delta dir
    * `corpus/batch=<id>`, and the counts are extended by the WHOLE batch
    * (admitted or not: background statistics describe what arrived, not
    * what survived; target counts from rows where `targetCol` is true) and
    * committed as one version of the `state/` [[VersionedTable]], tagged
    * `dsir batch=<id>`. An applied batch is skipped, so a replay never
    * double-counts; read the admitted docs with
    * [[graft.ext.Dedup.readCorpus]]. Cold start: with no prior counts every
    * bucket is unseen, all weights are exactly 1.0, and a threshold ≤ 1
    * admits the whole first batch — the bootstrap a selection loop wants
    * (document the dial; raise the threshold once the estimator warms).
    *
    * `vacuumEvery` > 0 runs [[dedupIngest]]'s maintenance loop every N
    * batches: each counts version is a FULL snapshot, so all but the
    * current one are dead weight, and the corpus dirs fold like dedup's.
    *
    * 100 TB shape: state is two `buckets`-row count tables (broadcast
    * forever, the point of DSIR's hashed projection); per-batch cost is
    * one explode scan of the batch + a batch-keyed aggregate — never
    * O(corpus). */
  def dsirIngest(
      docs: DataFrame, basePath: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      targetCol: String = "is_target", threshold: Double = 1.0,
      buckets: Int = 64, vacuumEvery: Int = 0): StreamingQuery =
    foreachBatchStage(docs, checkpoint) { (batch, batchId) =>
      dsirBatch(batch, batchId, basePath, idCol, textCol, targetCol, threshold, buckets)
      if (vacuumEvery > 0 && (batchId + 1) % vacuumEvery == 0)
        maintainAdmitted(batch.sparkSession, basePath, DsirStage,
          batch.schema.add("w", "double"))
    }

  /** One [[dsirIngest]] micro-batch; false iff already applied. */
  private[streaming] def dsirBatch(batch: DataFrame, batchId: Long, basePath: String,
      idCol: String, textCol: String, targetCol: String, threshold: Double,
      buckets: Int): Boolean = {
    import graft.ext.{CorpusOps, Dedup}
    val spark = batch.sparkSession
    val state = Dedup.admitState(basePath)
    VersionedTable.commitBatch(spark, state, DsirStage, batchId) { prior =>
      def priorKind(k: String) = prior match {
        case Some(df) => df.filter(col("kind") === k).select(col("b"), col("c"))
        case None => spark.range(0)
          .select(col("id").cast("int").as("b"), col("id").as("c"))
      }
      val toks = CorpusOps.tokenBuckets(
        batch, col(targetCol), idCol, textCol, buckets).barrier(eager = true)
      val w = CorpusOps.importanceWeightsAgainst(toks,
        priorKind("b").withColumnRenamed("c", "cb"),
        priorKind("t").withColumnRenamed("c", "ct"))
      batch.join(w.filter(col("w") >= threshold)
          .select(col("id").as(idCol), col("w")), Seq(idCol))
        .write.mode("overwrite")
        .parquet(VersionedTable.deltaPath(Dedup.admitCorpus(basePath), batchId))
      val batchCounts = toks.groupBy(col("b")).agg(count(lit(1)).as("c"))
        .select(lit("b").as("kind"), col("b"), col("c"))
        .unionByName(toks.filter(col("is_t")).groupBy(col("b"))
          .agg(count(lit(1)).as("c"))
          .select(lit("t").as("kind"), col("b"), col("c")))
      prior.fold(batchCounts)(_.unionByName(batchCounts)
        .groupBy(col("kind"), col("b")).agg(sum(col("c")).as("c")))
    }
  }

  /** STREAMING SCD2 MAINTENANCE — [[graft.ext.Scd]]'s incremental
    * dimension kept fresh from a change feed: each micro-batch of
    * observations folds into the persisted dimension via
    * [[graft.ext.Scd.applyBatch]] (bootstrap on the first batch,
    * current-rows-only incremental apply after — never a history
    * rescan). Replay idempotency is batchId-keyed in the dimension's own
    * commit log ([[VersionedTable.commitBatch]]): an at-least-once
    * redelivery is recognized and skipped, a crashed half-commit is
    * invisible (marker-last). The source must deliver per-key observations
    * in order (the CDC-feed contract); late data fails loudly inside the
    * batch rather than silently rewriting closed history. */
  def scd2Ingest(
      observations: DataFrame, basePath: String, checkpoint: String,
      keyCols: Seq[String], tsCol: String, tieCol: String,
      attrCols: Seq[String], compactEvery: Int = 0): StreamingQuery =
    foreachBatchStage(observations, checkpoint) { (batch, batchId) =>
      graft.ext.Scd.applyBatch(batch.sparkSession, basePath, batch,
        keyCols, tsCol, tieCol, attrCols, batchId)
      // same maintenance dial as annIngest: fold accreted closed-delta
      // dirs every N batches so a long-running stream's read set stays
      // bounded (single-writer inside the same foreachBatch)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        graft.ext.Scd.compactClosed(batch.sparkSession, basePath)
      ()
    }

  /** STREAMING AGGREGATE MAINTENANCE — [[graft.ext.IncrementalAgg]] fed
    * per micro-batch: the per-key rollup extends by one batch-sized
    * partial aggregation + one |keys|-row merge per trigger, with the
    * same batchId-keyed commit-log replay dedup as [[scd2Ingest]]. The
    * alternative to a stateful streaming agg when the result must live
    * in a versioned, time-travelable TABLE rather than a state store —
    * and the maintenance loop never grows with corpus size. */
  def aggIngest(
      facts: DataFrame, basePath: String, checkpoint: String,
      keys: Seq[String], valueCol: String): StreamingQuery =
    foreachBatchStage(facts, checkpoint) { (batch, batchId) =>
      graft.ext.IncrementalAgg.update(batch.sparkSession, basePath, batch,
        keys, valueCol, batchId)
      ()
    }
}
