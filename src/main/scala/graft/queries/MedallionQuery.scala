package graft.queries

import graft.plans.ScaleLint.BarrierSyntax

import graft.{Q, QueryDsl}
import QueryDsl._
import graft.gen.TxnGen
import graft.silver.{Merge, TxnSilver}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship medallion pipeline as ONE oracle-checked lazy plan:
  * generate (bronze) → corrupt a deterministic slice → DQ split → mask +
  * enrich (silver) → keyed source-wins merge of a second overlapping batch →
  * gold per-merchant aggregate. MedallionSpec proves the same flow through
  * the streaming APIs; this query turns it into a hard CORRECTNESS row
  * (ref 01:181-189 → 02:97-209 → 03:27-59).
  *
  * Determinism: frozen clock, generator pure in `value`; the DuckDB twin
  * re-derives the same columns from generate_series. The sin-based amount
  * is rounded to 2 decimals on a ~500 magnitude — JVM and libm sin agree to
  * ~1e-12 abs, so the rounding is stable (same argument as q9).
  */
object MedallionQuery {

  private val clock = java.sql.Timestamp.valueOf("2024-06-02 00:00:00")
  private val t1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
  private val t2 = java.sql.Timestamp.valueOf("2024-06-01 01:00:00")

  /** Deterministic corruption of ~2% of bronze rows so the DQ stage has
    * real work: transaction ids ending "13" go non-positive-amount, "77"
    * unknown-mcc (the last two id digits are `value % 100`). */
  private def corrupt(bronze: DataFrame): DataFrame = {
    val tail2 = substring(col("transaction_id"), -2, 2)
    bronze
      .withColumn("amount", when(tail2 === "13", -col("amount")).otherwise(col("amount")))
      .withColumn("mcc_code", when(tail2 === "77", lit("9999")).otherwise(col("mcc_code")))
  }

  private def silverOf(bronze: DataFrame): DataFrame =
    TxnSilver.processBatch(corrupt(bronze), clock, TxnGen.ValidMcc)._1

  val q54Medallion: Q = Q(
    "q54_medallion",
    (s, _) => {
      // batch 1 = initial silver; batch 2 (same event date, +1 h, 2000 extra
      // rows) restated for high-amount txns only → the merge both UPDATES
      // (overlapping ids, event_hour moves 0→1) and INSERTS (ids ≥ 8000)
      val target = silverOf(TxnGen.batch(s, 8000, t1, clock))
      val source = silverOf(TxnGen.batch(s, 10000, t2, clock))
        .filter(col("amount") > 400)
      val merged = Merge.upsert(target, source, Seq("transaction_id"))
      merged.groupBy(col("merchant_name"), col("mcc_category"))
        .agg(
          count(lit(1)).as("n_txns"),
          dsum(col("amount"), 2).as("total_amount"),
          countIf(col("risk_score_raw") >= 50).as("n_high_risk"),
          sum(col("event_hour").cast("long")).as("hour_checksum"))
    },
    Some("""
      WITH d1 AS (
        SELECT v, round(abs(sin(v * CAST(0.1 AS DOUBLE))) * 500 + 1.5, 2) AS amount,
               hour(TIMESTAMP '2024-06-01 00:00:00' + to_microseconds(v * 50000)) AS event_hour
        FROM generate_series(0, 7999) t(v)),
      d2 AS (
        SELECT v, round(abs(sin(v * CAST(0.1 AS DOUBLE))) * 500 + 1.5, 2) AS amount,
               hour(TIMESTAMP '2024-06-01 01:00:00' + to_microseconds(v * 50000)) AS event_hour
        FROM generate_series(0, 9999) t(v)),
      tgt  AS (SELECT * FROM d1 WHERE v % 100 NOT IN (13, 77)),
      srcb AS (SELECT * FROM d2 WHERE v % 100 NOT IN (13, 77) AND amount > 400),
      merged AS (
        SELECT * FROM srcb
        UNION ALL
        SELECT * FROM tgt WHERE v NOT IN (SELECT v FROM srcb)),
      enriched AS (
        SELECT
          ['QuickMart','FuelStop','Bistro','MedPlus','ShopAll','CashPoint','WireNow','StayInn','TechZone','SkyAir'][CAST(v % 10 AS INT) + 1]
            || ' #' || CAST(v % 500 + 1 AS VARCHAR) AS merchant_name,
          ['Grocery','Gas','Restaurant','Pharmacy','Retail','ATM','Wire Transfer','Hotel','Electronics','Airlines'][CAST(v % 10 AS INT) + 1] AS mcc_category,
          amount,
          (CASE WHEN v % 50 = 0 THEN 30 ELSE 0 END
           + CASE WHEN amount > 400 THEN 25 ELSE 0 END
           + CASE WHEN v % 10 IN (5, 6) THEN 20 ELSE 0 END
           + CASE WHEN v % 20 = 0 THEN 15 ELSE 0 END
           + CASE WHEN v % 4 = 0 THEN 10 ELSE 0 END) AS risk_score_raw,
          event_hour
        FROM merged)
      SELECT merchant_name, mcc_category,
        COUNT(*) AS n_txns,
        CAST(SUM(CAST(amount AS DECIMAL(28,2))) AS DOUBLE) AS total_amount,
        CAST(SUM(CASE WHEN risk_score_raw >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_risk,
        CAST(SUM(event_hour) AS BIGINT) AS hour_checksum
      FROM enriched
      GROUP BY merchant_name, mcc_category
    """))

  /** Multimodal pipeline as a catalog entry (rows-only; image decode is
    * REAL — JDK ImageIO over genuine PNG payloads — while audio/video
    * decode remains a documented deterministic stub, no A/V codec libs in
    * this environment): synthesize binary media → metadata resize →
    * per-partition featurize (mapPartitions = the batched-decoder shape) →
    * frame sampling → per-kind rollup. MultimodalSpec covers the operator
    * semantics, including pixel-exact decode verification. */
  val q60Multimodal: Q = Q(
    "q60_multimodal",
    (s, _) => {
      import graft.ext.Multimodal
      // NO barrier (r19, reversing r18): q60's only payload consumer is the
      // single featurize branch — the barrier's payload store/read cost
      // more than the one extra synthesize it saved (driver 0.50→0.80 s;
      // same-session A/B 0.58 barrier vs 0.48 without). q147/q148/q189
      // keep theirs: their branches decode payloads repeatedly.
      val media = Multimodal.synthesize(s, 3000L)
      val feats = Multimodal.featurize(Multimodal.resizeMeta(media, 512), dim = 16)
      val frames = Multimodal.sampleFrames(media, stride = 30)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
      feats.join(frames, Seq("media_id"), "left")
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n_media"),
          max(size(col("features"))).cast("long").as("feature_dim"),
          round(avg(aggregate(col("features"), lit(0.0d), (a, x) => a + x)), 4)
            .as("mean_feature_sum"),
          sum(coalesce(col("n_sampled"), lit(0L))).as("n_frames_sampled"))
    },
    None)

  /** PERCEPTUAL IMAGE NEAR-DUP ([[graft.ext.Multimodal.imageNearDupPairs]]):
    * aHash fingerprints over the REAL PNG decode path, 4×16-bit band
    * blocking (lossless at hamming ≤ 3), exact bit_count verify — image
    * dedup as a first-class corpus operator beside the text/embedding
    * tiers. The corpus is the q60 synthetic media table plus planted
    * re-ingests (every 30th image duplicated under a new id), which the
    * pairs must surface at hamming 0. No SQL oracle (DuckDB cannot
    * decode PNG): rows-only + MultimodalSpec's pixel-level invariance
    * tests. */
  val q147ImageNearDup: Q = Q(
    "q147_image_neardup",
    (s, _) => {
      import graft.ext.Multimodal
      // barrier (r18): synthesize PNG/WAV-encodes every payload in a
      // mapPartitions — opaque and expensive — and the media table feeds
      // several plan branches below; pin it so the codec pass runs once
      val media = Multimodal.synthesize(s, 3000L).barrier()
      val dups = media.filter(col("kind") === "image" && col("media_id") % 30 === 0)
        .withColumn("media_id", col("media_id") + 1000000L)
      Multimodal.imageNearDupPairs(media.unionByName(dups), maxHamming = 3)
    },
    None)

  /** CANONICAL IMAGE SELECTION — the multimodal twin of q67's text
    * canonicalization, closing the image dedup LOOP (q147 finds pairs;
    * this picks survivors): perceptual near-dup pairs → connected
    * components ([[graft.ext.Components]]) → one keeper per component,
    * by (payload size desc, media_id) — "keep the highest-fidelity copy",
    * the resolution a training-corpus ingest actually applies. Rows-only
    * (the aHash edge set is decoder-derived); the planted re-ingests must
    * each collapse into their original's component, spec-pinned by the
    * component sizes. */
  val q189ImageCanonical: Q = Q(
    "q189_image_canonical",
    (s, _) => {
      import graft.ext.{Components, Multimodal}
      // barrier (r18): synthesize PNG/WAV-encodes every payload in a
      // mapPartitions — opaque and expensive — and the media table feeds
      // several plan branches below; pin it so the codec pass runs once
      val media = Multimodal.synthesize(s, 3000L).barrier()
      val dups = media.filter(col("kind") === "image" && col("media_id") % 30 === 0)
        .withColumn("media_id", col("media_id") + 1000000L)
      val corpus = media.unionByName(dups)
        .filter(col("kind") === "image")
        .select(col("media_id"), length(col("payload")).cast("long").as("bytes"))
        .barrier() // feeds nodes AND the keeper scoring
      val pairs = Multimodal.imageNearDupPairs(
        media.unionByName(dups), maxHamming = 3)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val comp = Components.connectedComponents(
        corpus.select(col("media_id").as("id")), pairs)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("comp"))
        .orderBy(col("bytes").desc, col("media_id"))
      comp.join(corpus, col("id") === col("media_id"))
        .withColumn("n_members", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("comp").as("component"), col("media_id").as("keep_media_id"),
          col("bytes"), col("n_members"))
    },
    None)

  /** Deterministic train/test split (§2.11, ref 04:93-95): the reference
    * does a driver-side sklearn split; the Spark-native analogue assigns
    * each row by a stable key function — reproducible across runs/engines,
    * no sampling state, no driver data. 80/20 on the key, per-split class
    * balance as the output (the check every training pipeline runs). */
  val q64TrainTestSplit: Q = Q(
    "q64_train_test_split",
    (s, dir) => {
      val o = graft.QueryDsl.t(s, dir, "orders")
      o.withColumn("split", when(col("o_orderkey") % 5 === 0, "test").otherwise("train"))
        .withColumn("label", (col("o_totalprice") > 150000).cast("int"))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_rows"),
          graft.QueryDsl.countIf(col("label") === 1).as("n_positive"),
          (graft.QueryDsl.countIf(col("label") === 1).cast("double") / count(lit(1)))
            .as("positive_rate"))
    },
    Some("""
      SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'test' ELSE 'train' END AS split,
        COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT)
          / CAST(COUNT(*) AS DOUBLE) AS positive_rate
      FROM orders
      GROUP BY 1
    """))

  /** Multimodal PLUMBING oracle twin of q60: everything except the
    * (honestly stubbed, engine-specific) codec is deterministic arithmetic
    * — kind assignment, metadata derivation, aspect-preserving resize
    * math, stride-30 frame sampling — so DuckDB re-derives it from
    * generate_series and the plumbing becomes a hard correctness row
    * (q60 stays rows-only for the decode path). */
  val q79MultimodalMeta: Q = Q(
    "q79_multimodal_meta",
    (s, _) => {
      import graft.ext.Multimodal
      // barrier (r18): synthesize PNG/WAV-encodes every payload in a
      // mapPartitions — opaque and expensive — and the media table feeds
      // several plan branches below; pin it so the codec pass runs once
      val media = Multimodal.synthesize(s, 3000L).barrier()
      val frames = Multimodal.sampleFrames(media, stride = 30)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
      Multimodal.resizeMeta(media, 512)
        .join(frames, Seq("media_id"), "left")
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n_media"),
          sum(col("meta.width")).as("sum_width"),
          sum(col("meta.height")).as("sum_height"),
          sum(coalesce(col("n_sampled"), lit(0L))).as("n_frames_sampled"),
          max(col("meta.n_frames")).as("max_frames"))
    },
    Some("""
      WITH m AS (
        SELECT v,
          CASE CAST(v % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
          CASE WHEN v % 3 = 0 THEN CAST(v % 1024 + 64 AS INT) END AS w,
          CASE WHEN v % 3 = 0 THEN CAST(v % 768 + 64 AS INT) END AS h,
          CASE WHEN v % 3 = 2 THEN CAST(v % 300 + 30 AS INT) END AS n_frames
        FROM generate_series(0, 2999) t(v)
      ), r AS (
        SELECT kind, n_frames,
          CASE WHEN w IS NULL THEN NULL
            WHEN greatest(w, h) > 512
              THEN CAST(floor(w * (512.0 / greatest(w, h))) AS INT)
            ELSE w END AS rw,
          CASE WHEN h IS NULL THEN NULL
            WHEN greatest(w, h) > 512
              THEN CAST(floor(h * (512.0 / greatest(w, h))) AS INT)
            ELSE h END AS rh
        FROM m
      )
      SELECT kind, COUNT(*) AS n_media,
        CAST(SUM(rw) AS BIGINT) AS sum_width,
        CAST(SUM(rh) AS BIGINT) AS sum_height,
        CAST(SUM(CASE WHEN kind = 'video' THEN (n_frames - 1) // 30 + 1
          ELSE 0 END) AS BIGINT) AS n_frames_sampled,
        MAX(n_frames) AS max_frames
      FROM r
      GROUP BY kind
    """))

  /** AUDIO NEAR-DUP ([[graft.ext.Multimodal.audioNearDupPairs]]): the
    * q147 construction on the audio modality — 64-bit envelope
    * fingerprints over the REAL javax.sound WAV decode, same band-
    * blocked hamming pairs. Planted re-ingests (every 30th audio row
    * duplicated) must surface at hamming 0. Rows-only (DuckDB decodes
    * no WAV); MultimodalSpec covers the fingerprint + blocking. */
  val q148AudioNearDup: Q = Q(
    "q148_audio_neardup",
    (s, _) => {
      import graft.ext.Multimodal
      // barrier (r18): synthesize PNG/WAV-encodes every payload in a
      // mapPartitions — opaque and expensive — and the media table feeds
      // several plan branches below; pin it so the codec pass runs once
      val media = Multimodal.synthesize(s, 3000L).barrier()
      val dups = media.filter(col("kind") === "audio" && col("media_id") % 30 === 1)
        .withColumn("media_id", col("media_id") + 1000000L)
      Multimodal.audioNearDupPairs(media.unionByName(dups), maxHamming = 3)
    },
    None)

  val all: Seq[Q] = Seq(q54Medallion, q60Multimodal, q64TrainTestSplit,
    q79MultimodalMeta, q147ImageNearDup, q148AudioNearDup, q189ImageCanonical)
}
