package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: image/audio/video
  * as opaque `binary` columns with typed metadata, plus decode/feature/
  * frame-sample operators.
  *
  * The image path is a REAL codec: synthesized image rows carry genuine PNG
  * bytes and [[decodeImage]] decodes them with the JDK's `javax.imageio`
  * (format-sniffing, so PNG/BMP/GIF/JPEG all work) into a luminance-histogram
  * feature vector. Audio/video decode stays STUBBED with a deterministic
  * fake (`decodeStub`) because no audio/video codec libraries ship in this
  * environment — the `(bytes, kind) => Array[Float]` signature in [[decode]]
  * is the swap point; no plumbing changes needed.
  *
  * Scale notes: binary payloads ride the columnar format untouched
  * (parquet stores them as BYTE_ARRAY); `mapPartitions` gives the decoder
  * one JVM-local iterator per partition — the Scala analogue of
  * `mapInPandas` batching — so a native decoder amortizes init per
  * partition, not per row. Feature extraction emits fixed-width float
  * arrays ready for [[Similarity]].
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = false)))

  /** Deterministic synthetic media table — stands in for a real ingest;
    * executors synthesize their own partitions. Image rows carry REAL PNG
    * bytes (a small deterministic thumbnail, decodable by any PNG reader)
    * and audio rows REAL RIFF/WAVE PCM bytes (decodable by the JDK's own
    * javax.sound reader); video payloads are opaque hash bytes, matching
    * the stubbed decode path for that kind. Payloads are deliberately
    * small (≤19×15 px / ≤319 samples) so synthesis stays O(rows); `meta`
    * carries the full-size dimensions the resize/sampling plumbing
    * operates on, as a real ingest's sidecar metadata would. */
  def synthesize(spark: SparkSession, n: Long): DataFrame = {
    val kinds = array(lit("image"), lit("audio"), lit("video"))
    val base = spark.range(n)
      .withColumn("media_id", col("id"))
      .withColumn("kind", element_at(kinds, (col("id") % 3 + 1).cast("int")))
      .withColumn("payload", sha2(col("id").cast("string"), 256).cast("binary"))
      .withColumn("meta", struct(
        when(col("kind") === "image", (col("id") % 1024 + 64).cast("int")).as("width"),
        when(col("kind") === "image", (col("id") % 768 + 64).cast("int")).as("height"),
        when(col("kind") === "audio", lit(8000)).as("sample_rate"),
        when(col("kind") === "video", (col("id") % 300 + 30).cast("int")).as("n_frames")))
      .select("media_id", "kind", "payload", "meta")
    val enc = org.apache.spark.sql.Encoders.row(base.schema)
    base.mapPartitions { rows =>
      rows.map { r =>
        r.getString(1) match {
          case "image" =>
            Row(r.getLong(0), r.getString(1), synthImagePng(r.getLong(0)), r.getStruct(3))
          case "audio" =>
            Row(r.getLong(0), r.getString(1), synthAudioWav(r.getLong(0)), r.getStruct(3))
          case _ => r
        }
      }
    }(enc)
  }

  /** Deterministic tiny RGB image, encoded as genuine PNG bytes via the
    * JDK's ImageIO (no external codec libraries needed). Pixels are an LCG
    * of (id, x, y), so the same id always yields the same image. */
  def synthImagePng(id: Long): Array[Byte] = {
    val w = (id % 16 + 4).toInt
    val h = (id % 12 + 4).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var s = id * 1000003L + y.toLong * 1009L + x.toLong
        s = s * 6364136223846793005L + 1442695040888963407L
        img.setRGB(x, y, ((s >>> 40) & 0xffffffL).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode via `javax.imageio`: sniffs the container format
    * (PNG, BMP, GIF, JPEG — whatever the JDK readers support), decodes to
    * pixels, and emits a `dim`-bin normalized luminance histogram (Rec.601
    * integer weights) — a deterministic, resolution-invariant feature
    * vector. Returns None for null/undecodable payloads so the caller can
    * choose a fallback instead of poisoning the partition. */
  def decodeImage(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val out = new Array[Float](dim)
        val (w, h) = (img.getWidth, img.getHeight)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            out(lum * dim / 256) += 1f
            x += 1
          }
          y += 1
        }
        // Long product: a ≥2^31-pixel image would overflow Int w*h into a
        // negative count and corrupt the whole vector instead of None-ing
        val n = (w.toLong * h).toFloat
        var i = 0
        while (i < dim) { out(i) /= n; i += 1 }
        Some(out)
      }
    } catch {
      // NOT just IOException: the JDK readers throw RuntimeExceptions
      // (IllegalArgument / ArrayIndexOutOfBounds / NegativeArraySize) on
      // payloads with a valid signature but corrupted body — any of them
      // escaping would kill the partition task, the exact outcome this
      // None contract exists to prevent
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Deterministic tiny PCM WAV (mono, 16-bit, 8 kHz): an integer
    * sawtooth with LCG jitter — pure integer synthesis, bit-identical on
    * any platform, and a genuine RIFF/WAVE container the JDK's own
    * javax.sound reader decodes. The audio twin of [[synthImagePng]]. */
  def synthAudioWav(id: Long): Array[Byte] = {
    val n = (id % 256 + 64).toInt
    val samples = new Array[Short](n)
    var s = id * 2654435761L + 12345L
    var i = 0
    while (i < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val saw = ((i * (id % 17 + 3)) % 64).toInt * 512 - 16384
      val jitter = (s >>> 48).toShort / 8
      samples(i) = (saw + jitter).toShort
      i += 1
    }
    val bytes = new Array[Byte](n * 2)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asShortBuffer().put(samples)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode via `javax.sound.sampled` — WAV/PCM support ships
    * IN the JDK, no external codec needed (compressed formats like
    * MP3/AAC would; those still stub). Emits a `dim`-bin mean-|amplitude|
    * time envelope normalized to [0,1]: integer sample sums per bin, one
    * float division at the end — deterministic, duration-invariant
    * binning. None for null/non-WAV/non-16-bit payloads, the
    * [[decodeImage]] contract. */
  def decodeAudio(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
    if (payload == null) return None
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) return None
      val raw = ais.readAllBytes()
      val n = raw.length / 2
      if (n == 0) return None
      val sb = java.nio.ByteBuffer.wrap(raw)
        .order(if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        .asShortBuffer()
      val sums = new Array[Long](dim)
      val cnts = new Array[Long](dim)
      var i = 0
      while (i < n) {
        sums((i.toLong * dim / n).toInt) += math.abs(sb.get(i).toLong)
        cnts((i.toLong * dim / n).toInt) += 1
        i += 1
      }
      val out = new Array[Float](dim)
      var c = 0
      while (c < dim) {
        out(c) = if (cnts(c) == 0) 0f else (sums(c).toFloat / cnts(c)) / 32768f
        c += 1
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Codec dispatch: real ImageIO decode for images, real javax.sound
    * decode for WAV/PCM audio (stub fallback only when the payload isn't
    * decodable), deterministic stub for video (no container demuxer in
    * the JDK — this `(bytes, kind) => Array[Float]` signature is the
    * swap point). */
  def decode(payload: Array[Byte], kind: String, dim: Int): Array[Float] =
    kind match {
      case "image" => decodeImage(payload, dim).getOrElse(decodeStub(payload, kind, dim))
      case "audio" => decodeAudio(payload, dim).getOrElse(decodeStub(payload, kind, dim))
      case _       => decodeStub(payload, kind, dim)
    }

  /** STUB decoder for kinds without an in-JVM codec (audio/video):
    * deterministic pseudo-features from payload bytes. */
  def decodeStub(payload: Array[Byte], kind: String, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (payload != null) {
      var h = kind.hashCode.toLong & 0xffffffffL
      var i = 0
      while (i < dim) {
        h = h * 6364136223846793005L + 1442695040888963407L + payload(i % payload.length)
        out(i) = ((h >>> 33).toInt % 1000) / 1000.0f
        i += 1
      }
    }
    out
  }

  /** Per-partition feature extraction: one decoder instance per partition
    * (the `mapInPandas` batching analogue), fixed-dim output contract. */
  def featurize(media: DataFrame, dim: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "kind", "payload").mapPartitions { rows =>
      // decoder init happens HERE, once per partition:
      rows.map { r =>
        Row(r.getLong(0), r.getString(1),
          decode(r.getAs[Array[Byte]]("payload"), r.getString(1), dim).toSeq)
      }
    }(enc)
  }

  /** REAL image RESIZE via the JDK's Graphics2D (bilinear): scale so the
    * longest side is `maxDim` (never upscale), re-encode as PNG. The
    * thumbnail/normalize step of a multimodal ingest — run BEFORE
    * feature extraction so every downstream op sees bounded pixel
    * counts, and the dominant byte-size reducer for a 100 TB image
    * corpus. None for null/undecodable payloads ([[decodeImage]]'s
    * contract); an already-small image passes through re-encoded (the
    * output is always a fresh, normalized PNG container). */
  def resizeImage(payload: Array[Byte], maxDim: Int): Option[Array[Byte]] = {
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
        val (nw, nh) = (math.max(1, math.round(w * scale).toInt),
          math.max(1, math.round(h * scale).toInt))
        val out = new java.awt.image.BufferedImage(nw, nh,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, nw, nh, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-partition image resize ([[resizeImage]]) — the [[featurize]]
    * mapPartitions shape: one codec context per partition, non-image
    * rows pass through untouched, undecodable images yield a null
    * payload (quarantine-able downstream, never a killed task). Adds
    * the post-resize byte size so a pipeline can assert its reduction. */
  def resizeImages(media: DataFrame, maxDim: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("n_bytes", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "kind", "payload").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = r.getString(1)
        val payload = r.getAs[Array[Byte]]("payload")
        val out = if (kind == "image") resizeImage(payload, maxDim).orNull
          else payload
        Row(id, kind, out, if (out == null) null else out.length.toLong)
      }
    }(enc)
  }

  /** 64-bit AVERAGE-HASH perceptual fingerprint of an image payload (the
    * classic aHash): decode, integer 8×8 average-pool the Rec.601
    * luminance, set bit (r,c) iff its cell mean exceeds the global mean.
    * Robust to resizing/re-encoding (the pooling discards resolution),
    * which byte-level hashing is not — the standard cheap screen for
    * near-duplicate IMAGES in a multimodal corpus. All-integer: the
    * mean comparison is the exact cross-multiplication
    * `cellSum·nTotal > totalSum·nCell` (no float, no division), so the
    * hash is bit-stable across JVMs/platforms. Images ≥ 2^30 px return
    * None before the products could overflow: the worst cross-product is
    * cellSum·nTotal ≈ 255·(n/64)·n ≈ 4n², which clears Long.MaxValue
    * from n ≈ 1.5e9 — so the cutoff must sit BELOW that, not at
    * Int.MaxValue (2.15e9). 2^30 px leaves a 2× margin (4·(2^30)² ≈
    * 4.6e18 < 9.2e18). None for undecodable payloads, same contract as
    * [[decodeImage]]. */
  def aHash(payload: Array[Byte]): Option[Long] = {
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth.toLong * img.getHeight >= (1L << 30)) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val sums = new Array[Long](64)
        val cnts = new Array[Long](64)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            val cell = (y * 8 / h) * 8 + (x * 8 / w)
            sums(cell) += lum
            cnts(cell) += 1
            x += 1
          }
          y += 1
        }
        val totalSum = sums.sum
        val nTotal = w.toLong * h
        var hash = 0L
        var c = 0
        while (c < 64) {
          if (cnts(c) > 0 && sums(c) * nTotal > totalSum * cnts(c))
            hash |= (1L << c)
          c += 1
        }
        Some(hash)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** (media_id, ahash) for every DECODABLE image row — per-partition
    * decode like [[featurize]]; undecodable rows drop (they can't be
    * perceptually compared). */
  def aHashes(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.filter(col("kind") === "image").select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          aHash(r.getAs[Array[Byte]]("payload")).map(h => Row(r.getLong(0), h))
        }
      }(enc)
  }

  /** NEAR-DUPLICATE PAIRS over any 64-bit perceptual fingerprint table
    * ((media_id, hash)): block candidates on 4×16-bit hash bands (the
    * SimHash pigeonhole — any pair within hamming ≤ 3 shares at least
    * one intact band, so the blocking is LOSSLESS for `maxHamming` ≤ 3;
    * beyond that it's the recall dial), verify by exact
    * `bit_count(xor)`. One aggregate per (band, key) bucket, no self-join
    * ([[Dedup.bucketPayloadPairs]]) — the [[Dedup]] LSH shape for
    * fixed-width fingerprints. Output (id_a, id_b, hamming), id_a < id_b. */
  def hashNearDupPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val bands = hashes.select(col("media_id").as("id"), col("hash").as("payload"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("hash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*))
        .as("bucket"))
    Dedup.bucketPayloadPairs(bands)
      .select(col("id_a"), col("id_b"),
        bit_count(col("payload_a").bitwiseXOR(col("payload_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Image near-dup pairs: [[aHash]] fingerprints → [[hashNearDupPairs]]
    * (one real-decode scan feeds the band join). */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    hashNearDupPairs(aHashes(media).withColumnRenamed("ahash", "hash"), maxHamming)

  /** 64-bit audio fingerprint over the REAL WAV decode: bit b set iff
    * the 64-bin mean-|amplitude| envelope exceeds its own mean in bin b
    * — the [[aHash]] construction on the time axis, invariant to
    * duration (binning) and overall gain (mean threshold). */
  def audioFingerprint(payload: Array[Byte]): Option[Long] =
    decodeAudio(payload, 64).map { env =>
      val mean = env.sum / 64f
      var h = 0L
      var b = 0
      while (b < 64) { if (env(b) > mean) h |= (1L << b); b += 1 }
      h
    }

  /** (media_id, hash) for every decodable audio row. */
  def audioFingerprints(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("hash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.filter(col("kind") === "audio").select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          audioFingerprint(r.getAs[Array[Byte]]("payload")).map(h => Row(r.getLong(0), h))
        }
      }(enc)
  }

  /** Audio near-dup pairs: envelope fingerprints → [[hashNearDupPairs]]. */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    hashNearDupPairs(audioFingerprints(media), maxHamming)

  /** Frame sampling plumbing for video rows: one output row per sampled
    * frame index (every `stride`-th frame) — the explode-shaped generator a
    * real frame extractor plugs into. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), coalesce(col("meta.n_frames"), lit(1)) - 1,
          lit(stride))))
      .select(col("media_id"), col("frame_idx"), col("payload"))

  /** Metadata-only resize op: proves nested-struct column surgery without
    * touching payloads (the real resize replaces payload too). */
  def resizeMeta(media: DataFrame, maxDim: Int): DataFrame = {
    val w = col("meta.width")
    val h = col("meta.height")
    val scale = when(greatest(w, h) > maxDim,
      lit(maxDim).cast("double") / greatest(w, h)).otherwise(lit(1.0))
    media.withColumn("meta", struct(
      (w * scale).cast("int").as("width"),
      (h * scale).cast("int").as("height"),
      col("meta.sample_rate").as("sample_rate"),
      col("meta.n_frames").as("n_frames")))
  }
}
