package graft.ext

import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVF×PQ index as a MAINTAINED ARTIFACT — the production shape of the
  * billion-vector ANN deployment, where q120–q123's inline index builds are
  * the algorithm demo. A deployment trains its quantizers once (offline, on
  * a sample), persists them, and then extends the code table incrementally
  * as vectors arrive — existing vectors are never re-read, and search hits
  * the persisted codes. This module wires [[Similarity]]'s primitives into
  * that flow. Unlike the other maintained stream artifacts, which record
  * applied batches in their table's log
  * ([[graft.sources.VersionedTable.commitBatch]]), the index records them
  * in its shard manifest: compaction re-registers batch ids per
  * generation, and two generations coexist during a retrain:
  *
  * Layout under `base/`:
  *  - `quantizer/` — a [[VersionedTable]]: ONE atomic commit per retrain
  *    generation carrying BOTH the coarse centroids and the residual PQ
  *    codebooks (rows tagged `kind ∈ {centroid, book}`), so a reader can
  *    never observe centroids from one generation with books from another.
  *    An OPQ generation (`train(opq = true)`, r13) adds the rotation model
  *    to the SAME commit (`kind ∈ {opq_mean, opq_eig, opq_comp}`) — codes
  *    in the rotated space are meaningless without it, so encode and
  *    search resolve model and books from one snapshot, never a mix.
  *    Versioned like any table: history, time travel, single-writer commit
  *    markers.
  *  - `index/gen=<G>/batch=<B>/` — the encoded corpus (id, cid, codes),
  *    one parquet shard per ingested micro-batch, partitioned by quantizer
  *    generation. Shards are append-only per generation; a replayed batch
  *    OVERWRITES its own shard with bit-identical content (encoding is a
  *    pure per-row function of the frozen generation-`G` quantizers —
  *    extension == rebuild, spec-pinned in SimilaritySpec), so streaming
  *    replay is idempotent with no read-side dedup.
  *  - `shards/` — a [[VersionedTable]] of (gen, shard-path) rows: the
  *    MANIFEST. Readers list the code table through the manifest's current
  *    snapshot, never by directory listing, which is what makes
  *    [[compact]] an atomic metadata swap (Delta's log-over-files shape,
  *    here built from the same commit-marker machinery every other
  *    versioned artifact in this library already uses): a reader planned
  *    against the pre-compaction manifest keeps reading the old shard
  *    files — they stay on disk until [[vacuum]] — while new readers see
  *    only the compacted shard. Directory listing would instead give a
  *    non-atomic delete-then-read window and double- or zero-counted rows.
  *
  * Retraining commits quantizer version G+1 and starts an EMPTY
  * `gen=<G+1>` shard set: the caller backfills by re-encoding the corpus
  * through [[extendBatch]] (extension == rebuild makes that equivalent to
  * a from-scratch build), while generation-G readers are untouched until
  * the switch — the same isolation [[VersionedTable]] gives data commits.
  *
  * 100 TB shape: quantizers are dial-sized (√n centroids, m·ksub book
  * rows — broadcast at any corpus scale); the index is m small ints per
  * vector, the ONLY corpus-proportional artifact; per-batch ingest cost is
  * one broadcast-centroid assignment + one broadcast-book encode over the
  * BATCH alone; search scans nProbe/|lists| of the codes
  * ([[Similarity.ivfPqResidualTopK]]) and never touches raw vectors. The
  * manifest itself is metadata (one short row per shard): its per-commit
  * copy-on-write rewrite is O(shard count), which [[compact]] keeps
  * bounded — the same reason Delta checkpoints its log.
  */
object AnnIndex {

  private def quantizerPath(base: String) = s"$base/quantizer"
  private def shardsPath(base: String) = s"$base/shards"
  private def genPath(base: String, gen: Long) = s"$base/index/gen=$gen"
  private def shardPath(base: String, gen: Long, batchId: Long) =
    s"${genPath(base, gen)}/batch=$batchId"

  // Quantizer-table commit operations. A generation is SERVING once its
  // introducing commit is `train` (bootstrap — nothing older to serve) or
  // once a later `promote` commit blesses it; `train-pending` generations
  // are invisible to search until promoted (two-phase retrain: a retrain
  // must not cause a search outage while its backfill runs).
  private val OpTrain = "train"
  private val OpPending = "train-pending"
  private val OpPromote = "promote"

  private def trainQuantizer(spark: SparkSession, base: String, sample: DataFrame,
      nCentroids: Int, m: Int, ksub: Int, iters: Int, op: String,
      opq: Boolean): Long = {
    import spark.implicits._
    val cents = sample.filter(col("id") < nCentroids)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val (books, modelOpt) =
      if (opq) {
        val (b, mdl) = Similarity.opqBooks(sample, cents, m, ksub, iters)
        (b, Some(mdl))
      } else (Similarity.ivfPqResidual(sample, cents, m, ksub, iters)._2, None)
    val qdf = cents.select(lit("centroid").as("kind"),
        col("cid").cast("long").as("cid"),
        lit(null).cast("int").as("subspace"), col("cvec"))
      .unionByName(books.select(lit("book").as("kind"),
        col("cid").cast("long").as("cid"),
        col("subspace").cast("int").as("subspace"), col("cvec")))
    // The OPQ rotation is part of the generation's frozen quantizer state
    // (codes are meaningless without it) — persisted as extra kind rows in
    // the SAME commit, so a search can never pair rotated codes with a
    // missing/mismatched model: `opq_mean` (one row), `opq_comp` (one row
    // per component, ordered by cid = the post-allocation axis index),
    // `opq_eig` (eigenvalues, provenance).
    val qdfAll = modelOpt match {
      case None => qdf
      case Some(mdl) =>
        val rows =
          Seq(("opq_mean", -1L, mdl.mean.toSeq)) ++
          Seq(("opq_eig", -1L, mdl.eigenvalues.toSeq)) ++
          mdl.components.zipWithIndex.map { case (c, i) =>
            ("opq_comp", i.toLong, c.toSeq) }
        qdf.unionByName(rows.toDF("kind", "cid", "cvec")
          .select(col("kind"), col("cid"),
            lit(null).cast("int").as("subspace"), col("cvec")))
    }
    VersionedTable.commit(spark, quantizerPath(base), qdfAll, op)
  }

  /** Train and commit a new quantizer generation from `sample`
    * ((id, vec), ids dense from 0): coarse centroids = the first
    * `nCentroids` ids (the q92 protocol — a k-means refinement drops in
    * without changing the artifact shape), residual PQ codebooks per the
    * [[Similarity.ivfPqResidual]] seed protocol (oracle-exact; pass
    * `iters > 1` for Lloyd-trained books). The generation serves
    * IMMEDIATELY — this is the bootstrap path (there is nothing older to
    * keep serving); for retraining a live index use [[retrain]] +
    * [[promote]]. Returns the new generation. */
  def train(spark: SparkSession, base: String, sample: DataFrame,
      nCentroids: Int, m: Int, ksub: Int, iters: Int = 1,
      opq: Boolean = false): Long =
    trainQuantizer(spark, base, sample, nCentroids, m, ksub, iters, OpTrain, opq)

  /** Phase one of a two-phase retrain: commit generation G+1 as PENDING.
    * Searches keep serving the current promoted generation untouched;
    * [[extendBatch]] switches to encoding into the pending generation (the
    * backfill). When the backfill is complete, [[promote]] flips serving
    * atomically. Returns the pending generation. */
  def retrain(spark: SparkSession, base: String, sample: DataFrame,
      nCentroids: Int, m: Int, ksub: Int, iters: Int = 1,
      opq: Boolean = false): Long =
    trainQuantizer(spark, base, sample, nCentroids, m, ksub, iters, OpPending, opq)

  /** The latest pending (committed, not yet promoted) generation, if any. */
  def pendingGen(spark: SparkSession, base: String): Option[Long] =
    VersionedTable.commits(spark, quantizerPath(base)).lastOption
      .collect { case (v, _, OpPending) => v }

  /** Phase two of a two-phase retrain: bless the latest pending generation
    * as serving. Requires its backfill to have started (≥1 manifested
    * shard) — promoting an empty generation would trade stale-but-correct
    * results for an outage, the exact thing two-phase exists to avoid.
    * The promotion is ONE quantizer-table commit (the pending generation's
    * own centroids/books re-committed with a `gen` marker row under op
    * `promote` — full data, not just a pointer, so [[VersionedTable
    * .vacuum]]'s keep-current-version rule can never strand the serving
    * quantizer): a search resolves either the old generation's
    * (quantizer, manifest-rows) pair or the new one's, never a mix.
    * Returns the now-serving generation. */
  def promote(spark: SparkSession, base: String): Long = {
    val gen = pendingGen(spark, base).getOrElse(throw new IllegalStateException(
      s"nothing pending at $base — run retrain first"))
    if (currentShards(spark, base, gen).isEmpty) throw new IllegalStateException(
      s"pending generation $gen at $base has no ingested shards — backfill via extendBatch before promote")
    val q = VersionedTable.readVersion(spark, quantizerPath(base), gen)
    val genRow = q.sparkSession.range(1)
      .select(lit("gen").as("kind"), lit(gen).cast("long").as("cid"),
        lit(null).cast("int").as("subspace"),
        lit(null).cast("array<double>").as("cvec"))
    VersionedTable.commit(spark, quantizerPath(base),
      q.unionByName(genRow), OpPromote)
    gen
  }

  /** The generation a quantizer-table VERSION describes: `train`/
    * `train-pending` commits introduce a generation numbered by their own
    * version; a `promote` commit re-publishes an earlier generation and
    * names it in its `gen` marker row. */
  private def genOfVersion(spark: SparkSession, base: String,
      version: Long, op: String): Long =
    if (op != OpPromote) version
    else VersionedTable.readVersion(spark, quantizerPath(base), version)
      .filter(col("kind") === "gen").select(col("cid")).head.getLong(0)

  /** Resolve the quantizer to (gen, centroids, books, m). `serving=true`
    * resolves the newest PROMOTED generation (what searches read);
    * `serving=false` the newest generation outright, pending included
    * (what backfill writes). `m` is derived from the books (max subspace
    * + 1) — the artifact is self-describing, callers never re-supply
    * training parameters. */
  private def resolve(spark: SparkSession, base: String, serving: Boolean)
      : (Long, DataFrame, DataFrame, Int, Option[Pca.Model]) = {
    val commits = VersionedTable.commits(spark, quantizerPath(base))
    if (commits.isEmpty) throw new IllegalStateException(
      s"no trained quantizer at $base — run AnnIndex.train first")
    val (v, _, op) = (if (serving) commits.reverse.find(_._3 != OpPending)
                      else commits.lastOption)
      .getOrElse(throw new IllegalStateException(
        s"no promoted quantizer generation at $base — only pending retrains exist; backfill and promote first"))
    val gen = genOfVersion(spark, base, v, op)
    val q = VersionedTable.readVersion(spark, quantizerPath(base), v)
    val cents = q.filter(col("kind") === "centroid")
      .select(col("cid"), col("cvec"))
    val books = q.filter(col("kind") === "book")
      .select(col("cid").cast("int").as("cid"), col("subspace"), col("cvec"))
    val m = books.agg(max(col("subspace"))).head.getInt(0) + 1
    // OPQ rows, if this generation encodes rotated residuals — the model
    // is d+2 tiny rows, driver-side by design (plan-literal at use sites)
    val opqRows = q.filter(col("kind").startsWith("opq_"))
      .select(col("kind"), col("cid"), col("cvec")).collect()
    val model =
      if (opqRows.isEmpty) None
      else Some(Pca.Model(
        opqRows.find(_.getString(0) == "opq_mean").get.getSeq[Double](2).toArray,
        opqRows.find(_.getString(0) == "opq_eig").get.getSeq[Double](2).toArray,
        opqRows.filter(_.getString(0) == "opq_comp").sortBy(_.getLong(1))
          .map(_.getSeq[Double](2).toArray)))
    (gen, cents, books, m, model)
  }

  /** The SERVING quantizer generation: (gen, centroids, books, m). */
  def quantizer(spark: SparkSession, base: String): (Long, DataFrame, DataFrame, Int) = {
    val (gen, cents, books, m, _) = resolve(spark, base, serving = true)
    (gen, cents, books, m)
  }

  private def latestQuantizer(spark: SparkSession, base: String): (Long, DataFrame, DataFrame, Int) = {
    val (gen, cents, books, m, _) = resolve(spark, base, serving = false)
    (gen, cents, books, m)
  }

  /** The serving generation's number, if any generation is promoted. */
  private def servingGenOpt(spark: SparkSession, base: String): Option[Long] =
    VersionedTable.commits(spark, quantizerPath(base)).reverse
      .find(_._3 != OpPending)
      .map { case (v, _, op) => genOfVersion(spark, base, v, op) }

  /** Qualify a shard path against its filesystem (scheme + authority made
    * explicit) so path identity is stable across runs that spell `base`
    * differently (relative vs absolute, `file:/` vs bare). Manifest rows
    * store the QUALIFIED string; every comparison (replay dedup, vacuum
    * liveness) goes through the same normalization. */
  private def qualify(spark: SparkSession, p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(path).toString
  }

  /** The manifest's current (batchId, shard) rows for generation `gen`.
    * `None` = no manifest table exists at all (nothing ever ingested);
    * `Some(empty)` = manifest exists but has no rows for this generation
    * (fresh retrain awaiting backfill).
    *
    * Replay identity is the BATCH ID, not the shard path: [[compact]]
    * replaces batch paths with a `compact=N` path but re-registers every
    * batchId it covers against that path, so an at-least-once streaming
    * replay of an already-compacted batch is still recognized and skipped
    * — dedup by path alone would re-ingest it alongside the compacted
    * rows and double-count them. */
  private def allManifestRows(spark: SparkSession,
      base: String): Option[Seq[(Long, Long, String)]] =
    VersionedTable.read(spark, shardsPath(base)).map { df =>
      df.select(col("gen"), col("batch_id"), col("shard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
        .sortBy(r => (r._1, r._2, r._3))
    }

  private def manifestRows(spark: SparkSession, base: String,
      gen: Long): Option[Seq[(Long, String)]] =
    allManifestRows(spark, base)
      .map(_.filter(_._1 == gen).map(r => (r._2, r._3)))

  /** Distinct manifested shard paths for `gen` (sorted; empty if no
    * manifest or no rows). */
  private def currentShards(spark: SparkSession, base: String, gen: Long): Seq[String] =
    manifestRows(spark, base, gen).getOrElse(Seq.empty)
      .map(_._2).distinct.sorted

  /** Commit a new manifest snapshot holding exactly `rows` ((batchId,
    * shard)) for `gen`, RETAINING other generations' rows down to the
    * serving generation — during a two-phase retrain the serving and
    * pending generations coexist, and a backfill commit for the pending
    * generation must not blind searches to the serving one's shards.
    * Generations older than serving are dead (nothing resolves them) and
    * their rows are dropped; the superseded listing survives in the
    * manifest's own history (time travel). */
  private def commitShards(spark: SparkSession, base: String, gen: Long,
      rows: Seq[(Long, String)], operation: String): Long = {
    import spark.implicits._
    val floor = servingGenOpt(spark, base).getOrElse(Long.MinValue)
    val others = allManifestRows(spark, base).getOrElse(Seq.empty)
      .filter(r => r._1 != gen && r._1 >= floor)
    VersionedTable.commit(spark,
      shardsPath(base),
      (others ++ rows.map { case (b, s) => (gen, b, s) })
        .toDF("gen", "batch_id", "shard"),
      operation)
  }

  /** Encode `batch` ((id, vec)) against the CURRENT frozen quantizers,
    * write it as that generation's shard `batchId`, and register the shard
    * in the manifest — the incremental extension step. Idempotent under
    * replay BY BATCH ID: an already-manifested batchId is skipped outright
    * (no shard write, no commit), which stays correct even after
    * [[compact]] folded the batch's rows into a `compact=N` shard — the
    * manifest still carries its batchId. Data precedes metadata (shard
    * write, then manifest commit), the same ordering
    * [[VersionedTable.commit]] itself uses, so a reader can never see a
    * manifested shard without complete data. Returns the generation
    * written to. */
  def extendBatch(spark: SparkSession, base: String, batch: DataFrame,
      batchId: Long): Long = {
    // LATEST generation, pending included: during a two-phase retrain the
    // backfill (and any fresh batches) encode into the pending generation
    // while searches keep serving the promoted one.
    val (gen, cents, books, m, model) = resolve(spark, base, serving = false)
    val existing = manifestRows(spark, base, gen).getOrElse(Seq.empty)
    if (existing.exists(_._1 == batchId)) return gen
    val shard = qualify(spark, shardPath(base, gen, batchId))
    model.fold(Similarity.ivfPqResidualEncode(batch, cents, books, m))(
        mdl => Similarity.ivfPqOpqEncode(batch, cents, books, mdl, m))
      .write.mode("overwrite").parquet(shard)
    commitShards(spark, base, gen, existing :+ (batchId, shard),
      s"extend batch=$batchId")
    gen
  }

  /** The generation-`gen` code table (id, cid, codes) — the union of the
    * MANIFESTED shards. Throws if nothing was ingested into that
    * generation (fresh retrain awaiting backfill). */
  private def readIndexGen(spark: SparkSession, base: String, gen: Long): DataFrame = {
    val shards = currentShards(spark, base, gen)
    if (shards.isEmpty) throw new IllegalStateException(
      s"generation $gen at $base has no ingested shards — backfill via extendBatch")
    spark.read.parquet(shards: _*)
      .select(col("id"), col("cid"), col("codes"))
  }

  /** The current generation's full code table (id, cid, codes). */
  def readIndex(spark: SparkSession, base: String): DataFrame = {
    val (gen, _, _, _) = quantizer(spark, base)
    readIndexGen(spark, base, gen)
  }

  /** Residual-ADC top-k over the PERSISTED index
    * ([[Similarity.ivfPqResidualTopK]] with artifacts loaded from disk):
    * search cost is the probed lists' codes only; the raw corpus is never
    * read. `queries`: (qid, qvec).
    *
    * The quantizer is snapshotted ONCE: generation, centroids, books and
    * the code-table listing all come from the same [[quantizer]] call, so
    * a retrain committing mid-search can never pair one generation's codes
    * with another's centroids (two independent loads would race exactly
    * that way — and pay the quantizer read twice). */
  def search(spark: SparkSession, base: String, queries: DataFrame,
      k: Int, nProbe: Int = 2): DataFrame = {
    val (gen, cents, books, m, model) = resolve(spark, base, serving = true)
    val index = readIndexGen(spark, base, gen)
    // an OPQ generation's codes live in the rotated space — the query must
    // rotate through the SAME persisted model (same commit, never mixed)
    model.fold(
      Similarity.ivfPqResidualTopK(index, cents, books, queries, m, k, nProbe))(
      mdl => Similarity.ivfPqOpqTopK(index, cents, books, mdl, queries, m, k, nProbe))
  }

  /** OPTIMIZE for the code table: rewrite the current generation's
    * manifested shards as `targetFiles` parquet files and atomically swap
    * the manifest to the compacted listing. Streaming ingest accretes one
    * small shard per micro-batch — at scale that is the classic
    * small-file problem (every search pays per-file open/footer cost and
    * the manifest's copy-on-write rewrite grows with shard count);
    * compaction is the standard maintenance answer, exactly as
    * [[graft.plans.Layout]] provides for data tables. The swap is a
    * single manifest commit: in-flight readers planned against the old
    * snapshot keep their files (nothing is deleted here — the superseded
    * shard dirs become garbage that [[vacuum]] collects), new readers see
    * only the compacted shard. Size `targetFiles` so each file lands near
    * the fs block size at the deployment's scale. Returns the number of
    * shards compacted away (0 = nothing to do, no commit made). */
  def compact(spark: SparkSession, base: String, targetFiles: Int = 1): Int = {
    // Compact where shards accrete: the latest generation (== serving
    // outside a retrain window; == the backfilling pending one inside it).
    val (gen, _, _, _) = latestQuantizer(spark, base)
    val rows = manifestRows(spark, base, gen).getOrElse(Seq.empty)
    val shards = rows.map(_._2).distinct.sorted
    if (shards.size <= 1) return 0
    // Suffix the dir with the manifest version the swap will commit, so
    // repeated compactions never collide with a live or garbage dir.
    val nextV = VersionedTable.currentVersion(spark, shardsPath(base))
      .getOrElse(-1L) + 1
    val dest = qualify(spark, s"${genPath(base, gen)}/compact=$nextV")
    spark.read.parquet(shards: _*)
      .select(col("id"), col("cid"), col("codes"))
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(dest)
    // The compacted shard is re-registered under EVERY batchId it covers:
    // replay dedup is batchId-keyed, so a replayed already-compacted batch
    // is still recognized and skipped instead of double-ingested.
    commitShards(spark, base, gen,
      rows.map(_._1).distinct.sorted.map(b => (b, dest)),
      s"compact ${shards.size} shards")
    shards.size
  }

  /** Drop the SHARDS of every generation older than the current one, the
    * current generation's UNMANIFESTED shard dirs (garbage superseded by
    * [[compact]]), and the old version DATA of the quantizer and manifest
    * tables (commit markers are retained, so their
    * [[graft.sources.VersionedTable.history]] survives — the Delta-VACUUM
    * contract). The manifested current generation is never touched, even
    * mid-backfill; a generation becomes vacuumable the moment a newer
    * quantizer commits, because searches only ever read the current
    * generation. Single-writer assumed, like every VersionedTable
    * mutation. */
  def vacuum(spark: SparkSession, base: String): Unit = {
    val (servingGen, _, _, _) = quantizer(spark, base)
    val (latestGen, _, _, _) = latestQuantizer(spark, base)
    // Liveness identity = the same fs-qualified string the manifest
    // stores, resolved PER GENERATION: serving and pending generations can
    // coexist mid-retrain, and each must be swept only against its own
    // manifest rows. A generation with NO manifest rows (no shards/ table,
    // or a raced retrain) is never swept — an empty live set would read as
    // "everything is garbage" and delete live data.
    val liveByGen: Map[Long, Set[String]] =
      allManifestRows(spark, base).getOrElse(Seq.empty)
        .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._3).toSet }
    val indexDir = new org.apache.hadoop.fs.Path(s"$base/index")
    val fs = indexDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(indexDir)) {
      val GenDir = "^gen=(\\d+)$".r
      fs.listStatus(indexDir).foreach { st =>
        st.getPath.getName match {
          case GenDir(g) if g.toLong < servingGen => fs.delete(st.getPath, true)
          case GenDir(g) if liveByGen.contains(g.toLong) =>
            // serving or pending: sweep unmanifested dirs only
            val live = liveByGen(g.toLong)
            fs.listStatus(st.getPath).foreach { sh =>
              if (!live.contains(fs.makeQualified(sh.getPath).toString))
                fs.delete(sh.getPath, true)
            }
          case _ => ()
        }
      }
    }
    // Quantizer-table vacuum keeps only the CURRENT version's data — safe
    // exactly when the current version IS the serving generation. Inside a
    // retrain window (pending commit on top), it would strand searches by
    // dropping the serving quantizer's data; defer until after promote.
    if (latestGen == servingGen)
      VersionedTable.vacuum(spark, quantizerPath(base))
    VersionedTable.vacuum(spark, shardsPath(base))
  }
}
