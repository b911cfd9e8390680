package graft.ext

import graft.{SparkSuite, Tables}
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Lifecycle of the persisted IVF×PQ artifact ([[AnnIndex]]) beyond the
  * streaming-ingest path StreamingSpec covers: retrain generations,
  * backfill, and vacuum.
  */
class AnnIndexSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-annidx").toString

  test("retrain opens an isolated generation; backfill == rebuild; vacuum drops only old data") {
    val base = tmp() + "/ann"
    val emb = Tables.load(spark, sf("e"), "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"cid", $"codes").as[(Long, Long, Seq[Int])].collect().toSet

    // generation 0: train + single-batch ingest + search
    val gen0 = AnnIndex.train(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    assert(gen0 === 0L)
    AnnIndex.extendBatch(spark, base, corpus, batchId = 0L)
    val queries = corpus.filter($"id" < 5)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val s0 = AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(s0.nonEmpty)

    // RETRAIN with different quantizers (coarser: 4 lists). The new
    // generation starts EMPTY — reads against it must fail loudly, not
    // silently serve generation-0 codes encoded with the wrong books.
    val gen1 = AnnIndex.train(spark, base, corpus, nCentroids = 4, m = 4, ksub = 16)
    assert(gen1 === gen0 + 1)
    intercept[Exception] { AnnIndex.readIndex(spark, base).collect() }
    // generation-0 artifacts are untouched by the retrain (snapshot
    // isolation: a reader pinned to quantizer v0 still has its data)
    assert(VersionedTable.readVersion(spark, s"$base/quantizer", gen0)
      .filter($"kind" === "centroid").count() === 8)

    // BACKFILL generation 1 in two batches; extension == rebuild means
    // the result must equal a from-scratch encode with gen-1 quantizers
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === 0), 0L)
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === 1), 1L)
    val (_, cents1, books1, m1) = AnnIndex.quantizer(spark, base)
    assert(rows(AnnIndex.readIndex(spark, base)) ===
      rows(Similarity.ivfPqResidualEncode(corpus, cents1, books1, m1)),
      "backfilled generation must equal a from-scratch rebuild")
    val s1 = AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(s1 === Similarity.ivfPqResidualTopK(
        Similarity.ivfPqResidualEncode(corpus, cents1, books1, m1),
        cents1, books1, queries, m1, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet)

    // VACUUM: generation-0 shards and quantizer-v0 DATA go; the current
    // generation and the quantizer history stay
    AnnIndex.vacuum(spark, base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/index/gen=0")),
      "old generation's shards must be dropped")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/index/gen=1")))
    val hist = VersionedTable.history(spark, s"$base/quantizer")
      .select($"version", $"available").as[(Long, Boolean)].collect().sortBy(_._1)
    assert(hist.toSeq === Seq((0L, false), (1L, true)),
      "quantizer history must survive vacuum with v0 marked unavailable")
    // post-vacuum search still serves the current generation
    assert(AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet === s1)
  }

  test("OPQ generation: model persists in the quantizer commit; extension == rebuild; search == inline") {
    val base = tmp() + "/ann-opq"
    val corpus = graft.gen.VecGen.correlatedClusteredVectors(spark, 800L,
      d = 16, k = 8, spread = 0.15).localCheckpoint(eager = false)
    val queries = corpus.filter($"id" < 5)
      .select($"id".as("qid"), $"vec".as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"cid", $"codes").as[(Long, Long, Seq[Int])].collect().toSet
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet

    AnnIndex.train(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16,
      iters = 4, opq = true)
    // two-batch ingest must equal a from-scratch inline OPQ build: the
    // persisted (books, model) round-trip through parquet bit-exactly
    // (doubles survive parquet), so codes — integer argmins over those
    // doubles — must match, not just approximate
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === 0), 0L)
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === 1), 1L)
    val cents = corpus.filter($"id" < 8)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val (books, model) = Similarity.opqBooks(corpus, cents, m = 4, ksub = 16,
      iters = 4)
    assert(rows(AnnIndex.readIndex(spark, base)) ===
      rows(Similarity.ivfPqOpqEncode(corpus, cents, books, model, m = 4)),
      "persisted OPQ encode must equal the inline encode")
    // and search through the artifact equals inline OPQ search — i.e. the
    // query-side rotation used the PERSISTED model, same generation
    val viaIndex = hits(AnnIndex.search(spark, base, queries, k = 10, nProbe = 2))
    val inline = hits(Similarity.ivfPqOpqTopK(
      Similarity.ivfPqOpqEncode(corpus, cents, books, model, m = 4),
      cents, books, model, queries, m = 4, k = 10, nProbe = 2))
    assert(viaIndex === inline)
    // a plain (non-OPQ) generation trained after it must NOT inherit the
    // model: retrain plain, backfill, promote — search must still work and
    // equal the plain inline path
    AnnIndex.retrain(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    AnnIndex.extendBatch(spark, base, corpus, 0L)
    AnnIndex.promote(spark, base)
    val (_, cents2, books2, m2) = AnnIndex.quantizer(spark, base)
    val plainInline = hits(Similarity.ivfPqResidualTopK(
      Similarity.ivfPqResidualEncode(corpus, cents2, books2, m2),
      cents2, books2, queries, m = m2, k = 10, nProbe = 2))
    assert(hits(AnnIndex.search(spark, base, queries, k = 10, nProbe = 2))
      === plainInline)
  }

  test("compact swaps the manifest atomically; replayed extension commits no duplicate") {
    val base = tmp() + "/ann"
    val emb = Tables.load(spark, sf("e"), "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val queries = corpus.filter($"id" < 5)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def shardDirs(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/index/gen=0"))
        .map(_.getPath.getName).toSet
    def manifest(): Seq[String] =
      VersionedTable.read(spark, s"$base/shards").get
        .select($"shard").as[String].collect().toSeq.sorted

    AnnIndex.train(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    (0 until 4).foreach { b =>
      AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 4 === b), b.toLong)
    }
    assert(manifest().size === 4)

    // REPLAY batch 2 (the streaming at-least-once case): the shard is
    // rewritten bit-identically and the manifest must NOT grow — readIndex
    // would otherwise double-count the batch
    val v = VersionedTable.currentVersion(spark, s"$base/shards").get
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 4 === 2), 2L)
    assert(manifest().size === 4, "replayed batch must not re-enter the manifest")
    assert(VersionedTable.currentVersion(spark, s"$base/shards").get === v,
      "replayed batch must not commit a new manifest version")

    val s0 = AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val idx0 = AnnIndex.readIndex(spark, base)
      .as[(Long, Long, Seq[Int])].collect().toSet

    // COMPACT: one manifested shard PATH afterwards — but every covered
    // batchId stays registered against it (replay identity is the batchId,
    // not the path) — identical code table and search results; the
    // superseded batch dirs stay on disk (a reader planned pre-swap keeps
    // its files) until vacuum collects them
    assert(AnnIndex.compact(spark, base) === 4)
    assert(manifest().distinct.size === 1)
    assert(manifest().size === 4,
      "compact must re-register every covered batchId against the compacted shard")
    assert(manifest().head.contains("compact="))
    assert(AnnIndex.readIndex(spark, base)
      .as[(Long, Long, Seq[Int])].collect().toSet === idx0,
      "compaction must not change the code table")
    assert(AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet === s0,
      "compaction must not change search results")
    assert(shardDirs().exists(_.startsWith("batch=")),
      "superseded shards survive until vacuum (snapshot isolation)")

    // REPLAY AFTER COMPACT (the at-least-once case the path-keyed dedup
    // got wrong): batch 1's rows now live inside the compacted shard; a
    // replayed batch 1 must be recognized by its batchId and skipped —
    // path-dedup would re-ingest it alongside the compacted rows and
    // double-count them in readIndex/search
    val vc = VersionedTable.currentVersion(spark, s"$base/shards").get
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 4 === 1), 1L)
    assert(VersionedTable.currentVersion(spark, s"$base/shards").get === vc,
      "replay of a compacted batch must not commit")
    assert(AnnIndex.readIndex(spark, base)
      .as[(Long, Long, Seq[Int])].collect().toSet === idx0,
      "replay of a compacted batch must not double-count its rows")

    // idempotent second compact: single shard, nothing to do, no commit
    val v1 = VersionedTable.currentVersion(spark, s"$base/shards").get
    assert(AnnIndex.compact(spark, base) === 0)
    assert(VersionedTable.currentVersion(spark, s"$base/shards").get === v1)

    // VACUUM collects the superseded batch dirs, keeps the compacted one
    AnnIndex.vacuum(spark, base)
    assert(shardDirs().forall(_.startsWith("compact=")),
      "vacuum must sweep unmanifested shard dirs of the current generation")
    assert(AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet === s0)
  }

  test("stacked pendings: promote blesses the newest; the abandoned pending is reclaimed after promote") {
    val base = tmp() + "/ann"
    val emb = Tables.load(spark, sf("e"), "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val queries = corpus.filter($"id" < 5)
      .select($"id".as("qid"), $"vec".as("qvec"))
    def searchNow() = AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet

    AnnIndex.train(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    AnnIndex.extendBatch(spark, base, corpus, 0L)
    val s0 = searchNow()

    // two retrains before any promote: an operator abandoning one plan
    // for another mid-window. Serving is undisturbed throughout; the
    // NEWEST pending is the promote target; the abandoned one (p1, with
    // a partial backfill) must never serve and must be reclaimed.
    val p1 = AnnIndex.retrain(spark, base, corpus, nCentroids = 4, m = 4, ksub = 16)
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === 0), 0L) // partial backfill of p1
    val p2 = AnnIndex.retrain(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    assert(AnnIndex.pendingGen(spark, base) === Some(p2))
    assert(searchNow() === s0, "stacked pendings must not disturb serving")
    AnnIndex.extendBatch(spark, base, corpus, 0L) // backfill of p2 (latest)
    assert(AnnIndex.promote(spark, base) === p2)
    val (gen, _, _, _) = AnnIndex.quantizer(spark, base)
    assert(gen === p2, "promote must bless the NEWEST pending, never the abandoned one")
    assert(searchNow().nonEmpty)

    // post-promote vacuum reclaims both the superseded serving generation
    // and the abandoned pending's partial backfill
    AnnIndex.vacuum(spark, base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/index/gen=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/index/gen=$p1")),
      "abandoned pending's shards must be reclaimed once a newer generation serves")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/index/gen=$p2")))
    assert(searchNow().nonEmpty)
  }

  test("compact during a pending backfill folds the pending shards and leaves serving untouched") {
    val base = tmp() + "/ann"
    val emb = Tables.load(spark, sf("e"), "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val queries = corpus.filter($"id" < 5)
      .select($"id".as("qid"), $"vec".as("qvec"))
    def searchNow() = AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"cid", $"codes").as[(Long, Long, Seq[Int])].collect().toSet

    AnnIndex.train(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    AnnIndex.extendBatch(spark, base, corpus, 0L)
    val s0 = searchNow()

    // pending retrain backfilled in 4 shards, then compacted MID-WINDOW:
    // compact targets the latest (pending) generation — the streaming
    // maintenance loop keeps running through a retrain — while serving
    // keeps reading generation 0's manifest rows
    val p = AnnIndex.retrain(spark, base, corpus, nCentroids = 4, m = 4, ksub = 16)
    (0 until 4).foreach { b =>
      AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 4 === b), b.toLong)
    }
    assert(AnnIndex.compact(spark, base) === 4,
      "compact must fold the PENDING generation's shards mid-window")
    assert(searchNow() === s0, "compacting the pending must not disturb serving")

    // the compacted pending promotes and equals a from-scratch build
    assert(AnnIndex.promote(spark, base) === p)
    val (_, cents1, books1, m1) = AnnIndex.quantizer(spark, base)
    assert(rows(AnnIndex.readIndex(spark, base)) ===
      rows(Similarity.ivfPqResidualEncode(corpus, cents1, books1, m1)),
      "compacted + promoted pending must equal a from-scratch rebuild")
    // a replayed backfill batch is still recognized post-compact+promote
    val v = VersionedTable.currentVersion(spark, s"$base/shards").get
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 4 === 2), 2L)
    assert(VersionedTable.currentVersion(spark, s"$base/shards").get === v,
      "batchId dedup must survive compact-then-promote")
  }

  test("manifest-less index: vacuum never sweeps an unmanifested generation; readIndex fails loudly") {
    val base = tmp() + "/ann"
    val emb = Tables.load(spark, sf("e"), "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))

    AnnIndex.train(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    (0 until 2).foreach { b =>
      AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === b), b.toLong)
    }
    val (gen, _, _, _) = AnnIndex.quantizer(spark, base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def shardFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$base/index"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
    }
    val before = shardFiles()
    assert(before.exists(_.endsWith(".parquet")))

    // Lose the manifest: shards on disk, no shards/ table. An empty live
    // set must not read as "everything is garbage".
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/shards"), true)
    AnnIndex.vacuum(spark, base)
    assert(shardFiles() === before,
      "vacuum must leave every shard file of a manifest-less generation on disk")

    // No manifest, no rows: the read fails naming the index and the
    // generation instead of returning a partial code table.
    val err = intercept[IllegalStateException](AnnIndex.readIndex(spark, base))
    assert(err.getMessage.contains(base) && err.getMessage.contains(s"generation $gen"),
      err.getMessage)
  }

  test("two-phase retrain: search serves the old generation through backfill, the new one after promote, and never throws") {
    val base = tmp() + "/ann"
    val emb = Tables.load(spark, sf("e"), "embeddings")
    val corpus = emb.select($"vec_id".as("id"),
      $"embedding".cast("array<double>").as("vec"))
    val queries = corpus.filter($"id" < 5)
      .select($"id".as("qid"), $"vec".as("qvec"))
    def searchNow() = AnnIndex.search(spark, base, queries, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet

    // bootstrap: gen 0 trains (8 lists), ingests, serves
    AnnIndex.train(spark, base, corpus, nCentroids = 8, m = 4, ksub = 16)
    AnnIndex.extendBatch(spark, base, corpus, 0L)
    val s0 = searchNow()
    assert(s0.nonEmpty)

    // phase 1: retrain (different quantizers: 4 lists) commits PENDING.
    // Search must keep serving gen 0 — the one-phase path's outage window
    // (readIndex throwing until backfill completes) must not exist here.
    val p = AnnIndex.retrain(spark, base, corpus, nCentroids = 4, m = 4, ksub = 16)
    assert(AnnIndex.pendingGen(spark, base) === Some(p))
    assert(searchNow() === s0, "mid-retrain search must serve the old generation")

    // promoting an unbackfilled generation must fail loudly
    intercept[Exception] { AnnIndex.promote(spark, base) }

    // backfill the pending generation batch by batch; searches are
    // undisturbed at every step (old quantizer + old codes — never a mix)
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === 0), 0L)
    assert(searchNow() === s0, "mid-backfill search must serve the old generation")
    AnnIndex.extendBatch(spark, base, corpus.filter($"id" % 2 === 1), 1L)
    assert(searchNow() === s0)

    // vacuum mid-window must not strand either generation
    AnnIndex.vacuum(spark, base)
    assert(searchNow() === s0, "vacuum inside the retrain window must not disturb serving")

    // phase 2: promote — one commit flips serving to the fully-backfilled
    // generation; results equal a from-scratch gen-1 build (extension ==
    // rebuild), proving no gen-0 artifact leaked through
    assert(AnnIndex.promote(spark, base) === p)
    assert(AnnIndex.pendingGen(spark, base) === None)
    val (gen1, cents1, books1, m1) = AnnIndex.quantizer(spark, base)
    assert(gen1 === p)
    val expected = Similarity.ivfPqResidualTopK(
        Similarity.ivfPqResidualEncode(corpus, cents1, books1, m1),
        cents1, books1, queries, m1, k = 10, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(searchNow() === expected,
      "post-promote search must equal a from-scratch build of the new generation")

    // steady state restored: vacuum now drops the superseded generation
    AnnIndex.vacuum(spark, base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/index/gen=0")),
      "post-promote vacuum must drop the superseded generation's shards")
    assert(searchNow() === expected)
  }

  test("q124 rebuilds its persisted index when the embeddings are rewritten in the same dir") {
    import scala.sys.process._
    val root = tmp()
    val data = s"$root/data"
    val out = s"$root/out"
    val src = new java.io.File(sf("e"))
    new java.io.File(data).mkdirs()
    src.listFiles().foreach(f =>
      Files.copy(f.toPath, new java.io.File(data, f.getName).toPath))
    val q = "q124_ivfpq_persisted"
    new java.io.File(out).mkdirs()
    Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(java.util.Map.of(q, graft.QueryCatalog.oracleSql(q))))
    def artifact = graft.queries.EmbedQueries.annArtifactDir(spark, "annindex_v2",
      Tables.load(spark, data, "embeddings"), "train 8 4 16; batches id % 2")
    // q124 against DuckDB's re-derivation of its oracle on `data`'s files
    def checkOracle(): Unit = {
      graft.QueryCatalog.queries(q)(spark, data).write.mode("overwrite").parquet(s"$out/$q")
      val log = new StringBuilder
      val code = Seq("python3", "scripts/selfcheck.py", out, data)
        .!(ProcessLogger(l => log.append(l).append('\n')))
      assert(code === 0 && log.toString.contains(s"PASS $q"), log.toString)
    }
    val before = artifact
    try {
      checkOracle()
      // other vectors, same file name, same row count
      val emb = s"$data/embeddings.parquet"
      Files.delete(new java.io.File(emb).toPath)
      val rewrite = s"import duckdb; duckdb.sql(\"COPY (SELECT vec_id, " +
        s"list_reverse(embedding) AS embedding, label FROM '${src.getPath}/embeddings.parquet')" +
        s" TO '$emb' (FORMAT PARQUET)\")"
      assert(Seq("python3", "-c", rewrite).! === 0, "rewriting embeddings failed")
      checkOracle()
    } finally Seq(before, artifact, root).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }
}
