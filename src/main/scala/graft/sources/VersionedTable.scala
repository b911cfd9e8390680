package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets

/** Minimal copy-on-write table: versioned parquet directories under a base
  * path committed via per-version MARKER files — the core of what Delta's
  * transaction log provides for MERGE rewrites, without the Delta jar
  * (SURVEY §2.10 M1/M2 gap).
  *
  * Why not overwrite in place: Spark cannot overwrite a path it is reading
  * from in the same job (and caching the intermediate is not viable at
  * 100 TB). Writing `v<N+1>` and committing a marker gives lock-free readers
  * snapshot isolation and makes replayed merges idempotent at the storage
  * layer too.
  *
  * Commit protocol: data first (`v<N>/`), then the marker body is written to
  * a temp file and moved into place with `FileContext.rename(tmp, marker,
  * Rename.NONE)` — the one commit path, so a marker is content-complete
  * before it is observable. It needs the table filesystem's
  * AbstractFileSystem binding (`fs.AbstractFileSystem.<scheme>.impl`; local,
  * HDFS and s3a have one), and a commit to a filesystem without one fails
  * naming the table base (see [[createMarker]] for what the rename
  * guarantees on each). The current version is the max committed marker —
  * there is NO pointer file to swap, hence no window where a concurrent
  * reader can observe the table as missing (the failure mode of a
  * delete-then-rename `_CURRENT` scheme). `commits()` ignores a zero-length
  * marker: no commit of this table writes one, so it is outside input
  * carrying no metadata, and committing over it fails until it is removed.
  * Each operation reads the log once — one listing of the base plus one
  * open per committed marker — and derives the current version, the
  * applied batches and the latest compaction from that read.
  * Markers are retained by [[vacuum]] (only old DATA is dropped), so
  * [[history]] survives like Delta's log does. Single concurrent WRITER
  * assumed (like Delta without a coordination service); readers unlimited.
  */
object VersionedTable {

  private val MarkerPrefix = "_commit_v"

  /** Staleness gate for the orphaned `_tmp_commit_v*` staging files that
    * [[vacuum]] sweeps: a LIVE committer's temp is legitimately present
    * between temp-write and rename, so a temp is only deleted once it is
    * older than this window. Bounds the damage if the documented
    * single-writer assumption is ever violated (e.g. a separately scheduled
    * maintenance job running vacuum concurrently with a committer). */
  private[sources] val ResidueStalenessMs: Long = 5L * 60 * 1000

  private def fs(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** "Now" as the STORAGE system sees it: the mtime of a freshly written probe
    * file, not the driver's wall clock. Staleness gates compare against file
    * modification times stamped by the storage layer (object store / NFS /
    * HDFS namenode); with a skewed driver clock a `System.currentTimeMillis`
    * comparison can fire early (deleting a live committer's in-flight residue)
    * or lag forever (never sweeping). Probing costs one tiny create+stat+delete
    * and is only done on the residue paths, never per commit. Falls back to
    * the driver clock if the probe cannot be written (read-only FS). */
  private def storageNowMs(f: FileSystem, base: String): Long = {
    val probe = new Path(base, s"_probe_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val out = f.create(probe, /* overwrite = */ true)
      try out.write(0) finally out.close()
      try f.getFileStatus(probe).getModificationTime
      finally f.delete(probe, false)
    } catch { case _: java.io.IOException => System.currentTimeMillis() }
  }

  private def markerPath(base: String, v: Long) = new Path(base, s"$MarkerPrefix$v")

  def versionPath(base: String, v: Long): String = s"$base/v$v"

  /** A committed version: (version, committedAtMs, operation). */
  private type Commit = (Long, Long, String)

  /** The one listing of `base` an operation makes (empty if it does not exist). */
  private def list(f: FileSystem, base: String): Seq[FileStatus] =
    try f.listStatus(new Path(base)).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The committed markers among `entries`, ascending. A zero-length marker
    * is not a commit: its metadata never landed. */
  private def markers(entries: Seq[FileStatus]): Seq[(Long, FileStatus)] =
    entries.filter(st => st.getPath.getName.startsWith(MarkerPrefix) && st.getLen > 0)
      .map(st => (st.getPath.getName.drop(MarkerPrefix.length).toLong, st))
      .sortBy(_._1)

  /** All committed versions with metadata, ascending: (version, committedAtMs,
    * operation): one listing of the base plus one open per committed
    * marker. */
  def commits(spark: SparkSession, base: String): Seq[(Long, Long, String)] = {
    val f = fs(spark, base)
    markers(list(f, base)).map { case (v, st) =>
      val in = f.open(st.getPath)
      val body =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
        finally in.close()
      val lines = body.split("\n", -1)
      val at = if (lines.length > 0 && lines(0).trim.nonEmpty) lines(0).trim.toLong else 0L
      val op = if (lines.length > 1) lines(1).trim else "commit"
      (v, at, op)
    }
  }

  def currentVersion(spark: SparkSession, base: String): Option[Long] =
    commits(spark, base).lastOption.map(_._1)

  /** The current version of a log already read. */
  private def snapshot(spark: SparkSession, base: String, log: Seq[Commit]): Option[DataFrame] =
    log.lastOption.map(c => readVersion(spark, base, c._1))

  /** Snapshot read of the current version (None if never committed). */
  def read(spark: SparkSession, base: String): Option[DataFrame] =
    snapshot(spark, base, commits(spark, base))

  /** Read a specific historical version (time-travel analogue, M1).
    * Fails if that version's data was [[vacuum]]ed. */
  def readVersion(spark: SparkSession, base: String, v: Long): DataFrame =
    spark.read.parquet(versionPath(base, v))

  /** Write `df` as the next version, then commit its marker (data before
    * marker: a reader that sees the marker always sees complete data). */
  def commit(spark: SparkSession, base: String, df: DataFrame,
      operation: String = "commit"): Long =
    commitAfter(spark, base, commits(spark, base), df, operation)

  /** [[commit]] as the version after `log`, the log the caller already read. */
  private def commitAfter(spark: SparkSession, base: String, log: Seq[Commit],
      df: DataFrame, operation: String): Long = {
    val next = log.lastOption.fold(0L)(_._1 + 1)
    df.write.mode("overwrite").parquet(versionPath(base, next))
    createMarker(spark, base, next, operation)
    next
  }

  /** Create the commit marker for version `v` — fails if it already exists,
    * and is only ever observable with its full body: the body goes to a temp
    * file first, then `FileContext.rename(Rename.NONE)` moves it into place.
    * That rename needs the filesystem's AbstractFileSystem binding; without
    * one the commit fails naming the table base. On HDFS the rename is
    * atomic + fail-on-existing-destination; on the local FS it is an
    * exists-check-then-rename (a theoretical two-committer race window
    * remains, acceptable under the single-writer assumption); on object
    * stores like s3a it is copy-based and non-atomic — the marker protocol
    * there is best-effort, like Delta without a LogStore coordination
    * service. An existing marker — a racing committer's, or a zero-length
    * one that `commits()` ignores — fails the commit with the marker's path.
    * Package-visible so the guard is testable without racing two Spark
    * write jobs over one data directory. */
  private[sources] def createMarker(
      spark: SparkSession, base: String, v: Long, operation: String): Unit = {
    val marker = markerPath(base, v)
    val fc =
      try FileContext.getFileContext(marker.toUri, spark.sparkContext.hadoopConfiguration)
      catch {
        case e: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          throw new java.io.IOException(s"cannot commit $base v$v: its filesystem has no " +
            "AbstractFileSystem binding (fs.AbstractFileSystem.<scheme>.impl), which the " +
            "commit marker's rename needs", e)
      }
    val f = fs(spark, base)
    val tmp = new Path(base,
      s"_tmp$MarkerPrefix${v}_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, /* overwrite = */ true)
    try out.write(s"${System.currentTimeMillis()}\n$operation".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    try fc.rename(tmp, marker, org.apache.hadoop.fs.Options.Rename.NONE)
    catch {
      case e: java.io.IOException =>
        f.delete(tmp, false)
        throw e match {
          case _: FileAlreadyExistsException => new java.io.IOException(
            s"commit marker $marker already exists (concurrent writer?)", e)
          case _ => e
        }
    }
  }

  /** DELETE FROM ... WHERE analogue: copy-on-write removal of matching
    * rows as a new version (operation-tagged for [[history]]/[[changes]]).
    * Returns the new version. At scale the rewrite cost is the honest COW
    * cost (same as Delta without deletion vectors); partition-scoped
    * deletes should pre-partition the table so the filter prunes files. */
  def deleteWhere(spark: SparkSession, base: String,
      cond: org.apache.spark.sql.Column): Long = {
    val log = commits(spark, base)
    val cur = snapshot(spark, base, log).getOrElse(
      throw new IllegalStateException(s"no committed version at $base"))
    commitAfter(spark, base, log, cur.filter(!cond || cond.isNull), "delete")
  }

  /** UPDATE ... SET ... WHERE analogue: matching rows get every column in
    * `set` re-computed (expressions may reference existing columns);
    * non-matching rows pass through byte-identical. Copy-on-write like
    * [[deleteWhere]]; one scan, no shuffle. */
  def updateWhere(spark: SparkSession, base: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.when
    val log = commits(spark, base)
    val cur = snapshot(spark, base, log).getOrElse(
      throw new IllegalStateException(s"no committed version at $base"))
    require(set.keys.forall(cur.columns.contains),
      s"UPDATE of unknown column(s): ${set.keys.filterNot(cur.columns.contains).mkString(", ")}")
    // one select so every SET expression reads the ORIGINAL row (SQL UPDATE
    // semantics) — sequential withColumn would leak updated values into
    // later expressions
    val updated = cur.select(cur.columns.map { c =>
      set.get(c) match {
        case Some(e) => when(cond, e).otherwise(cur(c)).as(c)
        case None    => cur(c)
      }
    }.toSeq: _*)
    commitAfter(spark, base, log, updated, "update")
  }

  /** Append with SCHEMA EVOLUTION (Delta `mergeSchema` analogue): the new
    * batch may add columns the table lacks and/or omit columns it has;
    * both sides are aligned by NAME with nulls for the missing columns,
    * and the union becomes the next version. Column TYPE changes are
    * rejected (same as Delta without overwriteSchema) — silent cross-type
    * coercion corrupts downstream readers. Copy-on-write like [[commit]]:
    * at scale, prefer keyed MERGE ([[graft.silver.Merge]]) when only a
    * partition's worth of rows changes. */
  def appendEvolved(spark: SparkSession, base: String, batch: DataFrame,
      operation: String = "append-evolved"): Long = {
    val log = commits(spark, base)
    snapshot(spark, base, log) match {
      case None => commitAfter(spark, base, log, batch, operation)
      case Some(cur) =>
        val conflicts = cur.schema.flatMap { f =>
          batch.schema.find(_.name == f.name).collect {
            case b if b.dataType != f.dataType =>
              s"${f.name}: table=${f.dataType.simpleString} batch=${b.dataType.simpleString}"
          }
        }
        require(conflicts.isEmpty,
          s"schema evolution cannot change column types (${conflicts.mkString("; ")})")
        commitAfter(spark, base, log,
          cur.unionByName(batch, allowMissingColumns = true), operation)
    }
  }

  /** Change Data Feed analogue: row-level diff between two committed
    * versions, classified per `keyCols` — `insert` (key only in `to`),
    * `delete` (key only in `from`), `update_preimage`/`update_postimage`
    * (key in both, row changed). Unchanged rows are never emitted.
    *
    * Shape: ONE keyed full-outer join of NARROW (key, row-hash)
    * projections classifies every key; the wide shuffle of the former
    * two-`exceptAll` formulation (full rows of both versions, twice) is
    * gone — the classification exchange carries keys plus one 64-bit hash
    * per row, and full rows are re-attached by key for the CHANGED keys
    * only (a diff-sized set AQE turns into broadcast joins on typical
    * merges). The row hash position-tags every column
    * (`xxhash64(i, colᵢ)` chained) so a value moving between columns —
    * e.g. a null layout shift — can never alias the plain null-skipping
    * multi-arg hash; a missed change then requires a genuine 64-bit
    * collision. Keys are assumed unique per version (the
    * [[graft.silver.Merge]] invariant); null key components compare
    * null-safely (a key present in both versions with a null component is
    * an update, not a delete+insert). Output: the UNION of both versions'
    * columns + `_change_type` — schema-evolved tables diff correctly:
    * each side is null-backfilled for columns it lacks (the
    * [[appendEvolved]] convention), so an update confined to a newly
    * added column is classified as an update, not as unchanged, and a
    * column removed between versions surfaces instead of throwing.
    * Column type changes across the compared versions are rejected (as
    * [[appendEvolved]] already rejects them at write time).
    *
    * The unique-key invariant is ENFORCED, not assumed: each side carries
    * an in-plan per-key count (window over the same key partitioning the
    * join already shuffles by — no extra exchange, one sort per side) and
    * the first duplicate key encountered fails the job loudly instead of
    * silently emitting join-multiplied / misclassified CDC rows. A
    * violated invariant is a corrupted-merge signal; failing is the only
    * honest output. */
  def changes(spark: SparkSession, base: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit, when, xxhash64}
    val beforeRaw = readVersion(spark, base, fromV)
    val afterRaw = readVersion(spark, base, toV)
    val afterTypes = afterRaw.schema.fields.map(f => f.name -> f.dataType).toMap
    val conflicts = beforeRaw.schema.fields
      .filter(f => afterTypes.get(f.name).exists(_ != f.dataType)).map(_.name)
    require(conflicts.isEmpty,
      s"changes() cannot diff type-evolved columns (${conflicts.mkString(", ")})")
    val unioned = beforeRaw.schema.fields.map(f => f.name -> f.dataType) ++
      afterRaw.schema.fields.filterNot(f => beforeRaw.columns.contains(f.name))
        .map(f => f.name -> f.dataType)
    def conform(df: DataFrame) = df.select(unioned.map { case (n, dt) =>
      if (df.columns.contains(n)) col(n) else lit(null).cast(dt).as(n)
    }.toSeq: _*)
    val before = conform(beforeRaw)
    val after = conform(afterRaw)
    // position-tagged row hash: each column hashed with its ordinal, the
    // per-column hashes chained — never null, order- and null-layout-aware
    val rowHash = unioned.map(_._1).zipWithIndex
      .map { case (n, i) => xxhash64(lit(i), col(n)) }
      .reduce((a, b) => xxhash64(a, b))
    // loud uniqueness guard: the hash only surfaces once assert_true has
    // evaluated (and thrown on a duplicated key) — folding the guard into
    // the hash column keeps Catalyst from pruning it away as unused
    def guarded(h: org.apache.spark.sql.Column, side: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      val msg = concat_ws("", lit(s"changes(): duplicate key in $side version (key = "),
        concat_ws(",", keyCols.map(k => col(k).cast("string")): _*),
        lit(") — CDC requires unique keys per version"))
      when(org.apache.spark.sql.functions
        .assert_true(count(lit(1)).over(w) <= 1, msg).isNull, h)
    }
    val bk = before.select(
      keyCols.map(k => col(k).as(s"__bk_$k")) :+
        guarded(rowHash, s"from=v$fromV").as("__bh"): _*)
    val ak = after.select(
      keyCols.map(k => col(k).as(s"__ak_$k")) :+
        guarded(rowHash, s"to=v$toV").as("__ah"): _*)
    val cls = bk.join(ak,
        keyCols.map(k => col(s"__bk_$k") <=> col(s"__ak_$k")).reduce(_ && _),
        "full_outer")
      .select(
        keyCols.map(k =>
          coalesce(col(s"__bk_$k"), col(s"__ak_$k")).as(s"__ck_$k")) :+
        when(col("__bh").isNull, "insert")
          .when(col("__ah").isNull, "delete")
          .when(col("__bh") =!= col("__ah"), "update").as("__cls"): _*)
      .filter(col("__cls").isNotNull) // unchanged keys drop out here
    def attach(df: DataFrame, clsFilter: Seq[String], tags: Map[String, String]) =
      df.join(cls.filter(col("__cls").isin(clsFilter: _*)),
          keyCols.map(k => col(k) <=> col(s"__ck_$k")).reduce(_ && _))
        .withColumn("_change_type",
          tags.foldLeft(lit(null).cast("string")) { case (acc, (c, t)) =>
            when(col("__cls") === c, lit(t)).otherwise(acc)
          })
        .drop("__cls").drop(keyCols.map(k => s"__ck_$k"): _*)
    attach(before, Seq("delete", "update"),
        Map("delete" -> "delete", "update" -> "update_preimage"))
      .unionByName(attach(after, Seq("insert", "update"),
        Map("insert" -> "insert", "update" -> "update_postimage")))
  }

  /** DESCRIBE HISTORY analogue (M1, ref 01:252 / 03:222): one row per
    * committed version with commit time, operation, data availability
    * (false once vacuumed) and currency. */
  def history(spark: SparkSession, base: String): DataFrame = {
    val f = fs(spark, base)
    val cs = commits(spark, base)
    val cur = cs.lastOption.map(_._1)
    val rows = cs.map { case (v, at, op) =>
      Row(v, new java.sql.Timestamp(at), op,
        f.exists(new Path(versionPath(base, v))), cur.contains(v))
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("available", BooleanType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Drop the DATA of all versions older than the current one; commit
    * markers are retained so [[history]] still lists them (as
    * `available = false`), like Delta's log after VACUUM. Also sweeps
    * orphaned `_tmp_commit_v*` staging files left by committers that
    * crashed between temp-write and rename — age-gated by
    * [[ResidueStalenessMs]], so a vacuum racing an IN-FLIGHT commit (temp
    * written, rename pending) cannot delete the live temp and fail that
    * commit even if the single-writer assumption is violated by a
    * separately scheduled maintenance job. */
  def vacuum(spark: SparkSession, base: String): Unit = {
    val f = fs(spark, base)
    val entries = list(f, base)
    // Stale-temp sweep is independent of whether any version ever committed:
    // a table whose only-ever commit crashed between temp-write and rename has
    // residue but no committed marker. Storage-clock "now" (not the driver
    // clock) so skew cannot delete a live committer's in-flight temp.
    val tmps = entries.filter(_.getPath.getName.startsWith(s"_tmp$MarkerPrefix"))
    if (tmps.nonEmpty) {
      val now = storageNowMs(f, base)
      tmps.foreach { st =>
        if (now - st.getModificationTime > ResidueStalenessMs)
          f.delete(st.getPath, false)
      }
    }
    markers(entries).lastOption.foreach { case (cur, _) =>
      entries.foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("v") && name.drop(1).forall(_.isDigit)
            && name.drop(1).nonEmpty && name.drop(1).toLong < cur)
          f.delete(st.getPath, true)
      }
    }
  }

  // ─────────────── batch commits of maintained stream artifacts ───────────────
  //
  // Every stream stage that maintains a table ([[graft.ext.Scd.applyBatch]],
  // [[graft.ext.IncrementalAgg.update]], `StreamPipes.dedupIngest` /
  // `dsirIngest`) answers "did batch N commit, what do readers see, what
  // may be swept" from that table's own log, the way Delta pairs a
  // streaming checkpoint with its transaction log:
  //  - a batch commit is op-tagged `<stage> batch=<id>`. A batch whose tag
  //    is in the log is skipped outright, so an at-least-once redelivery
  //    writes nothing, and a batch that crashed before its commit re-runs
  //    against the current version — no older snapshot is ever read.
  //  - a stage may keep append-only DELTA dirs `<root>/batch=<id>` beside
  //    the table, written before the batch's commit. Readers see the latest
  //    compaction recorded in the log plus the dirs of applied batches after
  //    it, never the dir of a batch that did not commit.
  //  - compaction folds that read set into `<root>/compact=<V>` and records
  //    it with ONE commit (`<stage> compact=<V> upto=<B>`) that re-commits
  //    the current table; vacuum sweeps the dirs the compaction covers.
  // Single writer (the stage's foreachBatch thread), like every commit here.

  private val BatchOp = "^\\S+ batch=(\\d+)$".r
  private val CompactOp = "^\\S+ compact=(\\d+) upto=(\\d+)$".r
  private val BatchDir = "^batch=(\\d+)$".r
  private val CompactDir = "^compact=(\\d+)$".r

  /** The batchIds a log records as applied: its `batch=<id>` op tags. */
  private def applied(log: Seq[Commit]): Set[Long] =
    log.collect { case (_, _, BatchOp(b)) => b.toLong }.toSet

  /** BatchIds applied to the table at `base`: the `batch=<id>` op tags in
    * its log (commit metadata only — no data read). */
  def appliedBatches(spark: SparkSession, base: String): Set[Long] =
    applied(commits(spark, base))

  /** Apply stream batch `batchId` of `stage` to the table at `base` exactly
    * once. Returns false, writing nothing, if the log already records the
    * batch; otherwise evaluates `next` on the current snapshot (None before
    * the first commit), read at the version the check saw — `next` may
    * first write the batch's [[deltaPath]], data before marker — and
    * commits the result as the next version, tagged `<stage> batch=<id>`.
    *
    * Batch ids belong to ONE streaming checkpoint: the log recognizes a
    * batch by its id alone. A stage restarted on a fresh checkpoint over a
    * source that has gained files numbers its batches from 0 again, and
    * the log skips them as already applied — such a restart needs a fresh
    * table base. */
  private[graft] def commitBatch(spark: SparkSession, base: String, stage: String,
      batchId: Long)(next: Option[DataFrame] => DataFrame): Boolean = {
    val log = commits(spark, base)
    if (applied(log).contains(batchId)) return false
    commitAfter(spark, base, log, next(snapshot(spark, base, log)), s"$stage batch=$batchId")
    true
  }

  /** Batch `batchId`'s delta dir under `root`. */
  private[graft] def deltaPath(root: String, batchId: Long): String = s"$root/batch=$batchId"

  private def compactPath(root: String, v: Long) = s"$root/compact=$v"

  /** The latest compaction a log records, as (compact dir version,
    * covered-through batchId). */
  private def latestCompaction(log: Seq[Commit]): Option[(Long, Long)] =
    log.collect { case (_, _, CompactOp(v, u)) => (v.toLong, u.toLong) }.lastOption

  /** The delta read set under `root` of a log: its latest recorded
    * compaction (if any) plus the dirs of batches applied after it. */
  private def deltaDirs(log: Seq[Commit], root: String): Seq[String] = {
    val upto = latestCompaction(log)
    upto.map { case (v, _) => compactPath(root, v) }.toSeq ++
      applied(log).filter(b => upto.forall(b > _._2))
        .toSeq.sorted.map(deltaPath(root, _))
  }

  /** The delta rows readers see under `root` (None if no batch wrote one).
    * Pass `schema` when a dir may hold no part file to infer it from. */
  private[graft] def readDeltas(spark: SparkSession, base: String, root: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val dirs = deltaDirs(commits(spark, base), root)
    if (dirs.isEmpty) None
    else Some(schema.fold(spark.read)(s => spark.read.schema(s)).parquet(dirs: _*))
  }

  /** OPTIMIZE for delta dirs: fold the read set under `root` into one
    * `compact=<V>` dir of `targetFiles` files, then record it with one
    * commit of the current table — a crashed compaction leaves an
    * unrecorded dir that [[vacuumDeltas]] sweeps, never a half-visible
    * read set. Long-running stages accrete one delta dir per batch (the
    * small-files problem every read pays in listing and file opens), so
    * they call this on a cadence. Returns the dirs folded (0 = nothing to
    * do, no commit). */
  private[graft] def compactDeltas(spark: SparkSession, base: String, root: String,
      stage: String, schema: StructType, targetFiles: Int = 1): Int = {
    val log = commits(spark, base)
    val dirs = deltaDirs(log, root)
    if (dirs.size <= 1) return 0
    val cur = log.last._1 // a delta dir implies a commit
    spark.read.schema(schema).parquet(dirs: _*)
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(compactPath(root, cur + 1))
    commitAfter(spark, base, log, readVersion(spark, base, cur),
      s"$stage compact=${cur + 1} upto=${applied(log).max}")
    dirs.size
  }

  /** Drop the delta dirs under `root` that left the read set: batch dirs
    * covered by the latest recorded compaction, and superseded or
    * unrecorded (crashed) compact dirs. The table's own old versions go
    * through [[vacuum]]. */
  private[graft] def vacuumDeltas(spark: SparkSession, base: String, root: String): Unit =
    latestCompaction(commits(spark, base)).foreach { case (v, upto) =>
      val f = fs(spark, root)
      val rootPath = new Path(root)
      if (f.exists(rootPath)) f.listStatus(rootPath).foreach { st =>
        st.getPath.getName match {
          case BatchDir(b) if b.toLong <= upto => f.delete(st.getPath, true)
          case CompactDir(c) if c.toLong != v => f.delete(st.getPath, true)
          case _ => ()
        }
      }
    }
}
