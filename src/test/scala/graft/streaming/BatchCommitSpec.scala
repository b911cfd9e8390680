package graft.streaming

import graft.SparkSuite
import graft.ext.{Dedup, IncrementalAgg, Scd}
import graft.sources.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** One conformance scenario for every stream stage that maintains a table
  * through [[VersionedTable]]'s batch-commit protocol: [[Scd.applyBatch]],
  * [[IncrementalAgg.update]] and the [[StreamPipes.dedupIngest]] /
  * [[StreamPipes.dsirIngest]] micro-batch bodies. Each stage is driven by
  * batchId directly, so the scenario can crash a batch between its data and
  * its commit marker, replay applied batches, compact and vacuum, and check
  * what a reader sees after every step.
  */
class BatchCommitSpec extends SparkSuite {
  import spark.implicits._

  /** A maintained artifact: `log` is the table whose log records batches,
    * `apply` runs a batch (false iff skipped), `read` is everything a
    * reader sees as sorted strings (duplicates kept). */
  private case class Subject(
      log: String,
      apply: Long => Boolean,
      read: () => Seq[String],
      compact: () => Unit,
      vacuum: () => Unit)

  private def scenario(mk: String => Subject): Unit = {
    def fresh() = mk(Files.createTempDirectory("graft-commit").toString + "/t")
    val s = fresh()
    assert(s.apply(0L) && s.apply(1L))
    val r1 = s.read()
    // batch 2 crashes after all of its data landed, before its commit marker
    assert(s.apply(2L))
    val crashed = VersionedTable.currentVersion(spark, s.log).get
    val marker = new org.apache.hadoop.fs.Path(s.log, s"_commit_v$crashed")
    assert(marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false))
    assert(s.read() === r1, "an uncommitted batch is invisible")
    // the retry re-runs it against the current version; once committed it
    // reads exactly as a run that never crashed
    assert(s.apply(2L), "an uncommitted batch is not applied")
    val r2 = s.read()
    val twin = fresh()
    Seq(0L, 1L, 2L).foreach(b => assert(twin.apply(b)))
    assert(r2 === twin.read(), "the retried batch reads exactly once")
    assert(r2 !== r1)
    // replaying applied batches is skipped: no new version, same read
    val v = VersionedTable.currentVersion(spark, s.log)
    assert(!s.apply(1L) && !s.apply(2L))
    assert(VersionedTable.currentVersion(spark, s.log) === v)
    assert(s.read() === r2)
    s.compact()
    assert(s.read() === r2, "compaction leaves the read unchanged")
    s.vacuum()
    assert(s.read() === r2, "vacuum leaves the read unchanged")
    assert(!s.apply(0L), "replay is still recognized after compaction")
    assert(s.read() === r2)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("batch-commit conformance: Scd.applyBatch") {
    val batches = Seq(
      Seq((1L, 10L, 1L, "A"), (2L, 10L, 2L, "X")),
      Seq((1L, 20L, 3L, "B"), (2L, 20L, 4L, "Y")),
      Seq((1L, 30L, 5L, "C")))
    scenario { base =>
      Subject(s"$base/current",
        b => Scd.applyBatch(spark, base, batches(b.toInt).toDF("k", "ts", "tie", "attr"),
          Seq("k"), "ts", "tie", Seq("attr"), b),
        () => rows(Scd.readDim(spark, base).get.select("k", "attr", "effective_from",
          "effective_to", "version", "is_current")),
        () => assert(Scd.compactClosed(spark, base) > 0),
        () => { Scd.vacuumClosed(spark, base); VersionedTable.vacuum(spark, s"$base/current") })
    }
  }

  test("batch-commit conformance: IncrementalAgg.update") {
    val batches = Seq(Seq(("a", 1.5), ("b", 2.0)), Seq(("a", 3.25)), Seq(("c", 4.0), ("a", 0.5)))
    scenario { base =>
      Subject(base,
        b => IncrementalAgg.update(spark, base, batches(b.toInt).toDF("k", "v"),
          Seq("k"), "v", b),
        () => rows(IncrementalAgg.read(spark, base).get),
        () => (), // keeps no delta dirs: one keys-sized table
        () => VersionedTable.vacuum(spark, base))
    }
  }

  // seed baked into every token: different seeds share nothing
  private def mk(seed: String) =
    (0 until 12).map(i => s"${seed}tok$i ${seed}word$i ${seed}item$i").mkString(" ")

  /** Compaction and vacuum of an admission stage's corpus and state. */
  private def admission(base: String, stage: String,
      corpusSchema: StructType): (() => Unit, () => Unit) = (
    () => assert(VersionedTable.compactDeltas(spark, Dedup.admitState(base),
      Dedup.admitCorpus(base), stage, corpusSchema) > 0),
    () => {
      VersionedTable.vacuumDeltas(spark, Dedup.admitState(base), Dedup.admitCorpus(base))
      VersionedTable.vacuum(spark, Dedup.admitState(base))
    })

  test("batch-commit conformance: dedupIngest") {
    val batches = Seq(
      Seq((1L, mk("alpha")), (2L, mk("beta"))),
      Seq((10L, mk("alpha") + " extratok"), (11L, mk("gamma"))),
      Seq((20L, mk("delta")), (21L, mk("gamma") + " moretok")))
    def docs(b: Long) = batches(b.toInt).toDF("doc_id", "text")
    scenario { base =>
      val (compact, vacuum) = admission(base, "dedup", docs(0L).schema)
      Subject(Dedup.admitState(base),
        b => StreamPipes.dedupBatch(docs(b), b, base, "doc_id", "text", 0.9),
        () => rows(Dedup.readCorpus(spark, base).get.select("doc_id")),
        compact, vacuum)
    }
  }

  test("batch-commit conformance: dsirIngest") {
    val batches = Seq(
      Seq((1L, "aa bb aa", true), (2L, "cc dd cc", false)),
      Seq((10L, "aa bb aa bb", false), (11L, "cc dd cc dd", false)),
      Seq((20L, "aa bb", true)))
    def docs(b: Long) = batches(b.toInt).toDF("doc_id", "text", "is_target")
    scenario { base =>
      val (compact, vacuum) = admission(base, "dsir", docs(0L).schema.add("w", "double"))
      Subject(Dedup.admitState(base),
        b => StreamPipes.dsirBatch(docs(b), b, base, "doc_id", "text", "is_target", 1.0, 64),
        () => rows(Dedup.readCorpus(spark, base).get.select("doc_id", "w")) ++
          rows(VersionedTable.read(spark, Dedup.admitState(base)).get.select("kind", "b", "c"))
            .map("count|" + _),
        compact, vacuum)
    }
  }
}
