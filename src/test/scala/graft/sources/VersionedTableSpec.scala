package graft.sources

import graft.SparkSuite

class VersionedTableSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-vt").toString

  test("commit marker guard: second creation of the same version fails") {
    val base = tmp() + "/vt-guard"
    val v = VersionedTable.commit(spark, base, Seq((1, "a")).toDF("k", "v"))
    assert(v === 0L)
    // A racing committer that computed the same next version lands here
    // after its data write; the marker's fail-if-exists rename must refuse.
    // (a plain rename silently replaces on local FS — both racers would
    // have reported success.)
    val ex = intercept[java.io.IOException](
      VersionedTable.createMarker(spark, base, 0L, "racer"))
    assert(ex.getMessage.contains("already exists"))
    // the losing attempt must not have clobbered the winner's history
    val h = VersionedTable.history(spark, base)
      .select("version", "operation").as[(Long, String)].collect()
    assert(h.toSeq === Seq((0L, "commit")))
  }

  test("a zero-length marker is not a commit; committing over it fails naming the marker") {
    val base = tmp() + "/vt-zero-marker"
    new java.io.File(base).mkdirs()
    // outside input: a marker whose body never landed
    val marker = new java.io.File(base, "_commit_v0")
    assert(marker.createNewFile() && marker.length() === 0L)
    assert(VersionedTable.commits(spark, base).isEmpty)
    assert(VersionedTable.read(spark, base).isEmpty)
    val ex = intercept[java.io.IOException](
      VersionedTable.commit(spark, base, Seq((1, "a")).toDF("k", "v")))
    assert(ex.getMessage.contains(marker.getPath))
    assert(VersionedTable.commits(spark, base).isEmpty)
  }

  test("each log operation lists the table base once") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    conf.set("fs.AbstractFileSystem.countfs.impl", classOf[CountingLocalAfs].getName)
    val dir = "countfs://" + tmp()
    val (base, root) = (s"$dir/t", s"$dir/d")
    def listings(op: => Unit): Int = {
      CountingLocalFs.listings.clear()
      op
      Option(CountingLocalFs.listings.get(new org.apache.hadoop.fs.Path(base).toUri.getPath))
        .fold(0)(_.get)
    }
    val rows = Seq((1, "a")).toDF("k", "v")
    def batch(b: Long) = VersionedTable.commitBatch(spark, base, "t", b) { cur =>
      rows.write.mode("overwrite").parquet(VersionedTable.deltaPath(root, b))
      cur.fold(rows)(_.unionByName(rows))
    }
    assert(listings(assert(batch(0L))) === 1, "commitBatch")
    assert(listings(assert(batch(1L))) === 1, "commitBatch on a committed table")
    assert(listings(assert(!batch(1L))) === 1, "commitBatch of a replay")
    assert(listings(assert(
      VersionedTable.readDeltas(spark, base, root).get.count() === 2L)) === 1, "readDeltas")
    assert(listings(assert(
      VersionedTable.compactDeltas(spark, base, root, "t", rows.schema) === 2)) === 1,
      "compactDeltas")
    assert(listings(VersionedTable.vacuum(spark, base)) === 1, "vacuum")
    assert(VersionedTable.read(spark, base).get.count() === 2L)
    assert(VersionedTable.commits(spark, base).map(_._3) ===
      Seq("t batch=0", "t batch=1", "t compact=2 upto=1"))
  }

  test("a filesystem without an AbstractFileSystem binding cannot commit") {
    spark.sparkContext.hadoopConfiguration.set("fs.noafs.impl", classOf[NoAfsLocalFs].getName)
    val base = "noafs://" + tmp() + "/t"
    val ex = intercept[java.io.IOException](
      VersionedTable.commit(spark, base, Seq((1, "a")).toDF("k", "v")))
    assert(ex.getMessage.contains(base) && ex.getMessage.contains("AbstractFileSystem"))
    assert(VersionedTable.commits(spark, base).isEmpty)
  }

  test("vacuum sweeps stale commit temps even when nothing ever committed") {
    val base = tmp() + "/vt-orphan-tmp"
    new java.io.File(base).mkdirs()
    // committer crashed between temp-write and rename on its ONLY-ever commit:
    // no committed marker exists, but the staging temp must still be swept
    val staleTmp = new java.io.File(base, "_tmp_commit_v0_deadbeef")
    java.nio.file.Files.write(staleTmp.toPath, "123\ncommit".getBytes)
    assert(staleTmp.setLastModified(
      System.currentTimeMillis() - VersionedTable.ResidueStalenessMs - 60000))
    val freshTmp = new java.io.File(base, "_tmp_commit_v0_cafebabe")
    java.nio.file.Files.write(freshTmp.toPath, "456\ncommit".getBytes)
    VersionedTable.vacuum(spark, base)
    assert(!staleTmp.exists(), "stale temp must be swept without any committed version")
    assert(freshTmp.exists(), "in-flight (fresh) temp must survive vacuum")
  }

  test("deleteWhere / updateWhere: COW DML with SQL semantics, history-tagged") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = tmp() + "/vt-dml"
    VersionedTable.commit(spark, base,
      Seq((1, 10, "x"), (2, 20, "y"), (3, 30, null.asInstanceOf[String]))
        .toDF("k", "n", "tag"))
    // NULL predicate rows are kept (DELETE removes only cond=TRUE rows)
    VersionedTable.deleteWhere(spark, base, col("tag") === "y")
    assert(VersionedTable.read(spark, base).get.select("k")
      .as[Int].collect().sorted.toSeq === Seq(1, 3))
    // SET expressions all read the ORIGINAL row: n -> n*2, m tagged from OLD n
    val v = VersionedTable.updateWhere(spark, base, col("k") === 1,
      Map("n" -> (col("n") * 2), "tag" -> (col("n").cast("string"))))
    val rows = VersionedTable.read(spark, base).get
      .select("k", "n", "tag").as[(Int, Int, Option[String])].collect().toSet
    assert(rows === Set((1, 20, Some("10")), (3, 30, None)),
      "updated row reads old n in both SET expressions; row 3 untouched")
    val ops = VersionedTable.history(spark, base)
      .select("operation").as[String].collect().toSeq
    assert(ops === Seq("commit", "delete", "update"))
    assert(v === 2L)
  }

  test("changes: CDC diff classifies insert / delete / update pre+post images") {
    val base = tmp() + "/vt-cdc"
    val v0 = VersionedTable.commit(spark, base,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    val v1 = VersionedTable.commit(spark, base,
      Seq((2, "B"), (3, "c"), (4, "d")).toDF("k", "v"))
    val out = VersionedTable.changes(spark, base, v0, v1, Seq("k"))
      .as[(Int, String, String)].collect().toSet
    assert(out === Set(
      (1, "a", "delete"),
      (4, "d", "insert"),
      (2, "b", "update_preimage"),
      (2, "B", "update_postimage")),
      "unchanged row 3 must not appear; others classified exactly")
  }

  test("changes: a duplicated key fails loudly instead of multiplying CDC rows") {
    val base = tmp() + "/vt-cdc-dup"
    val v0 = VersionedTable.commit(spark, base,
      Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // violate the unique-key invariant in the `to` version
    val v1 = VersionedTable.commit(spark, base,
      Seq((1, "a"), (2, "b"), (2, "B")).toDF("k", "v"))
    val e = intercept[Exception] {
      VersionedTable.changes(spark, base, v0, v1, Seq("k")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("duplicate key")),
      s"must name the violated invariant, got: ${e.getMessage}")
    // the guard must not fire on valid inputs of the same shape
    assert(VersionedTable.changes(spark, base, v0, v0, Seq("k")).count() === 0)
  }

  test("changes: null-safe keys, column-shift detected, exceptAll gone from the plan") {
    val base = tmp() + "/vt-cdc2"
    val v0 = VersionedTable.commit(spark, base,
      Seq((Option(1), Option("p"), Option.empty[String]),
          (Option.empty[Int], Option("x"), Option("z")),
          (Option(3), Option("s"), Option("t"))).toDF("k", "a", "b"))
    val v1 = VersionedTable.commit(spark, base,
      Seq((Option(1), Option.empty[String], Option("p")), // value moved a->b
          (Option.empty[Int], Option("y"), Option("z")),  // null-key row updated
          (Option(3), Option("s"), Option("t"))).toDF("k", "a", "b"))
    val out = VersionedTable.changes(spark, base, v0, v1, Seq("k"))
    val rows = out.select("k", "a", "b", "_change_type")
      .as[(Option[Int], Option[String], Option[String], String)].collect().toSet
    assert(rows === Set(
      // the position-tagged hash must see a value MOVING between columns
      (Option(1), Option("p"), None, "update_preimage"),
      (Option(1), None, Option("p"), "update_postimage"),
      // a key with a null component present in both versions is an update,
      // never a delete+insert
      (None, Option("x"), Option("z"), "update_preimage"),
      (None, Option("y"), Option("z"), "update_postimage")),
      "row 3 unchanged; column shift and null-key update both classified")
    assert(!out.queryExecution.executedPlan.toString.contains("Except"),
      "diff must run as the keyed narrow-hash join, not exceptAll")
  }

  test("appendEvolved: new columns null-backfill, missing columns null-fill, type change rejected") {
    val base = tmp() + "/vt-evolve"
    VersionedTable.commit(spark, base, Seq((1, "a")).toDF("k", "v"))
    // batch ADDS column `extra` and keeps k/v
    VersionedTable.appendEvolved(spark, base,
      Seq((2, "b", 9L)).toDF("k", "v", "extra"))
    // batch OMITS column `v`
    VersionedTable.appendEvolved(spark, base, Seq((3, 7L)).toDF("k", "extra"))
    val cur = VersionedTable.read(spark, base).get
    assert(cur.columns.toSet === Set("k", "v", "extra"))
    val rows = cur.select("k", "v", "extra")
      .as[(Int, Option[String], Option[Long])].collect().toSet
    assert(rows === Set((1, Some("a"), None), (2, Some("b"), Some(9L)),
      (3, None, Some(7L))))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.appendEvolved(spark, base,
        Seq((4, 1.5)).toDF("k", "extra")) // extra: bigint -> double
    }
    assert(e.getMessage.contains("column types"))
  }

  test("changes across schema evolution: evolved-column updates detected, all columns kept") {
    val base = tmp() + "/vt-cdc-evolve"
    val v0 = VersionedTable.commit(spark, base,
      Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // evolve: add `extra`, update row 1 ONLY in the new column, insert row 3
    val v1 = VersionedTable.commit(spark, base,
      Seq((1, "a", Some(9L)), (2, "b", None), (3, "c", Some(7L)))
        .toDF("k", "v", "extra"))
    val out = VersionedTable.changes(spark, base, v0, v1, Seq("k"))
      .select("k", "v", "extra", "_change_type")
      .as[(Int, String, Option[Long], String)].collect().toSet
    assert(out === Set(
      (1, "a", None, "update_preimage"),      // old side null-backfilled
      (1, "a", Some(9L), "update_postimage"), // new-column-only update IS an update
      (3, "c", Some(7L), "insert")),
      "row 2 (null extra on both sides) is unchanged; row 1 differs only in the evolved column")
  }
}

/** The local filesystem under its own `countfs` scheme, counting
  * `listStatus` calls per path. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  // a def: the superclass constructor qualifies its working dir with it
  override def getUri: java.net.URI = java.net.URI.create(s"$getScheme:///")
  override def getScheme: String = "countfs"
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.listings
      .computeIfAbsent(f.toUri.getPath, _ => new java.util.concurrent.atomic.AtomicInteger)
      .incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFs {
  val listings =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
}

/** [[CountingLocalFs]]'s AbstractFileSystem binding, which the commit
  * marker's `FileContext` rename goes through. */
class CountingLocalAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new CountingLocalFs, conf, "countfs", false)

/** The local filesystem under a scheme with no AbstractFileSystem binding. */
class NoAfsLocalFs extends CountingLocalFs {
  override def getScheme: String = "noafs"
}
