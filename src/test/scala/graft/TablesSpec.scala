package graft

import java.nio.file.Files

import scala.sys.process._

/** `Tables.load` declares each table's schema instead of inferring it; the
  * declaration must be exactly what Spark infers from every data set the
  * library reads: the three fixture scales and a `perfbench/gen.py` output
  * (whose timestamps are ms where the fixtures' are µs). */
class TablesSpec extends SparkSuite {

  private def pinnedEqualsInferred(dir: String): Unit =
    Tables.names.filterNot(_ == "events").foreach { n =>
      val inferred = spark.read.parquet(s"$dir/$n.parquet").schema
      assert(Tables.load(spark, dir, n).schema === inferred, s"$n under $dir")
    }

  test("the declared table schemas equal the inferred ones on every fixture scale") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach(sf => pinnedEqualsInferred(s"/root/testdata/$sf"))
  }

  /** Runs `body` on a fresh `perfbench/gen.py` output (seed 7, sf 0.001). */
  private def onGenOutput(body: String => Unit): Unit = {
    val out = Files.createTempDirectory("graft-gen").toString
    val gen = s"import sys; sys.path.insert(0, 'perfbench'); import gen; " +
      s"gen.generate('$out', 7, 0.001)"
    try {
      assert(Seq("python3", "-c", gen).! === 0, "perfbench/gen.py failed")
      body(out)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("the declared table schemas equal the inferred ones on a perfbench/gen.py output") {
    onGenOutput { out =>
      pinnedEqualsInferred(out)
      // and the declared schema reads the ms timestamps as inference does
      Seq("orders", "lineitem").foreach { n =>
        assert(Tables.load(spark, out, n).collect().toSeq ===
          spark.read.parquet(s"$out/$n.parquet").collect().toSeq, n)
      }
    }
  }

  test("events with nanosecond ts read as floored µs, and only under the session's nanosAsLong") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    onGenOutput { out =>
      // the shared session (Bench.driverSession) reads ns INT64 as raw longs
      val raw = spark.read.parquet(s"$out/events.parquet")
      assert(raw.schema("ts").dataType === org.apache.spark.sql.types.LongType,
        "gen.py writes events.ts as nanosecond INT64")
      val want = raw.select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> Math.floorDiv(r.getLong(1), 1000L)).toMap
      val got = Tables.events(spark, out)
        .selectExpr("event_id", "unix_micros(ts)").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.nonEmpty && got === want)
      // a session without the setting fails, naming the table and the
      // key, and keeps its own setting
      val other = spark.newSession()
      other.conf.set(key, "false")
      val e = intercept[Exception](Tables.events(other, out))
      assert(e.getMessage.contains("events") && e.getMessage.contains(key), e.getMessage)
      assert(other.conf.get(key) === "false")
    }
  }
}
