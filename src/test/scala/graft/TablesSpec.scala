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

  test("the declared table schemas equal the inferred ones on a perfbench/gen.py output") {
    val out = Files.createTempDirectory("graft-gen").toString
    val gen = s"import sys; sys.path.insert(0, 'perfbench'); import gen; " +
      s"gen.generate('$out', 7, 0.001)"
    try {
      assert(Seq("python3", "-c", gen).! === 0, "perfbench/gen.py failed")
      pinnedEqualsInferred(out)
      // and the declared schema reads the ms timestamps as inference does
      Seq("orders", "lineitem").foreach { n =>
        assert(Tables.load(spark, out, n).collect().toSeq ===
          spark.read.parquet(s"$out/$n.parquet").collect().toSeq, n)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
