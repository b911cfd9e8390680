package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(name: String): String = s"/root/testdata/sf0.001"
}

object SparkSuite {
  /** The library's one session definition on 4 cores, so tier-1 checks the
    * plans Bench and Verify run; tests log at ERROR. */
  lazy val session: SparkSession = {
    val s = Bench.driverSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
