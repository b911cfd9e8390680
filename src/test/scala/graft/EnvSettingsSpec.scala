package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tripwire on environment switches: the library reads exactly the driver
  * deployment settings (core count and scale-factor directory) from the
  * environment. Anything else that changes what runs belongs in code or in
  * an explicit argument, so that every run of a given commit executes the
  * same plans.
  */
class EnvSettingsSpec extends AnyFunSuite {
  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")

  test("src/main reads only the driver deployment settings from the environment") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val anyRead = """sys\.env|System\.getenv""".r
    // a read by literal name; any other form (a computed name, a bulk read
    // of the whole environment) counts as an unnamed read
    val namedRead =
      """(?:sys\.env(?:\.(?:getOrElse|get|apply|contains))?|System\.getenv)\s*\(\s*"([^"]*)"""".r
    val reads = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val named = namedRead.findAllMatchIn(src).map(_.group(1)).toSeq
      val unnamed = anyRead.findAllMatchIn(src).size - named.size
      named.map(n => (root.relativize(f).toString, n)) ++
        Seq.fill(unnamed)((root.relativize(f).toString, "<unnamed>"))
    }
    assert(reads.nonEmpty, "the driver mains read their deployment settings")
    val extra = reads.collect { case (f, n) if !allowed.contains(n) => s"$f: $n" }.distinct
    assert(extra.isEmpty,
      s"environment reads beyond ${allowed.mkString(", ")}:\n  ${extra.mkString("\n  ")}")
  }
}
