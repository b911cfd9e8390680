package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tripwires on the library's run surface, by source scan:
  *  - environment switches: the library reads exactly the driver
  *    deployment settings (core count and scale-factor directory) from the
  *    environment. Anything else that changes what runs belongs in code or
  *    in an explicit argument, so that every run of a given commit executes
  *    the same plans.
  *  - entry points: `graft.Bench` and `graft.Verify` are the only mains. A
  *    hand-run probe belongs in a spec that guards its numbers, or in
  *    `perfbench`.
  *  - planner strategies: `plans/NativeRange` is the only code that adds a
  *    strategy to the caller's session (`experimental.extraStrategies`).
  *    An operator that stock Spark can express runs through stock Spark.
  */
class EnvSettingsSpec extends AnyFunSuite {
  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** (path relative to src/main/scala, source) of every Scala file. */
  private def sources: List[(String, String)] = {
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => (root.relativize(f).toString,
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")))
    finally s.close()
  }

  test("src/main reads only the driver deployment settings from the environment") {
    val anyRead = """sys\.env|System\.getenv""".r
    // a read by literal name; any other form (a computed name, a bulk read
    // of the whole environment) counts as an unnamed read
    val namedRead =
      """(?:sys\.env(?:\.(?:getOrElse|get|apply|contains))?|System\.getenv)\s*\(\s*"([^"]*)"""".r
    val reads = sources.flatMap { case (f, src) =>
      val named = namedRead.findAllMatchIn(src).map(_.group(1)).toSeq
      val unnamed = anyRead.findAllMatchIn(src).size - named.size
      named.map(n => (f, n)) ++ Seq.fill(unnamed)((f, "<unnamed>"))
    }
    assert(reads.nonEmpty, "the driver mains read their deployment settings")
    val extra = reads.collect { case (f, n) if !allowed.contains(n) => s"$f: $n" }.distinct
    assert(extra.isEmpty,
      s"environment reads beyond ${allowed.mkString(", ")}:\n  ${extra.mkString("\n  ")}")
  }

  test("graft.Bench and graft.Verify are the only entry points in src/main") {
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val mains = sources.collect { case (f, src) if entry.findFirstIn(src).isDefined => f }
    assert(mains.sorted === Seq("graft/Bench.scala", "graft/Verify.scala"),
      s"entry points in src/main/scala: ${mains.sorted.mkString(", ")}")
  }

  test("only NativeRange assigns experimental.extraStrategies in src/main") {
    val assign = """experimental\.extraStrategies\s*=(?!=)""".r
    val files = sources.collect { case (f, src) if assign.findFirstIn(src).isDefined => f }
    assert(files.sorted === Seq("graft/plans/NativeRange.scala"),
      s"files that assign experimental.extraStrategies: ${files.sorted.mkString(", ")}")
  }
}
