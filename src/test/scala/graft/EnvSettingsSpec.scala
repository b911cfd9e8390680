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
  *  - session configuration: `Bench.driverSession` is the one session
  *    builder, for the mains and the suites alike, and library code never
  *    writes a setting of the session it is handed, so a query's plan does
  *    not depend on which queries ran before it. `perfbench` keeps its own
  *    builder, which must set every key it sets to the definition's value.
  */
class EnvSettingsSpec extends AnyFunSuite {
  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")

  /** (path relative to `dir`, source) of every Scala file under `dir`. */
  private def sourcesUnder(dir: String): List[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => (root.relativize(f).toString,
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")))
    finally s.close()
  }

  private def sources: List[(String, String)] = sourcesUnder("src/main/scala")

  /** `src` with its comments blanked; string and char literals are kept, so
    * a `//` inside a string does not hide the code after it. */
  private def code(src: String): String =
    """"{3}(?s:.*?)"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*(?s:.*?)\*/""".r
      .replaceAllIn(src, m => scala.util.matching.Regex.quoteReplacement(
        if (m.matched.startsWith("/")) " " else m.matched))

  /** Files (relative paths) whose code, outside comments, matches `re`,
    * each once per match. */
  private def hits(files: List[(String, String)], re: scala.util.matching.Regex): Seq[String] =
    files.flatMap { case (f, src) => Seq.fill(re.findAllMatchIn(code(src)).size)(f) }

  /** (file, name) of each environment read in src/main; any form other
    * than a read by literal name (a computed name, a bulk read of the whole
    * environment) counts as the name `<unnamed>`. */
  private lazy val envReads: List[(String, String)] = {
    val anyRead = """sys\.env|System\.getenv""".r
    val namedRead =
      """(?:sys\.env(?:\.(?:getOrElse|get|apply|contains))?|System\.getenv)\s*\(\s*"([^"]*)"""".r
    sources.flatMap { case (f, src) =>
      val named = namedRead.findAllMatchIn(src).map(_.group(1)).toSeq
      val unnamed = anyRead.findAllMatchIn(src).size - named.size
      named.map(n => (f, n)) ++ Seq.fill(unnamed)((f, "<unnamed>"))
    }
  }

  test("src/main reads only the driver deployment settings from the environment") {
    assert(envReads.nonEmpty, "the driver mains read their deployment settings")
    val extra = envReads.collect { case (f, n) if !allowed.contains(n) => s"$f: $n" }.distinct
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

  test("the environment settings src/main reads stay the core count and the scale-factor dir") {
    assert(envReads.map(_._2).toSet === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"))
  }

  private val builder = """\bSparkSession\s*\.\s*builder\b""".r

  test("Bench.driverSession is the one SparkSession builder in src/main and src/test") {
    assert(hits(sources, builder) === Seq("graft/Bench.scala"),
      "src/main builds its session only in Bench.driverSession")
    val inTests = hits(sourcesUnder("src/test/scala"), builder)
    assert(inTests.isEmpty,
      s"src/test builds a session of its own in: ${inTests.distinct.mkString(", ")}")
  }

  test("src/main never writes a setting of a session") {
    val write = """\.conf\s*\.\s*(?:set\w*|unset)\s*\(""".r
    val writes = hits(sources, write)
    assert(writes.isEmpty, s"session-conf writes in src/main: ${writes.distinct.mkString(", ")}")
  }

  test("perfbench's session sets each of its keys to Bench.driverSession's value") {
    val cores = 4 // SparkSuite.session is Bench.driverSession(4)
    val conf = SparkSuite.session.sparkContext.getConf
    val path = java.nio.file.Paths.get("perfbench/src/main/scala/perfbench/BenchMain.scala")
    val src = code(new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
    val config = """\.config\s*\(\s*"([^"]+)"\s*,\s*("[^"]*"|cores\.toString)\s*\)""".r
    val pairs = config.findAllMatchIn(src).map { m =>
      m.group(1) -> (if (m.group(2) == "cores.toString") cores.toString
        else m.group(2).stripPrefix("\"").stripSuffix("\""))
    }.toSeq
    assert("""\.config\s*\(""".r.findAllMatchIn(src).size === pairs.size,
      s"a .config call in $path that is neither a string literal nor cores.toString")
    assert(pairs.size >= 8, s"parsed only ${pairs.size} settings from $path")
    val drift = pairs.collect {
      case (k, v) if !conf.getOption(k).contains(v) =>
        s"$k: perfbench $v, definition ${conf.getOption(k).getOrElse("<unset>")}"
    }
    assert(drift.isEmpty,
      s"perfbench's session differs from Bench.driverSession:\n  ${drift.mkString("\n  ")}")
  }
}
