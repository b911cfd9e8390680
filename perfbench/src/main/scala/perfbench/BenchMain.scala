package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one benchmark workload against the library's public entry points and
  * writes every raw sample as JSON; `run.py` checks and summarizes it.
  *
  * Usage: BenchMain <workload> <dataDir> <workDir> <seconds> <seed> <trace 0|1>
  *   <cores> <outJson>
  *
  * The load is a closed loop from this one driver thread. Untraced runs
  * register no listener; a traced run alternates untraced and traced passes
  * so the tracing overhead is measured within one process, then times the
  * `functions` kernels on their own.
  */
object BenchMain {

  final case class Conf(workload: String, data: String, work: String, seconds: Double,
      seed: Long, trace: Boolean, cores: Int, out: String)

  /** One fixed session configuration, shared by the checked and the timed
    * executions so the plans that are timed are the plans that were checked. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.queryExecutionListeners", "graft.plans.GraftLintListener")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val c = args match {
      case Array(w, d, wk, s, seed, t, cores, out) =>
        Conf(w, d, wk, s.toDouble, seed.toLong, t == "1", cores.toInt, out)
      case _ => sys.error("usage: BenchMain <workload> <dataDir> <workDir> <seconds> " +
        "<seed> <trace 0|1> <cores> <outJson>")
    }
    HeapPeak.install()
    val t0 = System.nanoTime()
    val spark = session(c.cores)
    val rec = new Recorder(spark, c)
    try {
      c.workload match {
        case "medallion_ingest" => new Ingest(spark, c, rec).run(t0)
        case w => new Catalog(spark, c, rec, Catalog.workloads.getOrElse(w,
          sys.error(s"unknown workload $w"))).run(t0)
      }
      if (c.trace) Kernels.run(spark, c.data, rec)
    } finally {
      rec.put("heap_peak_mb", HeapPeak.peakMb)
      Files.writeString(Paths.get(c.out), rec.json)
      spark.stop()
    }
  }

  /** Full materialization into a noop sink. Never `count()`: it lets column
    * pruning drop the aggregates and kernels the result would need. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Peak heap still in use after a garbage collection over the timed
  * operations: the most the run held live, read from the collector's own
  * usage reports. (Usage before a collection mostly measures the heap size
  * the collector chose.) The workloads reset it once warm-up has settled,
  * since the garbage that warm-up passes without a full collection between
  * them promote varies from run to run. */
object HeapPeak {
  @volatile private var peak = 0L

  def reset(): Unit = synchronized { peak = 0L }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        n.getUserData match {
          case cd: javax.management.openmbean.CompositeData
              if n.getType == "com.sun.management.gc.notification" =>
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
              .map(_.getUsed).sum
            synchronized { peak = math.max(peak, after) }
          case _ =>
        }
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1048576.0
}

/** Collects the run's raw samples, spans and Spark events as JSON. */
final class Recorder(spark: SparkSession, c: BenchMain.Conf) {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  private val ops = mutable.ArrayBuffer.empty[String]
  private val passes = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  val spans = new Spans
  val tracer = new Tracer
  private var tracing = false

  def put(k: String, v: Any): Unit = fields(k) = Recorder.js(v)

  def op(pass: Int, name: String, seconds: Double, rows: Long, error: Option[String],
      extra: Map[String, Any] = Map.empty): Unit = {
    error.foreach(e => failures += s"$name (pass $pass): $e")
    val at = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] at $at%.1f s: pass $pass%d $name%s $seconds%.3f s, $rows%d rows" +
      error.map(e => s", failed: $e").getOrElse(""))
    ops += Recorder.js(Map("pass" -> pass, "name" -> name, "s" -> seconds,
      "rows" -> rows, "ok" -> error.isEmpty, "traced" -> tracing) ++ extra)
  }

  def pass(i: Int, seconds: Double): Unit =
    passes += Recorder.js(Map("pass" -> i, "s" -> seconds, "traced" -> tracing))

  /** Registers the tracer for a traced pass and removes it after. */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    val sc = spark.sparkContext
    org.apache.spark.graft.CleanerBridge.waitListenerBusEmpty(sc)
    if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
    else { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
    tracing = on
  }

  /** Timed passes a run makes at least: three (so a burst of host load in
    * one or two passes is not the run's figure), and four in a traced run,
    * which alternates untraced and traced passes in the order U T T U so
    * warm-up drift cancels out of the tracing overhead. */
  def minPasses: Int = if (c.trace) 4 else 3

  /** A span only while tracing; otherwise just the body. */
  def span[T](name: String)(body: => T): T = if (tracing) spans(name)(body) else body

  def calibrate(key: String): Unit = {
    if (!fields.contains("calib_pre")) graft.Bench.calibrate(spark) // compiles the probe
    put(key, graft.Bench.calibrate(spark))
  }

  def json: String = {
    setTracing(false)
    val t = tracer
    fields("ops") = ops.mkString("[", ",", "]")
    fields("passes") = passes.mkString("[", ",", "]")
    fields("failures") = Recorder.js(failures.toSeq)
    if (c.trace) t.synchronized {
      fields("spans") = Recorder.js(spans.all.map(s => Seq(s.id, s.parent, s.op, s.name,
        s.startUs, s.endUs)))
      fields("jobs") = Recorder.js(t.jobs.toSeq.map(j => Seq(j.id, j.startMs, j.endMs,
        j.callSite, j.output, j.stageIds)))
      fields("stages") = Recorder.js(t.stages.values.toSeq.map(s => Map(
        "id" -> s.stageId, "tasks" -> s.tasks,
        "durations_ms" -> s.durationsMs.toSeq, "gc_ms" -> s.gcMs,
        "bytes_read" -> s.bytesRead, "records_read" -> s.recordsRead,
        "bytes_written" -> s.bytesWritten, "shuffle_written" -> s.shuffleWritten,
        "shuffle_read" -> s.shuffleRead, "fetch_wait_ms" -> s.fetchWaitMs,
        "spilled" -> s.spilled)))
      fields("phases") = Recorder.js(t.phases.toSeq.map(p => Seq(p.phase, p.startMs, p.endMs)))
      fields("block_bytes_peak") = t.blockBytesPeak.toString
    }
    fields.map { case (k, v) => Recorder.js(k) + ":" + v }.mkString("{", ",", "}")
  }
}

object Recorder {
  def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case o: Option[_] => o.map(js).getOrElse("null")
    case other => js(other.toString)
  }
}
