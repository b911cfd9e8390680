package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by spans and Spark events: epoch microseconds, with
  * nanoTime resolution between calls (Spark stamps its events in epoch ms). */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans the benchmark records around its calls into the library. They are
  * kept in memory and written out when the run ends. `op` groups the spans of
  * one operation (one query, or one micro-batch and its Gold read). */
final case class Span(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long)

final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var op = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val start = Clock.nowUs
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      done += Span(id, parent, op, name, start, Clock.nowUs)
    }
  }

  def all: Seq[Span] = done.toSeq
}

/** Per-stage task totals, accumulated from task-end events. */
final class StageAgg(val stageId: Int) {
  var tasks = 0
  val durationsMs = mutable.ArrayBuffer.empty[Long]
  var gcMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var shuffleWritten = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spilled = 0L
}

/** `output`: the path the job's SQL execution writes, if it writes files. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int],
    callSite: String, output: String)

/** Planning phases (analysis, optimization, planning) of one executed query,
  * as Catalyst's own tracker timed them. */
final case class PhaseRec(phase: String, startMs: Long, endMs: Long)

/** Records Spark jobs, stages, tasks, RDD block residency and Catalyst
  * planning phases. Registered only in the traced run, and only while a
  * traced pass runs. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private val execOutputs = mutable.HashMap.empty[Long, String]
  private val OutputPath =
    """(?s)Execute InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\s]+)""".r.unanchored
  private var blockBytes = 0L
  var blockBytesPeak = 0L

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job's call site names its result stage, the last one created
    val result = e.stageInfos.maxBy(_.stageId)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val output = exec.flatMap(id => execOutputs.get(id.toLong)).getOrElse("")
    jobs += JobRec(e.jobId, e.time, e.time, e.stageIds, result.name, output)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      s.physicalPlanDescription match {
        case OutputPath(path) => execOutputs(s.executionId) = path
        case _ =>
      }
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.durationsMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.gcMs += m.jvmGCTime
      s.bytesRead += m.inputMetrics.bytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.shuffleWritten += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spilled += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      blockBytes += bytes - rddBlocks.getOrElse(b.blockId.name, 0L)
      if (bytes == 0L) rddBlocks.remove(b.blockId.name) else rddBlocks(b.blockId.name) = bytes
      blockBytesPeak = math.max(blockBytesPeak, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += PhaseRec(name, p.startTimeMs, p.endTimeMs)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
