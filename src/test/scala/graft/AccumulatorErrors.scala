package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

/** The DAGScheduler's `Failed to update accumulator` lines: task updates
  * that arrived after their accumulators were dropped, so those metrics
  * are lost. */
object AccumulatorErrors {

  /** Runs `body`, returning the lines logged meanwhile. */
  def during(body: => Any): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "accumulator-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Failed to update accumulator")) lines.add(msg)
      }
    }
    val log = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[Logger]
    appender.start()
    log.addAppender(appender)
    try body finally log.removeAppender(appender)
    lines.asScala.toSeq
  }
}
