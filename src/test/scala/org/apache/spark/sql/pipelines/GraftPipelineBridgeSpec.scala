package org.apache.spark.sql.pipelines

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.pipelines.GraftPipelineBridge.TableSpec
import org.apache.spark.sql.pipelines.common.FlowStatus
import org.apache.spark.sql.pipelines.logging.{ConstructPipelineEvent, EventLevel, FlowProgress, PipelineEventOrigin}

/** The batch scheduler's flow-completion gate: it reads the structured
  * progress event, never the human-readable message, so no flow waits
  * out the 2 s grace window.
  */
class GraftPipelineBridgeSpec extends graft.SparkSpec {

  test("sdp: COMPLETED is read from the event details, whatever the flow name") {
    def event(flow: String, status: FlowStatus) = ConstructPipelineEvent(
      origin = PipelineEventOrigin(None, Some(flow), None),
      level = EventLevel.INFO, message = "not parsed",
      details = FlowProgress(status))
    val name = "spark_catalog.db.daily totals"
    assert(GraftPipelineBridge.completedFlow(event(name, FlowStatus.COMPLETED))
      .contains(name))
    assert(GraftPipelineBridge.completedFlow(event(name, FlowStatus.RUNNING)).isEmpty)
  }

  test("sdp: a one-flow pipeline finishes in under 1 s with no grace warning") {
    val db = s"sdp_grace_${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    def run(name: String): Seq[String] = GraftPipelineBridge.runBatchPipeline(
      spark, db, Seq(TableSpec(name, "SELECT 1L AS x")),
      java.nio.file.Files.createTempDirectory("graft_sdp_grace_").toUri.toString)
    run("warmup") // one-time planning cost stays out of the timed run
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("sdp-grace-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val logger = LogManager.getLogger(
      GraftPipelineBridge.getClass.getName.stripSuffix("$")).asInstanceOf[Logger]
    logger.addAppender(appender)
    val t0 = System.nanoTime()
    val events =
      try run("one_flow")
      finally { logger.removeAppender(appender); appender.stop() }
    val ms = (System.nanoTime() - t0) / 1e6
    assert(events.exists(_.contains(s"$db.one_flow has COMPLETED")),
      s"expected the flow's COMPLETED event, got:\n${events.mkString("\n")}")
    assert(warnings.isEmpty, s"grace window fired: ${warnings.toArray.mkString("; ")}")
    assert(ms < 1000, f"one-flow pipeline took $ms%.0f ms")
    assert(spark.table(s"$db.one_flow").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
