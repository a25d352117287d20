package org.apache.spark.sql.graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Hooks into Spark internals this package can see: the listener bus
  * (`private[spark]`) and the finished query attached to the
  * execution-end event (`private[sql]`). */
object Bus {
  /** Block until every queued scheduler and SQL event is delivered. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** Files each finished SQL execution read, keyed by the execution id
  * its jobs carry, from the executed plan's file-scan nodes (adaptive
  * plans are followed into their final stages). */
final class ScanListener extends SparkListener {
  /** execution id → (first root path of the scanned relation, files read) */
  val scans = new ConcurrentHashMap[Long, Seq[(String, Long)]]()

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd => Option(e.qe).foreach { qe =>
      val found = fileScans(qe.executedPlan).map { f =>
        f.relation.location.rootPaths.headOption.map(_.toString).getOrElse("") ->
          f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
      if (found.nonEmpty) scans.put(e.executionId, found)
    }
    case _ =>
  }
}
