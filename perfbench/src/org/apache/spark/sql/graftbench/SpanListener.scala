package org.apache.spark.sql.graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Task, job and join counters of one job group (one traced span name). */
final class GroupCounters {
  var jobs = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var joinRows = 0L
}

/**
 * Attributes Spark work to the job group that was set when it ran. Lives in
 * a Spark package for two reasons only: the executed plan of a finished SQL
 * execution (for join output rows) and draining the listener bus before the
 * counters are read are both Spark-internal.
 */
final class SpanListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  private def counters(g: String): GroupCounters =
    groups.computeIfAbsent(g, _ => new GroupCounters)

  def get(g: String): GroupCounters = groups.getOrDefault(g, new GroupCounters)
  def all: Iterable[GroupCounters] = scala.jdk.CollectionConverters.CollectionHasAsScala(groups.values).asScala

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.put(id.toLong, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrDefault(e.stageId, "-"))
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      val g = execGroup.get(end.executionId)
      if (g != null) counters(g).joinRows += joinRows(end.qe.executedPlan)
    case _ =>
  }

  // a cached relation's plan runs once, in the execution that fills it
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  /** Rows emitted by join operators, from the SQL metrics of an executed
    * plan (through adaptive query stages and cached relations; reused
    * exchanges and cached plans count once). */
  private def joinRows(p: SparkPlan): Long = {
    val own = p match {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case m: InMemoryTableScanExec =>
        val cached = m.relation.cachedPlan
        if (seenCached.add(cached)) Seq(cached) else Nil
      case _ => p.children ++ p.subqueries
    }
    own + kids.map(joinRows).sum
  }
}

object SpanListener {

  /** Block until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
