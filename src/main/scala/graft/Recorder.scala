package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Spark-runtime counters of one job group (one query, or one query's
  * build or execution half). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id → wall ms, task durations ms and name; completed stages only */
  val stageWall = mutable.Map.empty[Int, Long]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageName = mutable.Map.empty[Int, String]
}

/** Collects per-job-group Spark counters and each successful SQL
  * execution's `QueryExecution` (its final plan and planning times), keyed
  * by the job group that was set when it ran. Register it with
  * `SparkContext.addSparkListener`. Events arrive on Spark's listener
  * thread: read or reset only after `GraftBridge.drainListeners`.
  */
final class Recorder extends SparkListener {
  val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val executionGroup = mutable.Map.empty[Long, String]
  /** execution id → (job group, the execution after it succeeded) */
  val plans = mutable.LinkedHashMap.empty[Long, (String, QueryExecution)]

  def reset(): Unit = Seq(groups, stageGroup, executionGroup, plans).foreach(_.clear())

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    stats(g).jobs += 1
    e.stageInfos.foreach(si => stageGroup(si.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { g =>
      val s = stats(g)
      s.stages += 1
      for (a <- si.submissionTime; b <- si.completionTime) s.stageWall(si.stageId) = b - a
      s.stageName(si.stageId) = si.name
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionGroup(s.executionId) = s.jobGroupId.getOrElse("")
    case e: SparkListenerSQLExecutionEnd =>
      val g = executionGroup.remove(e.executionId).getOrElse("")
      GraftBridge.succeededExecution(e).foreach(qe => plans(e.executionId) = (g, qe))
    case _ =>
  }
}

object Recorder extends AdaptiveSparkPlanHelper {
  /** Node counts of an executed plan, walking each adaptive plan's final
    * plan and query stages (its text holds the initial plan too, so a
    * substring count would read it twice). */
  def digest(plan: SparkPlan): Map[String, Int] = {
    val kinds = collect(plan) {
      case _: ShuffleExchangeLike => "exchange"
      case _: BroadcastHashJoinExec => "broadcast_hash_join"
      case _: SortMergeJoinExec => "sort_merge_join"
      case _: RDDScanExec => "checkpoint_scan"
    }
    Seq("exchange", "broadcast_hash_join", "sort_merge_join", "checkpoint_scan")
      .map(k => k -> kinds.count(_ == k)).toMap
  }

  /** The executed plan's tree with each adaptive plan replaced by its final
    * plan. */
  def finalPlanString(plan: SparkPlan): String =
    plan.transformDown { case a: AdaptiveSparkPlanExec => a.executedPlan }.treeString
}
