package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-runtime counters of one job group (one op, or one op's build or
  * execution half). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  /** stage id → (wall ms, task durations ms); completed stages only */
  val stageWall = mutable.Map.empty[Int, Long]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** task counts of the stages that read input files */
  val readStageTasks = mutable.ArrayBuffer.empty[Int]

  /** max ÷ median task duration in the group's slowest stage. */
  def taskSkew: Double = stageWall.maxByOption(_._2).flatMap { case (id, _) =>
    stageTaskMs.get(id).filter(_.nonEmpty).map { ds =>
      val s = ds.sorted
      val med = s(s.size / 2)
      if (med <= 0) 1.0 else s.last.toDouble / med
    }
  }.getOrElse(1.0)
}

/** Collects per-job-group Spark counters and each SQL execution's final
  * (adaptive) plan. Events are delivered on Spark's listener thread; read
  * the maps only after `PerfBridge.drainListeners`.
  */
final class Collector extends SparkListener {
  val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  /** execution id → (job group, latest physical plan description) */
  val plans = mutable.LinkedHashMap.empty[Long, (String, String)]

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
      if (si.taskMetrics != null && si.taskMetrics.inputMetrics.bytesRead > 0)
        s.readStageTasks += si.numTasks
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
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      plans(s.executionId) = (s.jobGroupId.getOrElse(""), s.physicalPlanDescription)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      plans.get(u.executionId).foreach { case (g, _) =>
        plans(u.executionId) = (g, u.physicalPlanDescription)
      }
    case _ =>
  }
}

/** One streaming micro-batch as its progress event reports it. */
final case class BatchProgress(runId: String, batchId: Long, rowsIn: Long,
    addBatchMs: Long, commitMs: Long)

final class StreamCollector extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[BatchProgress]
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches += BatchProgress(p.runId.toString, p.batchId, p.numInputRows,
      ms("addBatch"), ms("walCommit") + ms("commitOffsets"))
  }
}
