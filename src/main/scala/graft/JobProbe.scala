package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Job-level attribution probe: `runMain graft.JobProbe <sfDir> <q1,q2,...>`
  * runs each named registry query once (after an sf0.001 warm-up rep) under
  * the Bench session config with a listener attached, and prints per query:
  * wall seconds, job count, stage count, task count, summed task time, and
  * summed executor-run/JVM-GC/shuffle-fetch time. Wall >> summed-task/cores
  * means the cost is DRIVER-side (scheduling, planning, AQE re-optimization,
  * job-count overhead) — the measurement §1 of the optimization guide asks
  * for before touching an iterative algorithm's round structure.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = Queries.all.map(q => q.name -> q).toMap

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var runTimeMs = 0L
    @volatile var gcTimeMs = 0L
    @volatile var fetchWaitMs = 0L
    @volatile var shuffleBytes = 0L
    // per-stage (stageId → (wallMs, nTasks, sumTaskMs, maxTaskMs, name));
    // listener events arrive on one bus thread, so plain maps are safe
    val stageRows = scala.collection.mutable.LinkedHashMap.empty[
      Int, (Long, Int, Long, Long, String)]
    val stageTaskSum = scala.collection.mutable.Map.empty[Int, Long]
    val stageTaskMax = scala.collection.mutable.Map.empty[Int, Long]
    val verbose = sys.env.get("GRAFT_STAGES").contains("1")
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs += 1
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += sc.stageInfo.numTasks
        val si = sc.stageInfo
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        stageRows(si.stageId) = (wall, si.numTasks,
          stageTaskSum.getOrElse(si.stageId, 0L),
          stageTaskMax.getOrElse(si.stageId, 0L),
          si.name.takeWhile(_ != '\n').take(60))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskTimeMs += te.taskInfo.duration
          runTimeMs += m.executorRunTime
          gcTimeMs += m.jvmGCTime
          fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          shuffleBytes += m.shuffleReadMetrics.totalBytesRead
          stageTaskSum(te.stageId) =
            stageTaskSum.getOrElse(te.stageId, 0L) + te.taskInfo.duration
          stageTaskMax(te.stageId) = math.max(
            stageTaskMax.getOrElse(te.stageId, 0L), te.taskInfo.duration)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val warmDir = {
      val sib = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
      if (sib != sfDir && new java.io.File(sib).isDirectory) sib else sfDir
    }
    names.foreach { n =>
      qs(n).fn(spark, warmDir).write.format("noop").mode("overwrite").save()
    }
    // three reps per query, every rep reported: rep 1 carries sf0.1-sized
    // JIT/codegen warm-up (the sf0.001 warm pass compiles the same code but
    // C2 recompiles hot loops at the bigger row counts), so compare rep 2/3
    for (rep <- 1 to 3; n <- names) {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L; runTimeMs = 0L
      gcTimeMs = 0L; fetchWaitMs = 0L; shuffleBytes = 0L
      stageRows.clear(); stageTaskSum.clear(); stageTaskMax.clear()
      val t0 = System.nanoTime()
      qs(n).fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events post asynchronously; give the bus a beat to drain
      Thread.sleep(400)
      println(f"[jobprobe] rep$rep $n wall=$wall%.2fs jobs=$jobs stages=$stages " +
        f"tasks=$tasks taskTime=${taskTimeMs / 1e3}%.2fs " +
        f"run=${runTimeMs / 1e3}%.2fs gc=${gcTimeMs / 1e3}%.2fs " +
        f"fetchWait=${fetchWaitMs / 1e3}%.2fs " +
        f"shuffleMB=${shuffleBytes / 1e6}%.1f")
      if (verbose && rep == 2) {
        stageRows.toSeq.sortBy(-_._2._1).take(25).foreach {
          case (id, (wall, nt, sum, mx, nm)) =>
            println(f"[stage] $n wall=${wall}ms tasks=$nt sum=${sum}ms " +
              f"max=${mx}ms id=$id $nm")
        }
      }
    }
    spark.stop()
  }
}
