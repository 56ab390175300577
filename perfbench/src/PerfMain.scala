package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.PerfBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.Queries
import graft.etl.Pipeline

/** The timed process of the benchmark: one workload, one client thread,
  * closed loop. Reads the run plan that `run.py` wrote (inputs already
  * generated), sets up, warms up, measures whole rounds of ops until the
  * window has passed, then writes what it saw to result.json. Output
  * checks and metric arithmetic happen in `run.py`, outside this process.
  *
  * Usage: PerfMain <plan.json>
  */
object PerfMain {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val work = plan.get("work").asText
    val cores = plan.get("cores").asInt
    val trace = plan.get("trace").asBoolean
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val collector = new Collector
    val streams = new StreamCollector
    if (trace) {
      spark.sparkContext.addSparkListener(collector)
      spark.streams.addListener(streams)
    }
    val out = mapper.createObjectNode()
    val run = new Run(spark, plan, trace, out)
    plan.get("workload").asText match {
      case "etl_daily" => run.etl()
      case _ => run.registry()
    }
    PerfBridge.drainListeners(spark.sparkContext)
    if (trace) run.writeTrace(collector, streams)
    out.put("peak_rss_mb", peakRssMb())
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(s"$work/result.json"), out)
    spark.stop()
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
}

/** Process-level counters, read at the edges of the timed window. */
final case class Jvm(cpuNs: Long, gcMs: Long, jitMs: Long, codegens: Long,
    busyTicks: Long, stealTicks: Long)
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Jvm = Jvm(os.getProcessCpuTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    cpuLine(0) + cpuLine(1) + cpuLine(2) + cpuLine(5) + cpuLine(6), cpuLine(7))
  /** Field `i` of the machine-wide "cpu" line of /proc/stat, in ticks. */
  private def cpuLine(i: Int): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1)(i).toLong finally src.close()
  }
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

final class Run(spark: SparkSession, plan: JsonNode, trace: Boolean, out: ObjectNode) {
  import PerfMain.mapper
  import graft.expr._
  private val sc = spark.sparkContext
  private val seconds = plan.get("seconds").asDouble
  private val work = plan.get("work").asText
  private val ops = out.putArray("ops")
  private var attempted = 0
  private var failed = 0
  private var jvm0: Jvm = _
  private var tStart = 0L

  private def startWindow(): Unit = {
    System.gc()
    Jvm.resetHeapPeak()
    jvm0 = Jvm.now()
    out.put("first_op_epoch_ms", System.currentTimeMillis())
    tStart = System.nanoTime()
  }

  private def elapsed: Double = (System.nanoTime() - tStart) / 1e9

  private def endWindow(): Unit = {
    val wall = elapsed
    val j = Jvm.now()
    out.put("window_s", wall)
    out.put("cpu_s", (j.cpuNs - jvm0.cpuNs) / 1e9)
    out.put("gc_s", (j.gcMs - jvm0.gcMs) / 1e3)
    out.put("jit_s", (j.jitMs - jvm0.jitMs) / 1e3)
    out.put("codegen_compiles", j.codegens - jvm0.codegens)
    out.putArray("ticks_start").add(jvm0.busyTicks).add(jvm0.stealTicks)
    out.putArray("ticks_end").add(j.busyTicks).add(j.stealTicks)
    out.put("heap_peak_mb", Jvm.heapPeakMb)
    out.put("attempted", attempted)
    out.put("failed", failed)
  }

  /** Runs `body` as op number `attempted`, recording its wall time. */
  private def op(name: String)(body: ObjectNode => Unit): Unit = {
    attempted += 1
    val rec = ops.addObject()
    rec.put("i", attempted)
    rec.put("name", name)
    val t0 = System.nanoTime()
    try body(rec)
    catch {
      case NonFatal(e) =>
        failed += 1
        rec.put("error", String.valueOf(e.getMessage).take(500))
    }
    rec.put("wall_s", (System.nanoTime() - t0) / 1e9)
  }

  // ---- analytics_mix ----------------------------------------------------------

  /** Registry queries, each op one query materialised in full with a noop
    * write, in the run plan's (seeded) order. The untimed warm-up runs
    * every op once on this client thread; after the window every query
    * runs once more, on the same thread and the same served artifacts,
    * writing the parquet that run.py checks.
    */
  def registry(): Unit = {
    val reg = plan.get("registry")
    val data = reg.get("data").asText
    val outDir = reg.get("out").asText
    val byName = Queries.all.map(q => q.name -> q).toMap
    val qs = reg.get("ops").elements().asScala.map(n => byName(n.asText)).toSeq
    mapper.writeValue(new File(s"$outDir/oracle_sql.json"),
      qs.flatMap(q => q.oracle.map(q.name -> _)).toMap.asJava)

    def clearCached(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    def each(group: String)(write: (graft.queries.Q, DataFrame) => Unit): Unit =
      qs.foreach { q =>
        sc.setJobGroup(s"$group-${q.name}", q.name)
        write(q, q.fn(spark, data))
        sc.clearJobGroup()
        clearCached()
      }
    each("warm")((_, df) => df.write.format("noop").mode("overwrite").save())

    startWindow()
    do qs.foreach { q =>
      op(q.name) { rec =>
        val i = attempted
        sc.setJobGroup(s"op-$i-build", q.name)
        val t0 = System.nanoTime()
        val df = q.fn(spark, data)
        val t1 = System.nanoTime()
        if (trace) df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        sc.setJobGroup(s"op-$i-exec", q.name)
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        rec.put("build_s", (t1 - t0) / 1e9)
        rec.put("plan_s", (t2 - t1) / 1e9)
        rec.put("exec_s", (t3 - t2) / 1e9)
        rec.put("groups", s"op-$i-build,op-$i-exec")
      }
      sc.clearJobGroup()
      clearCached()
    } while (elapsed < seconds)
    endWindow()
    each("check")((q, df) => df.write.mode("overwrite").parquet(s"$outDir/${q.name}"))
    if (trace)
      exprRates(spark.read.parquet(reg.get("expr_input").asText).select("text")
        .crossJoin(spark.range(100)).select("text"), Seq(
        "minhash_sig" -> MinHashSig(col("text"), 5, 64, md5Base = true),
        "ngram_hashes" -> NgramHashes(col("text"), 3),
        "winnow_sig" -> WinnowSig(col("text")),
        "simhash_bits" -> SimHashBits(col("text"), md5Base = false)))
  }

  // ---- etl_daily -------------------------------------------------------------

  private def land(from: String, to: String): Unit = {
    new File(to).mkdirs()
    new File(from).listFiles().sortBy(_.getName).foreach { f =>
      Files.move(f.toPath, Paths.get(to, f.getName))
    }
  }

  /** One day: land its files, drain them into the JDBC sink. */
  private def day(e: JsonNode, table: String, dirs: JsonNode): String = {
    land(e.get("dir").asText, dirs.get("raw").asText)
    val q = Pipeline.startJdbcLoadStream(spark, dirs.get("raw").asText,
      dirs.get("url").asText, table, dirs.get("archive").asText,
      dirs.get("checkpoint").asText, e.get("dump_date").asText,
      Trigger.AvailableNow())
    q.awaitTermination()
    q.exception.foreach(throw _)
    q.runId.toString
  }

  private def jdbc[T](url: String)(f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def tableRows(url: String): Long = jdbc(url) { c =>
    val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM properties_data")
    rs.next()
    rs.getLong(1)
  }

  /** Appends `n` already-transformed history rows (negative batch ids, a
    * dump date before any generated day) to the sink table, creating it
    * with the columns Spark's JDBC writer gives it. */
  private def history(url: String, from: Int, n: Int): Unit = jdbc(url) { c =>
    val meta = c.getMetaData.getTables(null, null, "PROPERTIES_DATA", null)
    if (!meta.next()) c.createStatement().executeUpdate(
      """CREATE TABLE properties_data ("purpose" VARCHAR(255),
        |"address" VARCHAR(255), "region" VARCHAR(255), "size_m2" INTEGER NOT NULL,
        |"design" VARCHAR(255), "price_czk" BIGINT NOT NULL, "price_per_m2" INTEGER,
        |"link" VARCHAR(255), "dump_date" VARCHAR(255), "file_name" VARCHAR(255),
        |"batch_id" BIGINT NOT NULL)""".stripMargin)
    c.setAutoCommit(false)
    val st = c.prepareStatement("INSERT INTO properties_data VALUES (?,?,?,?,?,?,?,?,?,?,?)")
    val regions = graft.schema.PropertySchema.czechRegions
    for (i <- from until from + n) {
      val size = 30 + i % 170
      val price = 1000000L + (i * 7919L) % 9000000L
      st.setString(1, "Prodej bytu"); st.setString(2, s"Husova ${i % 200}")
      st.setString(3, regions(i % regions.size)); st.setInt(4, size)
      st.setString(5, "2+kk"); st.setLong(6, price)
      st.setInt(7, math.ceil(price.toDouble / size).toInt)
      st.setString(8, s"/history/$i"); st.setString(9, "2024_01_01_060000")
      st.setString(10, "history.csv"); st.setLong(11, -1L - i / 4000)
      st.addBatch()
      if (i % 5000 == 4999) st.executeBatch()
    }
    st.executeBatch()
    c.commit()
  }

  /** The paper's DAG, one day per op, into one embedded Derby table that
    * already holds `history_rows` rows (a pipeline that has run for
    * weeks), so sink costs that grow with the table are in every op. The
    * table and the stream checkpoint carry over from day to day; the first
    * `warm_days` days run untimed, so the window starts on a pipeline
    * whose table, checkpoint and statements are already in use.
    *
    * The traced run adds, after the window, `probe_rows` more history
    * rows and one more day, so the addBatch slope against table size is
    * measured across a wide range of sizes.
    */
  def etl(): Unit = {
    val etl = plan.get("etl")
    val main = etl.get("main")
    val url = main.get("url").asText
    val hist = etl.get("history_rows").asInt
    history(url, 0, hist)
    val days = etl.get("days").elements().asScala
    val warmed = out.putArray("warm_days")
    for (_ <- 0 until etl.get("warm_days").asInt) {
      val d = days.next()
      day(d, "properties_data", main)
      warmed.add(d.get("day").asText)
    }
    startWindow()
    while (days.hasNext && elapsed < seconds) {
      val d = days.next()
      val before = if (trace) tableRows(url) else -1L
      op(d.get("day").asText) { rec =>
        rec.put("groups", day(d, "properties_data", main))
        rec.put("rows_before", before)
      }
    }
    endWindow()
    if (trace && days.hasNext) {
      history(url, hist, etl.get("probe_rows").asInt)
      val d = days.next()
      val probe = out.putObject("probe")
      probe.put("day", d.get("day").asText)
      probe.put("rows_before", tableRows(url))
      probe.put("groups", day(d, "properties_data", main))
    }

    // The sink read back over plain JDBC for run.py's checks.
    jdbc(url) { c =>
      out.put("sink_rows", tableRows(url))
      val rs = c.createStatement().executeQuery(
        """SELECT "link", "region", "price_czk", "price_per_m2", "dump_date",
          |"file_name", "batch_id" FROM properties_data WHERE "batch_id" >= 0""".stripMargin)
      val w = Files.newBufferedWriter(Paths.get(work, "sink.tsv"))
      try while (rs.next()) {
        val ppm2 = rs.getObject(4)
        w.write(Seq(rs.getString(1), rs.getString(2), rs.getLong(3).toString,
          if (ppm2 == null) "" else ppm2.toString, rs.getString(5),
          rs.getString(6), rs.getLong(7).toString).mkString("\t"))
        w.write("\n")
      } finally w.close()
    }
    if (trace) {
      val raw = spark.read.schema(graft.schema.PropertySchema.raw)
        .option("sep", "\t").option("header", "true").option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .csv(main.get("archive").asText)
      exprRates(raw, Seq(
        "transliterate" -> Transliterate(col("address")),
        "address_parts" -> AddressParts(col("address")),
        "digits_only" -> DigitsOnly(col("price_czk"))))
    }
  }

  // ---- traced-run extras -----------------------------------------------------

  /** Rows/s of each custom expression projected over the workload's own
    * input column (cached first), noop write, median of three. */
  private def exprRates(df: DataFrame, projections: Seq[(String, Column)]): Unit = {
    val cached = df.cache()
    val rows = cached.count()
    val node = out.putObject("expr_rows_per_s")
    projections.foreach { case (name, c) =>
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        cached.select(c).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      node.put(name, rows / ts(1))
    }
    cached.unpersist()
  }

  /** Per-op Spark counters, micro-batch progress and final plans. */
  def writeTrace(c: Collector, s: StreamCollector): Unit = {
    val g = out.putObject("groups")
    c.groups.foreach { case (name, st) =>
      val n = g.putObject(name)
      n.put("jobs", st.jobs); n.put("stages", st.stages); n.put("tasks", st.tasks)
      n.put("task_s", st.taskMs / 1e3); n.put("gc_s", st.gcMs / 1e3)
      n.put("shuffle_read_mb", st.shuffleReadBytes / 1048576.0)
      n.put("shuffle_write_mb", st.shuffleWriteBytes / 1048576.0)
      n.put("fetch_wait_s", st.fetchWaitMs / 1e3)
      n.put("spill_mb", st.spillBytes / 1048576.0)
      n.put("task_skew", st.taskSkew)
      val rt = n.putArray("read_stage_tasks")
      st.readStageTasks.foreach(rt.add(_))
    }
    val b = out.putArray("batches")
    s.batches.sortBy(_.batchId).foreach { p =>
      val n = b.addObject()
      n.put("run_id", p.runId); n.put("batch_id", p.batchId)
      n.put("rows_in", p.rowsIn); n.put("add_batch_s", p.addBatchMs / 1e3)
      n.put("commit_s", p.commitMs / 1e3)
    }
    val planDir = new File(s"$work/trace/plans")
    planDir.mkdirs()
    val byGroup = c.plans.values.groupBy(_._1)
    ops.elements().asScala.foreach { o =>
      val groups = o.get("groups")
      if (groups != null) {
        val text = groups.asText.split(",").toSeq
          .flatMap(gr => byGroup.getOrElse(gr, Nil).map(_._2))
        Files.write(Paths.get(planDir.getPath,
          f"${o.get("i").asInt}%04d_${o.get("name").asText}.txt"),
          text.mkString("\n\n").getBytes("UTF-8"))
      }
    }
  }
}
