package graft

import java.io.File

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}

/** Benchmark main: runs the headline query set (Queries.benchSet) against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is materialized with a noop-format write so EVERY expression
  * evaluates (a bare .count() lets Catalyst prune all projections and would
  * benchmark a row count instead of the operator — VERDICT r1 §wrong.4).
  * Errors are NOT swallowed: a failing query prints its error and the
  * process exits nonzero, so a bad round is visible in BENCH output.
  *
  * `ONLY=q1,q2` times just those registry queries (any of `Queries.all`)
  * and writes no history file. Each timed run also records its layer split
  * (build / plan / exec seconds, jobs, stages, tasks, Σtask, GC, shuffle,
  * spill, codegen compiles, a plan digest) and its final plan; the run
  * whose time is published has them written beside its time.
  */
object Bench {
  // reads every record; writes the layers with snake_case keys, leaving out
  // an absent digest and an empty stage list
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .setDefaultPropertyInclusion(JsonInclude.Include.NON_EMPTY)

  /** The core count of a record: "cores" (detail and history files), the
    * "cpus" of an official BENCH_rN.json, or 32 when it carries neither. */
  private def coresOf(root: JsonNode): Int =
    root.path("cores").asInt(root.path("cpus").asInt(32))

  private def readJson(f: File): Option[JsonNode] =
    try Some(mapper.readTree(f))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Per-query seconds over the given maps: each query's smallest positive
    * value (non-object nodes contribute nothing). */
  private def queriesOf(nodes: JsonNode*): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double]
    nodes.filter(_.isObject).foreach(_.propertyStream().forEach { e =>
      val v = e.getValue.asDouble()
      if (v > 0 && acc.get(e.getKey).forall(v < _)) acc(e.getKey) = v
    })
    acc.toMap
  }

  private def listed(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)

  /** Files of `dir` whose name matches `re`, with the round its first group
    * names. */
  private def numbered(dir: File, re: String): Seq[(Int, File)] =
    listed(dir).flatMap(f =>
      re.r.findFirstMatchIn(f.getName).map(_.group(1).toInt -> f))
  private val benchRecord = "^BENCH_r(\\d+)\\.json$"

  /** The committed history file of a run: `r<N>_<sf>.json` at 32 cores,
    * `r<N>_<sf>_c<cores>.json` otherwise; none for a run of unknown round
    * or an `ONLY` run. */
  def historyFile(histDir: File, round: Option[Int], only: Boolean,
      sfName: String, cores: Int): Option[File] =
    round.filter(_ => !only).map { rn =>
      val suffix = if (cores == 32) "" else s"_c$cores"
      new File(histDir, s"r${rn}_$sfName$suffix.json")
    }

  /** Cross-RUN load references (VERDICT r13 next #2): the within-run
    * canary only sees intra-run drift, so a run that starts AND stays on
    * a loaded machine publishes uniformly inflated numbers with a clean
    * canary (r13's official record was ~35% above the same day's
    * mid-round detail on 134 common queries). Each prior record of the
    * same SF and core count — earlier `detailDir/bench_detail_*.json` runs
    * (this round's own mid-round benches included, never the run's own
    * `selfTag`) and the committed history maps — is kept as its OWN
    * per-query map, and an attempt is judged by the MINIMUM sum-ratio
    * against any single record with enough overlap: "is this run
    * consistent with at least one clean prior run?" A pooled
    * per-query-min reference was tried first and rejected — mins pooled
    * across 7+ records (and across rounds that may run on differently
    * provisioned machines) are collectively unachievable, and a genuinely
    * clean run read 1.24× against the pool while reading ~1.0× against
    * the single record it was actually comparable to. A record of another
    * core count is never a reference: an 8-core map is no measure of a
    * 32-core machine's load.
    */
  def loadRefs(detailDir: File, histDir: File, selfTag: String,
      sfName: String, cores: Int): Seq[(String, Map[String, Double])] = {
    val details = listed(detailDir)
      .filter(f => f.getName.matches("bench_detail_.+\\.json") &&
        f.getName != s"bench_detail_$selfTag.json")
      .flatMap(f => readJson(f).collect {
        // detail files pin the sf DIR; only same-SF records compare
        case root if root.path("sf").asText("").endsWith(sfName) &&
            coresOf(root) == cores =>
          f.getName -> queriesOf(root.path("pass1"), root.path("pass2"))
      })
    val hist = listed(histDir).filter(_.getName.endsWith(".json"))
      .flatMap(f => readJson(f).collect {
        case root if root.path("sf").asText("") == sfName &&
            coresOf(root) == cores =>
          f.getName -> queriesOf(root.path("queries"))
      })
    (details ++ hist).filter(_._2.nonEmpty)
  }

  /** vs_prev's side: the newest prior round's per-query map of the same SF
    * and core count, from EITHER an old-style `benchDir/BENCH_rN.json`
    * parsed.queries map OR a committed `histDir/r<N>_<sf>[_c<cores>].json`
    * (since r14 the stdout record carries no per-query map). With a known
    * `round`, records of that round and later are excluded, so an
    * in-round dev run never compares against the round's OWN history file
    * (it would read ~1.0 and mask regressions).
    */
  def prevRecord(benchDir: File, histDir: File, round: Option[Int],
      sfName: String, sfValue: Double, cores: Int)
      : Option[(String, Map[String, Double])] = {
    val cands =
      (numbered(benchDir, benchRecord) ++ numbered(histDir,
        "^r(\\d+)_" + java.util.regex.Pattern.quote(sfName) + "(?:_c\\d+)?\\.json$"))
        .filter { case (n, _) => round.forall(n < _) }
        // newest round first; within a round prefer the history file
        // (full map, exact official numbers) over the BENCH tail
        .sortBy { case (n, f) => (-n, if (f.getName.startsWith("BENCH_")) 1 else 0) }
    cands.iterator.flatMap { case (_, f) =>
      readJson(f).flatMap { root =>
        val isBench = f.getName.startsWith("BENCH_")
        // same-SF only: a BENCH record carries the numeric sf at its top
        // level and/or a name/path inside parsed.sf —
        // per-query seconds from a different scale factor are not a
        // baseline (an sf0.01 local run vs the sf0.1 round record read
        // 0.50× before this check). History files are name-filtered.
        val sfOk = !isBench || {
          val outer = root.path("sf")
          (outer.isNumber && math.abs(outer.asDouble() - sfValue) < 1e-9) ||
            root.path("parsed").path("sf").asText("").endsWith(sfName)
        }
        val m = queriesOf(
          if (isBench) root.path("parsed").path("queries") else root.path("queries"))
        if (sfOk && coresOf(root) == cores && m.nonEmpty) Some(f.getName -> m)
        else None
      }
    }.nextOption()
  }

  /** `Queries.benchSet`, or the registry queries an `ONLY` list names. */
  def selectQueries(only: Option[String]): Seq[Queries.Q] =
    only.fold[Seq[Queries.Q]](Queries.benchSet)(_.split(",").toSeq.map(_.trim)
      .filter(_.nonEmpty).map(n => Queries.all.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"unknown query $n; known: " +
          Queries.all.map(_.name).mkString(", ")))))

  /** A timed run's layer split as the detail and history files carry it:
    * seconds inside the query function (eager checkpoints, probes), in the
    * write's Catalyst optimization and planning, and in its execution;
    * Spark counters summed over both halves; the final plan's digest; the
    * five slowest stages (detail file only). */
  final case class Layers(buildS: Double, planS: Double, execS: Double,
      buildJobs: Int, jobs: Long, stages: Long, tasks: Long, taskS: Double,
      gcS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, codegenCompiles: Long,
      digest: Option[Map[String, Int]], slowestStages: Seq[Stage])
  final case class Stage(wallS: Double, tasks: Int, taskS: Double,
      maxTaskS: Double, name: String)
  /** One timed run of a query: seconds, success, what the recorder saw and
    * the final plan of its write. */
  final case class Run(sec: Double, ok: Boolean, layers: Layers, plan: Option[String])

  /** One timed run of `q`: exactly `fn` plus its noop write are timed.
    * Jobs fired while `fn` builds the DataFrame (eager checkpoints,
    * probes) run in job group "build", the write's in "exec"; `recorder`
    * is read after draining the listener bus, outside the timed region.
    * A failing run's duration is kept for forensics but must never be
    * mistaken for a measurement (Run.ok).
    */
  def timeOne(spark: SparkSession, recorder: Recorder, q: Queries.Q,
      sfDir: String): Run = {
    val sc = spark.sparkContext
    GraftBridge.drainListeners(spark)
    recorder.reset()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setJobGroup("build", q.name)
    val t0 = System.nanoTime()
    var t1 = 0L
    val ok =
      try {
        val df = q.fn(spark, sfDir)
        t1 = System.nanoTime()
        sc.setJobGroup("exec", q.name)
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
          false
      }
    val t2 = System.nanoTime()
    sc.clearJobGroup()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    if (t1 == 0L) t1 = t2
    // Untimed hygiene: queries are independent, but localCheckpoint
    // leaves its RDD blocks cached after the query finishes; across
    // 140+ timed runs those leaked blocks crowd the unified memory
    // pool and tax LATER queries' execution memory (transform_chain
    // measured 8.2 s late in a full bench vs 3.3 s standalone —
    // r7 probe). Dropping them between queries keeps each
    // measurement a cold, independent run.
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    GraftBridge.drainListeners(spark)

    val gs = Seq("build", "exec").map(recorder.groups.getOrElse(_, new GroupStats))
    def total(f: GroupStats => Long): Long = gs.map(f).sum
    def r3(x: Double): Double = math.round(x * 1e3) / 1e3
    val write = recorder.plans.values.collectFirst { case ("exec", qe) => qe }
    val planS = write.map(qe => Seq("optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3).getOrElse(0.0)
    val slowest = gs.flatMap(g => g.stageWall.map { case (id, w) =>
      val ds = g.stageTaskMs.getOrElse(id, Nil)
      Stage(w / 1e3, ds.size, ds.sum / 1e3, ds.maxOption.getOrElse(0L) / 1e3,
        g.stageName.getOrElse(id, "").takeWhile(_ != '\n').take(80))
    }).sortBy(-_.wallS).take(5)
    val layers = Layers(r3((t1 - t0) / 1e9), r3(planS), r3((t2 - t1) / 1e9 - planS),
      gs.head.jobs, total(_.jobs), total(_.stages), total(_.tasks),
      r3(total(_.taskMs) / 1e3), r3(total(_.gcMs) / 1e3), total(_.shuffleReadBytes),
      total(_.shuffleWriteBytes), total(_.spillBytes), compiles,
      write.map(qe => Recorder.digest(qe.executedPlan)), slowest)
    Run((t2 - t0) / 1e9, ok, layers,
      write.map(qe => Recorder.finalPlanString(qe.executedPlan)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = GraftSession.envCores(32)
    val spark = GraftSession(cores)
    val only = sys.env.get("ONLY")
    val qs = selectQueries(only)

    val sfName = new File(sfDir).getName
    // numeric scale factor parsed from the dir name ("sf0.1" → 0.1); used
    // to size the oracle-leg budgets (ADVICE r13: fixed 700 s/30 s budgets
    // starve larger SFs) — budgets scale linearly above the sf0.1 sizing.
    val sfValue: Double = scala.util.Try(
      sfName.stripPrefix("sf").toDouble).getOrElse(0.1)
    val sfBudgetScale: Double = math.max(1.0, sfValue / 0.1)

    val here = new File(".").getAbsoluteFile.getParentFile
    val histDir = new File("tools/bench_history")
    val detailDir = new File("target")
    // The current round, for the committed-history tag and vs_prev's
    // own-round guard: SPARK_GRAFT_ROUND when set, else INFERRED as
    // (newest BENCH_rN.json on disk) + 1 — the newest BENCH record is the
    // last COMPLETED round, so any run here belongs to the round after it.
    // The inference exists because the driver's official runs do NOT set
    // SPARK_GRAFT_ROUND (VERDICT r14 next #2: r14's official run left no
    // round-tagged history file, so the next round's per-query PERF diff
    // had no prev side); with it, every official run lands
    // tools/bench_history/r<N>_<sf>[_c<cores>].json unconditionally.
    val roundNum: Option[Int] = sys.env.get("SPARK_GRAFT_ROUND")
      .flatMap(r => scala.util.Try(
        r.replaceAll("[^0-9]", "").toInt).toOption)
      .orElse {
        numbered(here, benchRecord).map(_._1).maxOption.map(_ + 1)
      }
    // The detail tag is computed ONCE per run (ADVICE r13: computing it per
    // emission under an unset SPARK_GRAFT_ROUND minted a new epoch tag per
    // emit, accumulating stale interim files whose paths earlier stdout
    // records pointed at). One tag per run → every emission of the run
    // overwrites the same detail file; newest wins, as documented.
    // digits-only normalization: "11" and "r11" both tag r11, keeping the
    // tag comparable with vs_prev's own-round guard. The tag stays
    // EPOCH-based for runs without an explicit SPARK_GRAFT_ROUND so that
    // repeated ad-hoc runs keep accumulating distinct load-gate references
    // (an inferred-round tag here would make every dev run overwrite one
    // detail file and self-exclude it from the gate).
    val detailTag: String = sys.env.get("SPARK_GRAFT_ROUND")
      .map(r => "r" + r.replaceAll("[^0-9]", ""))
      .getOrElse((System.currentTimeMillis() / 1000L).toString)
    val detailPath = new File(detailDir, s"bench_detail_$detailTag.json")
    val historyPath =
      historyFile(histDir, roundNum, only.isDefined, sfName, cores)
    // final plans land beside the history file, under its name, or beside
    // the detail file when the run writes no history
    val plansDir = historyPath
      .map(f => new File(f.getParentFile, f.getName.stripSuffix(".json")))
      .getOrElse(new File(detailDir, s"bench_detail_$detailTag"))

    // An attempt whose min-ratio against the load references exceeds 1.2
    // is load-inflated and re-runs under the same backoff ladder as a
    // dirty canary; the published record carries the ratio and the
    // winning baseline either way ("vs_history").
    val historyRefs = loadRefs(detailDir, histDir, detailTag, sfName, cores)
    // minimum sum-ratio of an attempt's official times against any single
    // prior record sharing ≥25 queries (a thin overlap — first bench of a
    // new SF, or a heavily-changed board — can't carry a gate); returns
    // the winning record's name alongside the ratio
    def historyInflation(results: Seq[(String, Double)])
        : Option[(String, Double, Int)] = {
      val rs = results.toMap
      historyRefs.flatMap { case (name, ref) =>
        val common = ref.keySet.intersect(rs.keySet).toSeq
        if (common.size < 25) None
        else Some((name,
          common.map(rs).sum / math.max(common.map(ref).sum, 1e-9),
          common.size))
      }.minByOption(_._2)
    }

    // Canary: one fixed query timed at start / between passes / end.
    // Identical work each time, so divergent canary timings expose a
    // contaminated run directly in the artifact. Deliberately HEAVY
    // enough (~1-2 s: a high-cardinality shuffle, not a 3-group count) to
    // measure sustained machine load rather than scheduler jitter — the
    // r12 validation runs showed a ~0.25 s canary flipping the 1.2 ratio
    // gate on ±60 ms of noise while the actual pass times were healthy.
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_partkey")
        .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Untimed warm-up: JIT + codegen compilation otherwise lands on the
    // timed queries (the driver's r02 run showed 10-14 s first-query noise
    // on ~1 s queries). Running the WHOLE bench set once against the
    // smallest sibling scale factor compiles the same generated code and
    // warms the same JIT paths at negligible data cost. The canary itself
    // runs once untimed too: cold, it read 3-4x its later runs (0.85-0.89 s
    // against 0.18-0.31 s at sf0.001, where no sibling warms anything), so
    // attempt 1 was judged dirty and every such run paid a second attempt.
    val warmDir = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
    if (warmDir != sfDir && new File(warmDir).isDirectory) {
      qs.foreach { q =>
        try q.fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        // NonFatal only: an OOM/VM error here leaves the session broken and
        // must propagate, not resurface as confusing timed-pass failures
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    canary()

    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    // One full measurement attempt = canary + pass + canary + reverse pass
    // + canary. If the canary ratio exposes a loaded machine (> 1.2), the
    // whole attempt re-runs ONCE and the better-canary attempt becomes the
    // official record — the r8 official number was the worst of five
    // materially-identical runs (canary 1.26 vs 1.04 on the clean ones)
    // purely on machine-load timing, and a single retry makes the
    // driver's record stop being a coin-flip on that. Both attempts stay
    // in the detail file for forensics.
    case class Attempt(canaries: Seq[Double],
        pass1: Seq[(String, Run)], pass2: Seq[(String, Run)]) {
      val ratio: Double = canaries.max / math.max(canaries.min, 1e-9)
      // absolute canary spread: a ratio on a short canary flips on pure
      // scheduler jitter; genuine load moves the canary by large
      // fractions of a second. "Dirty" needs BOTH signals.
      val spread: Double = canaries.max - canaries.min
      def dirty: Boolean = ratio > 1.2 && spread > 0.3
      // failed-in-this-attempt = NO clean pass here: a query clean in one
      // pass has a valid min-of-available measurement in `results`, and
      // must NOT be routed through the cross-attempt borrow path (that
      // would republish the min-across-attempts sampling bias for it)
      val failed: Set[String] = {
        val p2 = pass2.toMap
        pass1.collect { case (n, r1) if !r1.ok && !p2(n).ok => n }.toSet
      }
      // min over SUCCESSFUL passes only: a fast failure is not a
      // measurement and must not undercut the clean pass's time; a query
      // with no clean pass is in `failed` and excluded from the ratio
      val results: Seq[(String, Double)] = {
        val p2 = pass2.toMap
        pass1.map { case (n, r1) =>
          val r2 = p2(n)
          n -> ((r1.ok, r2.ok) match {
            case (true, false) => r1.sec
            case (false, true) => r2.sec
            case _ => math.min(r1.sec, r2.sec)
          })
        }
      }
      def passTimes(p: Seq[(String, Run)]): Seq[(String, Double)] =
        p.map { case (n, r) => n -> r.sec }
    }
    // Two timed passes, min per query: a transient noisy-neighbor spike in
    // one pass (the official r02 run showed 10-14 s outliers on ~1 s
    // queries) doesn't misreport the engine's speed. The second pass runs in
    // REVERSE query order: a sustained machine-load window then inflates
    // DIFFERENT queries in each pass, so min-per-query rejects it — same-order
    // passes let one load window contaminate the same queries twice
    // (VERDICT r4 §wrong.1: positions 2-12 inflated 2.2-2.9x in both passes).
    def runAttempt(): Attempt = {
      // failures are PER attempt (computed inside Attempt): a
      // load-induced failure in a discarded attempt must not exclude the
      // query from the official record or flip the exit code when the
      // kept attempt ran it clean
      val c0 = canary()
      val pass1 = qs.map(q => q.name -> timeOne(spark, recorder, q, sfDir))
      val c1 = canary()
      val pass2 = qs.reverse.map(q => q.name -> timeOne(spark, recorder, q, sfDir))
      val c2 = canary()
      Attempt(Seq(c0, c1, c2), pass1, pass2)
    }
    // The attempt the record is built from: failures first, then
    // cross-run load inflation (r13: a canary-clean but uniformly inflated
    // attempt must lose to a history-consistent one), then the canary ratio.
    def cleanest(attempts: Seq[Attempt]): Attempt =
      attempts.minBy(a => (a.failed.size,
        historyInflation(a.results).map(_._2).getOrElse(0.0), a.ratio))
    // load-inflated = canary-clean but uniformly slower than EVERY prior
    // same-SF record (the r13 failure shape)
    def inflated(results: Seq[(String, Double)]): Boolean =
      historyInflation(results).exists(_._2 > 1.2)

    // Cross-engine baseline: time every headliner's DuckDB oracle over the
    // SAME parquet tables (tools/oracle_bench.py, two passes, min — the
    // same noise rejection as the Spark side). Strictly best-effort: a
    // machine without python3/duckdb, or a hung oracle, must never fail or
    // stall the bench, so the subprocess is bounded and any error maps to
    // "no baseline". SQL travels base64-encoded TSV to avoid escaping.
    // Budget discipline (r12 rc=124 lesson): the leg runs AFTER a complete
    // record is already on stdout, the per-oracle watchdog defaults to 30 s
    // (the handful of deliberately-sequential definition oracles — ppjoin,
    // sssp, cc_labels, stress — get ">= cap" lower bounds here and their
    // REAL numbers from tools/oracle_uncapped.json), and the whole
    // subprocess gets 700 s, sized for ~130 oracles at ~300 s measured +
    // capped slack.
    def runOracleBaseline(): (Map[String, Double], Set[String]) =
      try {
        val tsv = File.createTempFile("graft_oracle_sql", ".tsv")
        val pw = new java.io.PrintWriter(tsv, "UTF-8")
        try qs.foreach { q =>
          q.oracle.foreach { sql =>
            pw.println(q.name + "\t" +
              java.util.Base64.getEncoder.encodeToString(sql.getBytes("UTF-8")))
          }
        } finally pw.close()
        val out = File.createTempFile("graft_oracle_times", ".tsv")
        val pb = new ProcessBuilder("python3", "tools/oracle_bench.py",
          sfDir, tsv.getPath, out.getPath)
        // SF-aware budgets (ADVICE r13 #5): the 30 s per-oracle cap and
        // 700 s leg total are sized for sf0.1; a larger SF's oracles need
        // proportionally more wall clock or most of them degrade to
        // ">= cap" lower bounds with no offline backfill
        if (!sys.env.contains("ORACLE_BENCH_CAP_SEC"))
          pb.environment().put("ORACLE_BENCH_CAP_SEC",
            math.ceil(30 * sfBudgetScale).toLong.toString)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val done = proc.waitFor(math.ceil(700 * sfBudgetScale).toLong,
          java.util.concurrent.TimeUnit.SECONDS)
        if (!done) proc.destroyForcibly()
        // the script streams results line-by-line, so even a timeout or a
        // mid-run failure leaves every completed measurement on disk —
        // partial cross-engine coverage beats none (oracle_n records how
        // many both engines timed)
        // "name\tseconds" per line; a third "capped" column marks queries
        // that hit oracle_bench.py's per-query watchdog — those times are
        // ">= cap" LOWER BOUNDS, not measurements, and must stay
        // distinguishable in the published ratio
        val src = scala.io.Source.fromFile(out, "UTF-8")
        val parsed =
          try src.getLines()
            .flatMap { l =>
              l.split("\t", 3) match {
                case Array(n, t) =>
                  scala.util.Try((n, t.toDouble, false)).toOption
                case Array(n, t, flag) =>
                  scala.util.Try((n, t.toDouble, flag == "capped")).toOption
                case _ => None
              }
            }.toSeq
          finally src.close()
        tsv.delete(); out.delete()
        (parsed.map { case (n, t, _) => n -> t }.toMap,
          parsed.collect { case (n, _, true) => n }.toSet)
      } catch { case scala.util.control.NonFatal(_) =>
        (Map.empty[String, Double], Set.empty[String]) }

    // One COMPLETE record computation + emission. Called after every
    // attempt (oracleOpt = None → baseline fields read "no baseline") and
    // once more after the oracle leg with isFinal = true; each println
    // supersedes the previous record in the driver's stdout tail. Returns
    // the failed-query set so main can set the exit code off the final
    // staging. The detail file is rewritten per emission (newest wins).
    def emit(attempts: Seq[Attempt],
        oracleOpt: Option[(Map[String, Double], Set[String])],
        isFinal: Boolean): Set[String] = {
      // Official record = the CLEANEST attempt's min-of-2, NOT a min across
      // attempts: the DuckDB oracle baseline is min-of-2 from one run, so
      // min-of-2×attempts Spark times would flatter spark_vs_oracle (and
      // vs_prev against min-of-2 history) for pure sampling reasons
      // whenever retries fire. The canary gate carries the
      // anti-contamination burden; attempts only decide WHICH min-of-2 is
      // published. The sole cross-attempt borrowing: a query the cleanest
      // attempt failed takes its time from an attempt that ran it clean
      // (marked in the detail file), and counts as failed only if NO
      // attempt ran it clean.
      //
      // EXCEPT when every attempt drifted past the gate (r9 1.43 / r10 4.21
      // / r11 1.46 all published per-query times up to 2.6× off on identical
      // code): then there is no clean min-of-2 to pick, and per-query
      // min-over-ALL-clean-passes is the better estimator — a sustained
      // load window inflates DIFFERENT queries in different attempts, so
      // the cross-attempt min rejects it per query where best-canary-attempt
      // cannot. The mild min-of-2k sampling bias vs the oracle's min-of-2 is
      // the lesser error and is fully disclosed: the record's "selection"
      // field pins which rule produced the published numbers.
      val best = cleanest(attempts)
      val selection =
        if (!best.dirty && !inflated(best.results)) "cleanest_attempt"
        else "best_of_clean_passes"
      def cleanRuns(n: String): Seq[Double] = attempts.flatMap(a =>
        (a.pass1 ++ a.pass2).collect { case (`n`, r) if r.ok => r.sec })
      val failed = qs.map(_.name).filter(cleanRuns(_).isEmpty).toSet
      val Seq(canaryStart, canaryMid, canaryEnd) = best.canaries
      val pass1 = best.passTimes(best.pass1)
      val pass2 = best.passTimes(best.pass2)
      val borrowed = scala.collection.mutable.ArrayBuffer.empty[String]
      val results: Seq[(String, Double)] =
        if (selection == "best_of_clean_passes")
          // contaminated-everywhere fallback: every query takes its min over
          // all clean passes of all attempts (a query no attempt ran clean
          // keeps the cleanest attempt's failure duration and is in `failed`)
          best.results.map { case (n, tBest) =>
            val runs = cleanRuns(n)
            n -> (if (runs.nonEmpty) runs.min else tBest)
          }
        else best.results.map { case (n, tBest) =>
          if (!best.failed.contains(n)) n -> tBest
          else {
            val runs = cleanRuns(n)
            if (runs.nonEmpty) { borrowed += n; n -> runs.min }
            else n -> tBest
          }
        }
      // the run each published time came from: its layers and plan are the
      // ones written, so every figure beside a time was measured with it
      val published: Seq[(String, Run)] = results.sortBy(_._1).flatMap { case (n, t) =>
        attempts.iterator.flatMap(a => a.pass1 ++ a.pass2)
          .collectFirst { case (`n`, r) if r.sec == t => n -> r }
      }
      val layers = ListMap(published.map { case (n, r) => n -> r.layers }: _*)
      def jmap(kvs: Seq[(String, Double)]): String =
        kvs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
          .mkString("{", ",", "}")
      val total = results.map(_._2).sum
      val (oracleTimes, oracleCapped) =
        oracleOpt.getOrElse((Map.empty[String, Double], Set.empty[String]))
      // spark-vs-oracle over the queries BOTH engines timed SUCCESSFULLY —
      // a Spark-side failure records a meaningless fast-failure time, which
      // must not flatter the ratio
      val common = results.filter { case (n, _) =>
        oracleTimes.contains(n) && !failed.contains(n) }
      val oracleTotal = common.map { case (n, _) => oracleTimes(n) }.sum
      val sparkCommon = common.map(_._2).sum
      // spark_vs_oracle INCLUDES capped lower-bound entries, so it is itself
      // only an upper bound on the true ratio; the _measured variant drops
      // the capped oracles entirely, so it cannot improve by capping more —
      // both are published (ADVICE r8 #4 / VERDICT r8 next #7)
      val sparkVsOracle =
        if (oracleTotal > 0) sparkCommon / oracleTotal else -1.0
      val measured = common.filterNot { case (n, _) => oracleCapped(n) }
      val oracleMeasuredTotal =
        measured.map { case (n, _) => oracleTimes(n) }.sum
      val sparkMeasured = measured.map(_._2).sum
      val sparkVsOracleMeasured =
        if (oracleMeasuredTotal > 0) sparkMeasured / oracleMeasuredTotal
        else -1.0
      val cappedShown = oracleCapped.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // Offline uncapped oracle timings (tools/oracle_uncapped.json): a
      // capped in-bench entry is a ">= cap" lower bound, useless as a
      // baseline; when a committed offline measurement exists for this SF,
      // publish it next to the capped list so the record carries the real
      // number (r10 task #5). Only entries for currently-capped queries are
      // surfaced — an uncapped live run supersedes the offline file.
      val offlineUncapped: Map[String, Double] =
        readJson(new File("tools/oracle_uncapped.json")).map { root =>
          val m = scala.collection.mutable.Map.empty[String, Double]
          root.path(sfName).propertyStream().forEach { e =>
            if (oracleCapped(e.getKey))
              m(e.getKey) = e.getValue.path("sec").asDouble()
          }
          m.toMap
        }.getOrElse(Map.empty)
      val offlineShown = offlineUncapped.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
      // "vs_history": the published results' sum-ratio vs the cross-run
      // load references — the signal the canary cannot see (a run that
      // starts and stays loaded). Contamination self-report: the three
      // canaries do IDENTICAL work, so a dirty best attempt (the retry
      // gate's own test) or a published map > 1.2 over history marks the
      // record contaminated (r13's official record was canary-clean and
      // 1.35× inflated vs the same-day detail).
      val inflationOpt = historyInflation(results)
      val contaminated = best.dirty || inflationOpt.exists(_._2 > 1.2)
      val vsHistory: String = inflationOpt match {
        case Some((refName, r, n)) =>
          f"""{"ref":"$refName","n":$n,"ratio":$r%.2f,"refs":${historyRefs.size}}"""
        case None => "null"
      }
      // vs_prev: regression check against the newest prior round's record
      // of this SF and core count, over the queries common to both. A
      // regression is a red field in the record, not archaeology.
      // Best-effort: no record → null. Epoch-tagged ad-hoc history files
      // never participate (they back the load gate instead).
      val vsPrev: String =
        prevRecord(here, histDir, roundNum, sfName, sfValue, cores) match {
          case Some((fname, prev)) =>
            val common = results.filter { case (n, _) =>
              prev.contains(n) && !failed.contains(n) }
            if (common.isEmpty) "null"
            else {
              val ratio = common.map(_._2).sum /
                common.map { case (n, _) => prev(n) }.sum
              val (wq, wt) = common.maxBy { case (n, t) => t / prev(n) }
              f"""{"file":"$fname","common_n":${common.size},"ratio":$ratio%.2f,"worst":{"q":"$wq","ratio":${wt / prev(wq)}%.2f}}"""
            }
          case None => "null"
        }
      // Per-pass forensics go to a FILE, not stdout: the driver keeps only a
      // ~2 KB stdout tail, which truncated the detail line in r5/r6 and left
      // beyond-canary swings unattributable (VERDICT r6 §missing.1). Stdout
      // carries only the short canonical record, which references the file.
      detailDir.mkdirs()
      // every attempt's passes + canaries are retained (attempt 1 first);
      // the official record above uses the best-canary attempt
      // p1_failed/p2_failed attribute every ok=false run to its pass: the
      // attempt-level "failed" list only names queries with NO clean pass,
      // so without these a single-pass failure's duration would sit in the
      // pass map indistinguishable from a clean measurement (ADVICE r11).
      val attemptsJson = attempts.zipWithIndex.map { case (a, i) =>
        def names(xs: Seq[String]): String =
          xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        def failedIn(p: Seq[(String, Run)]): Seq[String] =
          p.collect { case (n, r) if !r.ok => n }
        val af = names(a.failed.toSeq)
        f""""attempt${i + 1}":{"canaries":[${a.canaries.map(c => f"$c%.3f").mkString(",")}],"ratio":${a.ratio}%.2f,"failed":$af,"p1_failed":${names(failedIn(a.pass1))},"p2_failed":${names(failedIn(a.pass2))},"pass1":${jmap(a.passTimes(a.pass1))},"pass2":${jmap(a.passTimes(a.pass2))}}"""
      }.mkString(",")
      // "borrowed": queries whose official time came from a NON-best attempt
      // (the best attempt failed them) — the only numbers in `results` not
      // reproducible from this file's pass1/pass2 maps; their source runs
      // are in the attemptN blocks
      val borrowedShown = borrowed.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // "results" is the OFFICIAL per-query map (post selection/borrowing) —
      // the map the stdout record no longer carries; "layers" is measured
      // by the same runs
      val detail = f"""{"metric":"bench_detail","sf":"$sfDir","cores":$cores,"final":$isFinal,"selection":"$selection","canary":{"start":$canaryStart%.3f,"mid":$canaryMid%.3f,"end":$canaryEnd%.3f},"results":${jmap(results.sortBy(_._1))},"layers":${mapper.writeValueAsString(layers)},"pass1":${jmap(pass1)},"pass2":${jmap(pass2)},"borrowed":$borrowedShown,"oracle_sec":${jmap(oracleTimes.toSeq.sortBy(_._1))},"oracle_capped":$cappedShown,$attemptsJson}"""
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(detail) finally w.close()
      // Committed per-round history: the full official map and its layers,
      // keyed by round tag + SF (+ core count off 32). This is what future
      // rounds' vs_prev and load gate read now that the stdout record is
      // map-free; git-committing it is what makes the comparison survive
      // target/ cleanups. Rewritten per emission (same path — newest
      // wins). Written whenever the round is KNOWN — explicitly via
      // SPARK_GRAFT_ROUND or inferred from the newest BENCH_rN.json (the
      // official runs set no env, and r14's round-tagged map went
      // missing because of it). The final plans of the published runs land
      // beside it, one <query>.txt each.
      try {
        historyPath.foreach { f =>
          f.getParentFile.mkdirs()
          val hw = new java.io.PrintWriter(f, "UTF-8")
          try hw.println(f"""{"sf":"$sfName","tag":"r${roundNum.get}","cores":$cores,"final":$isFinal,"total":$total%.3f,"queries":${jmap(results.sortBy(_._1))},"layers":${mapper.writeValueAsString(layers.map { case (n, l) => n -> l.copy(slowestStages = Nil) })}}""")
          finally hw.close()
        }
        plansDir.mkdirs()
        for ((n, r) <- published; p <- r.plan)
          java.nio.file.Files.writeString(new File(plansDir, s"$n.txt").toPath, p)
      } catch { case scala.util.control.NonFatal(_) => () }
      // The stdout record is SCALAR-ONLY (plus the short capped list):
      // r12's record died to a driver timeout, r13's to the ~2 KB stdout
      // tail (the 45-slowest map alone overflowed it). Everything
      // per-query lives in the detail + history files this line points at.
      // oracle_* are the cross-engine baseline: total DuckDB seconds over
      // the oracle_n headliners both engines timed, spark seconds over that
      // same subset, and their ratio (<1 = Spark faster).
      println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","final":$isFinal,"n_queries":${results.size},"sf":"$sfName","failed":${failed.size},"canary_ratio":${best.ratio}%.2f,"contaminated":$contaminated,"vs_history":$vsHistory,"selection":"$selection","attempts":${attempts.size},"borrowed_n":${borrowed.size},"oracle_n":${common.size},"oracle_total":$oracleTotal%.3f,"spark_common":$sparkCommon%.3f,"spark_vs_oracle":$sparkVsOracle%.2f,"oracle_capped_n":${oracleCapped.size},"oracle_uncapped_offline_sec":$offlineShown,"spark_vs_oracle_measured":$sparkVsOracleMeasured%.2f,"vs_prev":$vsPrev,"detail":"${detailPath.getPath}"}""")
      failed
    }

    // The official record is GATED on a clean canary (<= 1.2): re-attempt
    // with growing backoff until one attempt is clean or the attempt budget
    // is spent. One retry proved too weak — r9 published at 1.43 and r10 at
    // 4.21 after both attempts hit the same sustained load window — and
    // 45/90 s backoffs proved too short (r11 published at 1.46 after 3
    // attempts inside one window): the windows observed in r9-r11 detail
    // files run minutes, so the backoff must too (2 / 5 / 10 min).
    // A load-inflated attempt re-runs under the same ladder.
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(4)
    val backoffSec = Seq(120L, 300L, 600L)
    val attemptBuf = scala.collection.mutable.ArrayBuffer(runAttempt())
    def retry: Boolean = {
      val c = cleanest(attemptBuf.toSeq)
      c.dirty || c.failed.nonEmpty || inflated(c.results)
    }
    // A COMPLETE record streams after every attempt (and again after the
    // oracle leg): r12's official number vanished entirely because the
    // driver's budget expired mid-backoff and the only println sat at the
    // very end (BENCH_r12.json rc=124, parsed null). The driver keeps a
    // stdout tail and parses the LAST record line, so each emission
    // supersedes the previous one and a timeout at ANY point still leaves
    // the newest complete record on record. "final" marks the fully-staged
    // emission (all attempts + oracle baseline).
    emit(attemptBuf.toSeq, None, isFinal = false)
    while (attemptBuf.size < maxAttempts && retry) {
      Thread.sleep(
        backoffSec(math.min(attemptBuf.size - 1, backoffSec.size - 1)) * 1000L)
      attemptBuf += runAttempt()
      emit(attemptBuf.toSeq, None, isFinal = false)
    }
    val attempts = attemptBuf.toSeq
    val oracle = runOracleBaseline()
    val failed = emit(attempts, Some(oracle), isFinal = true)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
