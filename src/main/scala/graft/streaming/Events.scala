package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

import graft.analytics.Dashboard.exactAvg

/** Event-stream analytics over the `events` table: tumbling/sliding/session
  * windows, sessionization, JSON payload extraction. Batch forms are pure
  * DataFrame ops (oracle-comparable); streaming forms use Structured
  * Streaming with watermarks (tested via the in-memory sink).
  */
object Events {

  /** JSON payload field extraction: props is a JSON string like {"k": 87}. */
  def propsK(props: Column): Column =
    get_json_object(props, "$.k").cast("int")

  /** First-order event-transition matrix: per user, consecutive event
    * pairs (ordered by ts with event_id ties) counted into
    * (from_type, to_type, n) with the exact e6 row-conditional
    * probability — the Markov-chain view of user behavior product
    * analytics builds next-step prediction and anomaly baselines on.
    * One window shuffle on user_id, one pair aggregation; the per-from
    * totals frame is event-type-cardinality-sized and broadcast.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000L) DIV tot").as("prob_e6"))
  }

  /** Tumbling-window aggregation (batch form): per (hour, event_type)
    * counts and exact sums. One hash-agg shuffle. Money-ish outputs are
    * fixed-point (cents / e6) so the frame is bit-comparable across engines.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events.groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.util.Num.cents(col("value")).as("sum_value_c"),
        graft.util.Num.e6(exactAvg(col("value"))).as("avg_value_e6"))
      .orderBy(col("hour"), col("event_type"))

  /** Sessionization (batch form): a new session starts when a user's gap
    * since their previous event exceeds `gapMinutes`. Classic lag +
    * running-sum-of-boundaries; one shuffle on user_id, sort within
    * partitions only.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // microsecond gap arithmetic — unix_timestamp() would truncate to whole
    // seconds and misclassify sub-second boundary gaps
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session summary: bounds, event count, exact value sum. */
  def sessionSummary(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        graft.util.Num.cents(col("value")).as("sum_value_c"))
      .orderBy(col("user_id"), col("session_seq"))

  /** Ordered funnel analysis: how many users reach each stage IN ORDER —
    * stage i counts only when it happens strictly after the user's
    * earliest qualifying stage i−1 event (earliest-first semantics; a
    * click before any view does not convert). The product-analytics
    * staple sessionization feeds.
    *
    * Computation: one aggregation per stage over the user's events —
    * stage 1 is min(ts | type₁); stage i is min(ts | typeᵢ ∧ ts > tᵢ₋₁),
    * a conditional min after rejoining the per-user stage times. Every
    * join/agg keys on user_id, so the chain stays co-partitioned on one
    * key; per-stage counts and ppm conversions (integer div) come from a
    * final 1-row reduce exploded into per-stage rows.
    *
    * Returns (stage_idx, stage, n_users, conv_ppm) where conv_ppm is the
    * parts-per-million conversion from the PREVIOUS stage (10⁶ for the
    * first).
    *
    * @param windowSeconds when set, each stage must ALSO happen within
    *        this many seconds of the previous stage's event (the
    *        time-bounded funnel — "clicked within 30 min of the view");
    *        None keeps the unbounded ordered-funnel semantics.
    */
  def funnelReport(events: DataFrame, stages: Seq[String],
      windowSeconds: Option[Long] = None): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got $stages")
    val evs = events.select(col("user_id").as("user"),
      col("ts").as("__ts"), col("event_type").as("__type"))
    def within(prev: Column, ts: Column): Column = windowSeconds match {
      case Some(w) =>
        ts > prev && unix_micros(ts) - unix_micros(prev) <= w * 1000000L
      case None => ts > prev
    }
    var perUser = evs.groupBy("user")
      .agg(min(when(col("__type") === stages.head, col("__ts"))).as("t1"))
    stages.tail.zipWithIndex.foreach { case (stage, i) =>
      val prevCols = (1 to i + 1).map(j => min(col(s"t$j")).as(s"t$j"))
      perUser = evs.join(perUser, Seq("user"))
        .groupBy("user")
        .agg(prevCols.head,
          (prevCols.tail :+
            min(when(col("__type") === stage &&
              within(col(s"t${i + 1}"), col("__ts")),
              col("__ts"))).as(s"t${i + 2}")): _*)
    }
    val counts = perUser.agg(
      count(col("t1")).as("n1"),
      stages.indices.tail.map(i => count(col(s"t${i + 1}")).as(s"n${i + 1}")): _*)
    val stageRows = stages.zipWithIndex.map { case (name, i) =>
      val n = col(s"n${i + 1}")
      val ppm =
        if (i == 0) lit(1000000L)
        else when(col(s"n$i") === 0, lit(0L))
          .otherwise(expr(s"n${i + 1} * 1000000 DIV n$i"))
      struct(lit(i + 1).as("stage_idx"), lit(name).as("stage"),
        n.as("n_users"), ppm.as("conv_ppm"))
    }
    counts.select(explode(array(stageRows: _*)).as("__r"))
      .select(col("__r.*")).orderBy("stage_idx")
  }

  /** Sliding-window counts (batch form): each event lands in
    * windowLen/slide overlapping windows. Spark aligns window starts to the
    * epoch, which the oracle reproduces with integer epoch arithmetic.
    */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")

  /** Streaming tumbling-window count with watermark — the Structured
    * Streaming form of [[hourlyRollup]]. Late events beyond the watermark
    * are dropped; state is bounded by (watermark horizon × window count).
    */
  def streamingHourly(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Per-window top-k event types over the output of a watermarked
    * windowed count — the streaming "trending items" shape, computed by
    * the custom heap operator (graft.plans.TopK), not a ranking window.
    *
    * Compose inside a micro-batch body on an APPEND-mode stream (the
    * runner's output mode): append mode emits each window exactly once,
    * when the watermark closes it, so the per-micro-batch top-k IS the
    * exact per-window top-k — no cross-batch state beyond what the
    * windowed aggregation already keeps:
    *
    *   MicroBatch.start(streamingHourly(src), checkpoint, trigger) {
    *     (b, _) => sink(Events.topKPerWindow(b, 3)) }
    */
  def topKPerWindow(windowCounts: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perGroup(
      windowCounts.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n")),
      Seq("win_start"), col("n"), col("event_type"), k)

  /** BATCH face of the native session_window operator — the same
    * gap-merged windows [[streamingSessions]] maintains as state, planned
    * as one aggregation over historical data (no watermark, no state
    * store). Semantics (spec-pinned at the exact boundary): each event
    * extends the session to ts + gap and an event at EXACTLY prev + gap
    * still merges (inclusive bound) — a new session starts only when the
    * gap is strictly exceeded, the same `diff > gap` islands predicate as
    * [[sessionSummary]]; only the emitted end differs (last event + gap
    * vs last event).
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Streaming session windows via the native session_window: state per
    * (user, open session), closed by the watermark.
    */
  def streamingSessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Open-session state for [[streamingSessionizeCustom]] (micros). */
  final case class SessionState(start: Long, last: Long, n: Long, sumC: Long)

  /** Closed-session record emitted by [[streamingSessionizeCustom]]. */
  final case class ClosedSession(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long,
      sum_value_c: Long)

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * arbitrary-state form of [[streamingSessions]] for when session
    * semantics outgrow session_window (e.g. value-dependent gaps,
    * per-session caps). One state row per (user, open session); sessions
    * close either by an in-batch gap or by event-time timeout once the
    * watermark passes last_event + gap, so state is bounded by the number
    * of users active inside the watermark horizon.
    */
  def streamingSessionizeCustom(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L

    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    def close(uid: Long, s: SessionState): ClosedSession =
      ClosedSession(uid, toTs(s.start), toTs(s.last), s.n, s.sumC)
    def cents(v: Double): Long = math.rint(v * 100).toLong

    events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(uid, s))
          } else {
            val sorted = rows.map { case (_, ts, v) => (micros(ts), v) }
              .toIndexedSeq.sortBy(_._1)
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur = state.getOption
            // chain of late events older than the open session: kept as a
            // session of its own so late events within the gap of EACH
            // OTHER merge (batch-sessionize parity), instead of emitting
            // per-event singletons
            var pending: Option[SessionState] = None
            def closePending(): Unit = {
              pending.foreach(p => closed += close(uid, p))
              pending = None
            }
            sorted.foreach { case (t, v) =>
              cur match {
                case Some(s) if t >= s.start - gapMicros && t - s.last <= gapMicros =>
                  // in or adjacent to the open session (a late-but-within-
                  // watermark event may extend it BACKWARD) — min/max so
                  // bounds never regress
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1,
                    sumC = s.sumC + cents(v)))
                case Some(s) if t > s.last =>
                  // gap after the open session → close it, start fresh
                  closePending()
                  closed += close(uid, s)
                  cur = Some(SessionState(t, t, 1L, cents(v)))
                case Some(_) =>
                  // late event more than gap BEFORE the open session:
                  // extend or start the pending early chain
                  pending = pending match {
                    case Some(p) if t - p.last <= gapMicros =>
                      Some(p.copy(last = math.max(p.last, t), n = p.n + 1,
                        sumC = p.sumC + cents(v)))
                    case Some(p) =>
                      closed += close(uid, p)
                      Some(SessionState(t, t, 1L, cents(v)))
                    case None =>
                      Some(SessionState(t, t, 1L, cents(v)))
                  }
                case None =>
                  cur = Some(SessionState(t, t, 1L, cents(v)))
              }
            }
            // if the early chain grew to within the gap of the open
            // session, they are ONE session; otherwise the chain is closed
            (pending, cur) match {
              case (Some(p), Some(s)) if s.start - p.last <= gapMicros =>
                cur = Some(s.copy(start = math.min(p.start, s.start),
                  n = s.n + p.n, sumC = s.sumC + p.sumC))
                pending = None
              case _ => closePending()
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes last + gap
              state.setTimeoutTimestamp(s.last / 1000L + gapMinutes * 60000L)
            }
            closed.iterator
          }
      }
  }
}
