package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization (SURVEY.md §2.11), the streaming twins of
  * the batch window queries st2_sessionize and st2b_session_window.
  *
  * [[sessionizeMetered]] is the processing-order form on
  * flatMapGroupsWithState: state per user is one (count, lastTs) pair,
  * bounded regardless of stream length, and it emits without waiting
  * for a watermark. ORDERING CONTRACT: rows are sorted by event id only
  * WITHIN each micro-batch, so the 30-min gap rule matches the batch
  * twin exactly when the source delivers each user's events in event-id
  * order across batches (one file, or files split on event-id
  * boundaries — the StreamingSpec case).
  *
  * A source that interleaves a user's events across out-of-order
  * micro-batches needs event-time state instead: [[eventTimeSessions]],
  * Spark's own `session_window` operator (spec-pinned equal to the
  * batch sessions under a deliberately time-reversed cross-batch
  * replay), at the cost of holding each open session until the
  * watermark passes it.
  */
object SessionStream {

  case class Ev(user_id: Long, event_id: Long, us: Long)
  case class SessionState(nSessions: Long, lastUs: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  val GapUs: Long = 1800L * 1000000L // 30 min, matches st2_sessionize

  /** The processing-order gap rule, with a per-key peak accumulator. The
    * `rows.toSeq` sort buffer is this operator's REAL memory bound — the
    * cross-batch GroupState is a fixed (count, lastTs) pair, but one hot
    * key's events within one micro-batch all materialize here, so that
    * count is the number a skew investigation needs (the streaming
    * mirror of IntervalJoinExec's peakBufferedRows SQLMetric).
    */
  def sessionizeMetered(peak: StateMetrics.MaxAccumulator)(
      key: Long,
      rows: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[UserSessions] = {
    // within a micro-batch rows are unordered; order by event id (the
    // reference's entry order) before applying the gap rule
    val sorted = rows.toSeq.sortBy(_.event_id)
    peak.add(sorted.length.toLong)
    var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
    var n = 0L
    sorted.foreach { e =>
      val newSession = st.nSessions == 0L || e.us - st.lastUs > GapUs
      st = SessionState(st.nSessions + (if (newSession) 1L else 0L), e.us)
      n += 1
    }
    state.update(st)
    Iterator.single(UserSessions(key, st.nSessions, n))
  }

  /** EVENT-TIME sessions over a staged events directory: a watermarked
    * `session_window` aggregate emitting one `(user_id, start_us,
    * n_events)` row per CLOSED session in append mode. A session closes
    * once the watermark passes its last event + [[GapUs]], after which
    * no arrival can join it, so the output does not depend on how
    * arrivals interleave across micro-batches. Sessions merge while the
    * next event is at most [[GapUs]] after the last one — the batch gap
    * rule. Returns the streaming frame: callers pick the sink and
    * checkpoint, and can stage files between drains. On bounded input
    * the last open sessions only flush if a later event advances the
    * watermark past them; test fixtures plant a sentinel.
    */
  def eventTimeSessions(spark: SparkSession, dir: String,
      watermark: String = "10 minutes"): DataFrame =
    EventStream.eventStream(spark, dir)
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$GapUs microseconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"))

  /** Run the processing-order sessionizer over a directory of events
    * parquet and return the final per-user session counts (memory sink,
    * bounded input) plus the state observability a production run
    * monitors: per-key peak batch buffering and state-store totals.
    */
  def runWithStateReport(spark: SparkSession, dir: String,
      queryName: String): (DataFrame, StreamStateReport) = {
    import spark.implicits._
    val peak = new StateMetrics.MaxAccumulator
    spark.sparkContext.register(peak, s"$queryName.peakEventsPerKeyBatch")
    val evs = EventStream.eventStream(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[Ev]
    val sessions = evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        sessionizeMetered(peak))
    val q = sessions.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    val (stateRows, stateMem) = StateMetrics.stateStoreTotals(q)
    q.stop()
    // update mode emits one row per (user, batch); keep the latest state
    val df = spark.table(queryName)
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), sum("n_events").as("n_events"))
    (df, StreamStateReport(peak.value, stateRows, stateMem))
  }
}
