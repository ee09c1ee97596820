package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming funnel / CEP pattern match — the live twin of the batch
  * ev3 funnel ([[graft.ops.AnalyticsOps]]): track each user's progress
  * through view → click → purchase, each stage completed only by an
  * event STRICTLY AFTER the earliest completion of the previous stage.
  * This is the simplest complex-event-processing shape (ordered pattern
  * over an unbounded keyed stream), expressed as a three-timestamp
  * `GroupState` machine per user — state is THREE longs per user
  * forever, regardless of stream length, and monotone (stages only
  * advance), so Update-mode emissions are always safe to overwrite by
  * key downstream.
  *
  * ORDERING CONTRACT (the [[SessionStream]] precedent): rows sort by
  * (ts, event_id) WITHIN a micro-batch, so [[funnelStages]] equals the
  * batch funnel exactly when each user's events arrive in ts order
  * ACROSS batches (staged logs split on time boundaries — the spec
  * case). That cross-batch precondition is unenforced in
  * [[funnelStages]] itself — a source that violates it silently
  * diverges from the batch ev3 funnel — so sources that CAN reorder
  * across batches use [[funnelStagesWatermarked]] instead: a watermark
  * buffer holds rows until event time catches up and releases them in
  * ts order, restoring batch parity for any reordering within the
  * delay (and dropping, rather than misordering, anything later).
  * Processing in ts order is what makes the greedy
  * first-qualifying-event transition coincide with the batch query's
  * chained minimum.
  */
object FunnelStream {

  case class FEv(user_id: Long, event_type: String, us: Long, event_id: Long)
  case class FState(tv: Long, tc: Long, tp: Long)
  case class UserStage(user_id: Long, stage: Int)

  private val Unset = Long.MinValue

  /** One stage-machine step — shared by the in-order and the
    * watermark-buffered variants so the transition semantics cannot
    * drift between them.
    */
  private def step(st: FState, e: FEv): FState = e.event_type match {
    case "view" if st.tv == Unset => st.copy(tv = e.us)
    case "click" if st.tv != Unset && st.tc == Unset && e.us > st.tv =>
      st.copy(tc = e.us)
    case "purchase" if st.tc != Unset && st.tp == Unset && e.us > st.tc =>
      st.copy(tp = e.us)
    case _ => st
  }

  private def stageOf(st: FState): Int =
    if (st.tp != Unset) 3 else if (st.tc != Unset) 2
    else if (st.tv != Unset) 1 else 0

  def advance(key: Long, rows: Iterator[FEv],
      state: GroupState[FState]): Iterator[UserStage] = {
    val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
    var st = state.getOption.getOrElse(FState(Unset, Unset, Unset))
    sorted.foreach(e => st = step(st, e))
    state.update(st)
    Iterator.single(UserStage(key, stageOf(st)))
  }

  /** Per-user live funnel stage over a staged events directory. */
  def funnelStages(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    EventStream.eventStream(spark, dir, maxFilesPerTrigger)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[FEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(advance)
      .toDF()
  }

  /** Watermark-buffered per-user state: the stage machine plus the
    * rows still younger than the watermark, held until event time
    * catches up.
    */
  case class BufState(tv: Long, tc: Long, tp: Long, pending: Seq[FEv])

  /** [[FEv]] plus the raw `ts` column: the event-time-timeout checker
    * requires the WATERMARKED attribute itself to reach the state
    * operator's input, so the buffered variant carries it alongside
    * the µs long it actually computes with.
    */
  case class FEvT(user_id: Long, event_type: String, us: Long,
      event_id: Long, ts: java.sql.Timestamp)

  /** The out-of-order-source variant whose absence [[funnelStages]]'s
    * ordering contract documents: rows are HELD in per-user state until
    * the event-time watermark passes them, then released through the
    * shared [[step]] machine in (ts, event_id) order. Cross-batch
    * reordering WITHIN the watermark delay therefore cannot diverge
    * from the batch ev3 funnel — processing order IS event-time order,
    * so "first after" and "min after" coincide again; rows arriving
    * later than the delay are dropped (the standard watermark trade,
    * now explicit instead of silent divergence). State per user = three
    * longs + the pending buffer, bounded by that user's arrivals inside
    * one delay window — the buffer a correct CEP engine cannot avoid.
    * An EventTimeTimeout set to the oldest pending row re-fires the
    * group when the watermark passes it, so buffers drain even when no
    * new rows arrive for that user (StreamingSpec replays the corpus
    * with its halves in REVERSED time order and pins equality with the
    * batch funnel).
    *
    * The optional per-key peak-pending accumulator is the dd2/dd9
    * no-silent-caps posture applied to this operator's one
    * unbounded-looking structure: the watermark buffer is
    * bounded by a key's arrivals inside ONE delay window in a healthy
    * stream, but a bot user (or a stalled watermark) grows it without
    * limit, and total state rows would hide that one key. The
    * accumulator records max pending-buffer size per key per batch
    * AFTER release — the number a skew alert should page on
    * (StreamingSpec plants a hot key and pins the audit seeing it).
    */
  def advanceBufferedMetered(peak: Option[StateMetrics.MaxAccumulator])(
      key: Long, rows: Iterator[FEvT],
      state: GroupState[BufState]): Iterator[UserStage] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val st0 = state.getOption.getOrElse(BufState(Unset, Unset, Unset, Nil))
    // rows STRICTLY older than the watermark at ARRIVAL are late by the
    // standard watermark contract (late = event time < watermark; rows
    // AT the watermark are kept) — dropped, never reordered into the
    // past. The >= matters at the boundary: an event with us == wmUs is
    // admitted here and released by the partition below in this same
    // batch, so boundary rows are always processed — not processed-or-
    // dropped depending on which batch happened to carry them.
    val incoming = rows.filter(_.us >= wmUs)
      .map(e => FEv(e.user_id, e.event_type, e.us, e.event_id))
    val (ready, hold) = (st0.pending ++ incoming)
      .sortBy(e => (e.us, e.event_id)).partition(_.us <= wmUs)
    var st = FState(st0.tv, st0.tc, st0.tp)
    ready.foreach(e => st = step(st, e))
    peak.foreach(_.add(hold.length.toLong))
    state.update(BufState(st.tv, st.tc, st.tp, hold))
    if (hold.nonEmpty) state.setTimeoutTimestamp(hold.head.us / 1000L + 1L)
    Iterator.single(UserStage(key, stageOf(st)))
  }

  /** [[funnelStages]] with the watermark buffer in front of the stage
    * machine — use for sources that deliver a user's events out of ts
    * order across micro-batches; `delay` bounds the reordering the
    * buffer absorbs.
    */
  def funnelStagesWatermarked(spark: SparkSession, dir: String,
      delay: String, maxFilesPerTrigger: Option[Int] = None,
      peak: Option[StateMetrics.MaxAccumulator] = None): DataFrame = {
    import spark.implicits._
    EventStream.eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", delay)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("ts"))
      .as[FEvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(advanceBufferedMetered(peak))
      .toDF()
  }

  /** [[funnelStagesWatermarked]] run to completion plus the buffer
    * observability a production deployment monitors — the
    * [[SessionStream.runWithStateReport]] shape: per-key peak PENDING
    * rows (one hot key's watermark buffer, invisible in totals) plus the
    * state-store row/byte totals.
    */
  def runWatermarkedWithStateReport(spark: SparkSession, dir: String,
      delay: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): (DataFrame, StreamStateReport) = {
    val peak = new StateMetrics.MaxAccumulator
    spark.sparkContext.register(peak, s"$queryName.peakPendingPerKey")
    val q = funnelStagesWatermarked(spark, dir, delay, maxFilesPerTrigger,
        Some(peak))
      .writeStream.outputMode("update").format("memory")
      .queryName(queryName).start()
    q.processAllAvailable()
    val (stateRows, stateMem) = StateMetrics.stateStoreTotals(q)
    q.stop()
    val df = spark.table(queryName)
      .groupBy("user_id").agg(max("stage").as("stage"))
    (df, StreamStateReport(peak.value, stateRows, stateMem))
  }

  /** Streaming CURRENT-STATE view — the live twin of w11's SCD-2 `is_current`
    * slice ([[graft.ops.WindowOps]]): one row per user holding the value
    * of their latest event, maintained incrementally as files land. A
    * streaming `max_by` keyed on (ts, event_id) — state is one
    * (key, value, order) triple per user, and the winner is
    * arrival-order-independent because the ORDER is data (event time),
    * not processing time: any replay split converges to the same view
    * (StreamingSpec pins streamed == the batch w11 current rows). This
    * is the materialized-view-maintenance shape: the batch query
    * rebuilds history; the stream maintains its head.
    */
  def currentState(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    EventStream.eventStream(spark, dir, maxFilesPerTrigger)
      .select(col("user_id"), col("value"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .groupBy("user_id")
      .agg(
        max_by(col("value"), struct(col("us"), col("event_id"))).as("value"),
        max(col("us")).as("valid_from_us"))

  def currentStateToCompletion(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    val q = currentState(spark, dir).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Run to completion over bounded staged files; returns the FINAL
    * stage per user (the last Update emission wins — stages are
    * monotone, so that is also the max).
    */
  def runToCompletion(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = funnelStages(spark, dir).writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
      .groupBy("user_id").agg(max("stage").as("stage"))
  }
}
