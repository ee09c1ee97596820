package graft

import graft.streaming.EventStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkSuite {

  /** Write `df` as ONE parquet part file named `name` inside `into` —
    * the staging step every file-source streaming fixture needs (the
    * source requires a directory it can watch, and the tests control
    * batch boundaries by dropping one file per drain).
    */
  private def stageParquet(df: org.apache.spark.sql.DataFrame,
      into: java.nio.file.Path, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("stage")
    df.coalesce(1).write.parquet(tmp.resolve("d").toString)
    val src = java.nio.file.Files.list(tmp.resolve("d"))
      .filter(f => f.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(src, into.resolve(name))
  }

  /** The batch gap rule the event-time sessionizer must reproduce: each
    * user's events in ts order, a new session wherever the gap to the
    * previous event exceeds [[graft.streaming.SessionStream.GapUs]].
    * Returns the `(user_id, start_us, n_events)` session set.
    */
  private def gapSplitSessions(events: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us")
    events.select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_s", when(col("us") - lag("us", 1).over(w) >
        graft.streaming.SessionStream.GapUs || lag("us", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("us").as("start_us"), count(lit(1)).as("n_events"))
      .select("user_id", "start_us", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  /** Drain [[graft.streaming.SessionStream.eventTimeSessions]] over `in`,
    * staging each file of `batches` before its own drain, and return
    * the closed sessions as `(user_id, start_us, n_events)`.
    */
  private def replaySessions(in: java.nio.file.Path, watermark: String, queryName: String,
      batches: Seq[() => Unit]): Set[(Long, Long, Long)] = {
    batches.head()
    val q = graft.streaming.SessionStream
      .eventTimeSessions(spark, in.toString, watermark)
      .writeStream.outputMode("append").format("memory").queryName(queryName).start()
    q.processAllAvailable()
    batches.tail.foreach { stage => stage(); q.processAllAvailable() }
    q.stop()
    spark.table(queryName).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("streaming hourly aggregate equals the batch window aggregate") {
    // the file stream source requires a directory — stage the single file
    val dir = java.nio.file.Files.createTempDirectory("stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streamed = EventStream.runToCompletion(spark, dir.toString, "st_test")
    val batch = ops.EventOps.qs.find(_.name == "st1_window_agg").get.fn(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming sliding-window aggregate equals the batch hopping windows") {
    val dir = java.nio.file.Files.createTempDirectory("stream_events_sl")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streamed = EventStream.runToCompletion(spark, dir.toString, "st1b_test",
      sliding = true)
    val batch = ops.EventOps.qs.find(_.name == "st1b_sliding_agg").get.fn(spark, sf)
    // 4 overlapping windows per event: the sliding row count must be ~4x
    // the tumbling grain's (distinct windows x types, not a per-event law)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming dedup audit equals batch dd1 on any replay split") {
    // split the corpus across two files to force multiple micro-batch
    // arrivals — the min-id/count contract must not depend on the split
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val streamDir = java.nio.file.Files.createTempDirectory("stream_docs_in")
    stageParquet(docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      streamDir, "0.parquet")
    stageParquet(docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
      streamDir, "1.parquet")
    val streamed = graft.streaming.DedupStream
      .runToCompletion(spark, streamDir.toString, "dedup_test")
    val batch = quality.TextOps.qs.find(_.name == "dd1_exact_dedup").get.fn(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stateless bloom gate: streaming verdicts equal batch dd12 on any replay split") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cut = docs.agg(org.apache.spark.sql.functions.expr("(max(doc_id) + 1) div 2"))
      .head().getLong(0)
    val prior = docs.filter(col("doc_id") < cut)
    val fresh = docs.filter(col("doc_id") >= cut)
    val streamDir = java.nio.file.Files.createTempDirectory("bloom_stream_in")
    stageParquet(fresh.filter(col("doc_id") % 2 === 0), streamDir, "0.parquet")
    stageParquet(fresh.filter(col("doc_id") % 2 === 1), streamDir, "1.parquet")
    val q = graft.streaming.DedupStream.bloomGate(spark, prior, streamDir.toString)
      .writeStream.outputMode("append").format("memory").queryName("bloom_gate_test")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bloom_gate_test")
    val batch = quality.DedupOps.bloomVerdicts(spark, prior, fresh)
      .select(col("doc_id"), col("bloom_hit").as("maybe_seen"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming funnel stages equal the batch ev3 funnel on a time-split replay") {
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables(spark, sf, "events")
    // split ON TIME so each user's events arrive in ts order across
    // micro-batches — the ordering contract under which streamed == batch
    val mid = ev.agg(org.apache.spark.sql.functions
      .expr("timestamp_micros(cast(avg(unix_micros(ts)) as long))")).head().getTimestamp(0)
    val streamDir = java.nio.file.Files.createTempDirectory("funnel_stream_in")
    stageParquet(ev.filter(col("ts") <= mid), streamDir, "0.parquet")
    stageParquet(ev.filter(col("ts") > mid), streamDir, "1.parquet")
    val staged = graft.streaming.FunnelStream
      .runToCompletion(spark, streamDir.toString, "funnel_test").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = SparkEntry.queries("ev3_funnel")(spark, sf).head()
    assert(staged.values.count(_ >= 1).toLong == batch.getLong(0))
    assert(staged.values.count(_ >= 2).toLong == batch.getLong(1))
    assert(staged.values.count(_ >= 3).toLong == batch.getLong(2))
  }

  test("watermark-buffered funnel equals batch ev3 when the halves arrive in REVERSED time order") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables(spark, sf, "events")
    val (minTs, maxTs, mid) = {
      val r = ev.agg(min("ts"), max("ts"),
        expr("timestamp_micros(cast(avg(unix_micros(ts)) as long))")).head()
      (r.getTimestamp(0), r.getTimestamp(1), r.getTimestamp(2))
    }
    val streamDir = java.nio.file.Files.createTempDirectory("funnel_wm_in")
    // the arrival order funnelStages CANNOT handle: the late half lands
    // first, the early half a whole micro-batch later
    stageParquet(ev.filter(col("ts") > mid), streamDir, "0.parquet")
    stageParquet(ev.filter(col("ts") <= mid), streamDir, "1.parquet")
    // sentinel far beyond every real event: advances the watermark past
    // the whole corpus so the buffers flush (bounded-test punctuation)
    val spanSec = (maxTs.getTime - minTs.getTime) / 1000 + 3600
    stageParquet(ev.limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("noop"))
      .withColumn("ts", lit(new java.sql.Timestamp(
        maxTs.getTime + 2L * spanSec * 1000))), streamDir, "2.parquet")
    val q = graft.streaming.FunnelStream
      .funnelStagesWatermarked(spark, streamDir.toString,
        delay = s"$spanSec seconds", maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_wm_test").start()
    q.processAllAvailable()
    q.stop()
    val staged = spark.table("funnel_wm_test")
      .filter(col("user_id") >= 0)
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = SparkEntry.queries("ev3_funnel")(spark, sf).head()
    assert(staged.values.count(_ >= 1).toLong == batch.getLong(0))
    assert(staged.values.count(_ >= 2).toLong == batch.getLong(1))
    assert(staged.values.count(_ >= 3).toLong == batch.getLong(2))
    // and the unbuffered variant on the same reversed arrival really
    // does need the buffer: with clicks/purchases arriving before their
    // views, it must undercount at least one downstream stage
    val qp = graft.streaming.FunnelStream
      .funnelStages(spark, streamDir.toString, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_wm_plain").start()
    qp.processAllAvailable()
    qp.stop()
    val plain = spark.table("funnel_wm_plain")
      .filter(col("user_id") >= 0)
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val plainCounts = (1 to 3).map(s => plain.values.count(_ >= s).toLong)
    info(s"plain=${plainCounts.mkString(",")} batch=${(0 to 2).map(batch.getLong).mkString(",")}")
    assert(plainCounts != (0 to 2).map(batch.getLong),
      "reversed arrival unexpectedly matched batch without the buffer — fixture too weak")
  }

  test("watermarked funnel buffer audit surfaces a hot key's pending pile-up") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables(spark, sf, "events")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val streamDir = java.nio.file.Files.createTempDirectory("funnel_audit_in")
    // one bot key: 500 events all at a future instant the watermark
    // cannot reach in batch 0 (delay 10000s >> their span), so every one
    // of them must sit in that key's pending buffer after the drain —
    // exactly the state a totals-only metric hides among normal keys
    val hotTs = new java.sql.Timestamp(maxTs.getTime + 3600L * 1000)
    stageParquet(ev.limit(500)
      .withColumn("user_id", lit(424242L))
      .withColumn("event_type", lit("view"))
      .withColumn("ts", lit(hotTs)), streamDir, "0.parquet")
    // sentinel far past hot + delay: flushes the buffer (bounded-test
    // punctuation, as the reversed-halves case above)
    stageParquet(ev.limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("noop"))
      .withColumn("ts", lit(new java.sql.Timestamp(
        hotTs.getTime + 3L * 10000L * 1000))), streamDir, "1.parquet")
    val (df, report) = graft.streaming.FunnelStream
      .runWatermarkedWithStateReport(spark, streamDir.toString,
        delay = "10000 seconds", "funnel_audit_test",
        maxFilesPerTrigger = Some(1))
    // the audit saw the hot key's buffer at its full depth...
    assert(report.peakPerKey >= 500L,
      s"peak pending per key ${report.peakPerKey} — audit missed the hot buffer")
    // ...and the buffered rows were still processed, not lost: the bot
    // user's 500 views advance it to stage 1 once the watermark passes
    val hot = df.filter(col("user_id") === 424242L).head()
    assert(hot.getInt(1) == 1)
  }

  test("streaming current-state view equals the batch SCD2 current slice on a replay split") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables(spark, sf, "events")
    val streamDir = java.nio.file.Files.createTempDirectory("curstate_stream_in")
    stageParquet(ev.filter(col("event_id") % 2 === 0), streamDir, "0.parquet")
    stageParquet(ev.filter(col("event_id") % 2 === 1), streamDir, "1.parquet")
    val streamed = graft.streaming.FunnelStream
      .currentStateToCompletion(spark, streamDir.toString, "curstate_test")
      .select("user_id", "value", "valid_from_us")
    val batch = SparkEntry.queries("w11_scd2_history")(spark, sf)
      .filter(col("is_current"))
      .select(col("user_id"), col("value"),
        unix_micros(col("valid_from").cast("timestamp")).as("valid_from_us"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming IVF centroid assignment equals the batch window-ranked form") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("stream_emb")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val streamed = graft.streaming.AssignStream
      .runToCompletion(spark, sf, dir.toString, "assign_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch twin: the window-ranked assignment exactly as knnIvf builds
    // it — over the LLOYD-REFINED centroids (the actual inverted file)
    val base = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        quality.SimilarityOps.l2norm(col("embedding")).as("nrm"))
    val cents = quality.SimilarityOps.ivfRefinedCentroids(spark, sf, 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("csim").desc, col("cent").asc)
    val batch = base.crossJoin(broadcast(cents))
      .withColumn("csim", quality.SimilarityOps.centSim(
        col("embedding"), col("nrm"), col("cemb"), col("cnrm")))
      .withColumn("crn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cent"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stateful flatMapGroupsWithState sessionization equals the batch window form") {
    val dir = java.nio.file.Files.createTempDirectory("stream_sessions")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val (df, report) = graft.streaming.SessionStream
      .runWithStateReport(spark, dir.toString, "sess_test")
    val streamed = df
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = ops.WindowOps.qs.find(_.name == "st2_sessionize").get.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    // state observability: the per-key peak is the hottest user's batch
    // event count, state rows = one per user (the fixed-size GroupState)
    val perUser = Tables(spark, sf, "events")
      .groupBy("user_id").count().collect().map(_.getLong(1))
    assert(report.peakPerKey == perUser.max,
      s"peakPerKey ${report.peakPerKey} != hottest user's ${perUser.max}")
    assert(report.stateRows == perUser.length.toLong)
    assert(report.stateMemoryBytes > 0L)
  }

  test("event-time sessionization closes sessions correctly under a time-REVERSED cross-batch replay") {
    // the processing-order sessionizer explicitly documents it needs
    // in-order cross-batch arrival; this is the out-of-order case it
    // can't handle: each user's LATER events arrive in the FIRST batch.
    // The event-time version must still produce exactly the batch
    // sessions, because membership is decided by watermark, not arrival.
    import org.apache.spark.sql.Row
    val NsM = 60L * 1000000000L
    val NsD = 24L * 3600L * 1000000000L
    val T0 = 1600000000L * 1000000000L
    def mkEvents(rows: Seq[(Long, Long, Long)]) = // (event_id, ts, user)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ts, u) =>
          Row(id, ts, u, "click", 0.0, "{}") }, 1),
        EventStream.eventSchema)
    // u1: T0, T0+10m | gap | T0+50m  → 2 sessions (sizes 2, 1)
    // u2: T0+5m, T0+20m               → 1 session (size 2)
    // u3: T0, T0+30m | T0+60m+1µs     → 2 sessions (sizes 2, 1): an event
    //     EXACTLY one gap after the last joins its session
    val early = Seq((1L, T0, 1L), (2L, T0 + 10 * NsM, 1L), (10L, T0 + 5 * NsM, 2L),
      (20L, T0, 3L))
    val late = Seq((3L, T0 + 50 * NsM, 1L), (11L, T0 + 20 * NsM, 2L),
      (21L, T0 + 30 * NsM, 3L), (22L, T0 + 60 * NsM + 1000L, 3L))
    val sentinel = Seq((99L, T0 + 10 * NsD, 99L)) // advances the watermark, closes all
    val in = java.nio.file.Files.createTempDirectory("evt_sess_in")
    def stage(rows: Seq[(Long, Long, Long)], name: String): () => Unit =
      () => stageParquet(mkEvents(rows), in, name)
    // REVERSED: the late events land in batch 1, the early ones in batch
    // 2, staged between drains (watermark 2h keeps the reversed arrivals
    // on-time; only the sentinel closes sessions)
    val streamed = replaySessions(in, "2 hours", "evt_sess_test", Seq(
      stage(late, "0.parquet"), stage(early, "1.parquet"), stage(sentinel, "2.parquet")))
      .filter(_._1 != 99L)
    // batch twin: gap-split sessions over the SAME events
    assert(streamed == gapSplitSessions(graft.EventTs.normalize(mkEvents(early ++ late))))
    assert(streamed == Set(
      (1L, T0 / 1000, 2L), (1L, (T0 + 50 * NsM) / 1000, 1L),
      (2L, (T0 + 5 * NsM) / 1000, 2L),
      (3L, T0 / 1000, 2L), (3L, (T0 + 60 * NsM) / 1000 + 1L, 1L)))
    // st2b, the batch session_window query, counts the same sessions:
    // u3's exact-gap event joins, which its oracle states as a strict >
    val batchDir = java.nio.file.Files.createTempDirectory("st2b_gap")
    mkEvents(early ++ late).write.parquet(batchDir.resolve("events.parquet").toString)
    val st2b = ops.WindowOps.qs.find(_.name == "st2b_session_window").get
      .fn(spark, batchDir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(st2b == Set((1L, 2L, 3L), (2L, 1L, 2L), (3L, 2L, 3L)))
  }

  test("stream-stream interval join equals the batch st3_interval_join twin") {
    // two files → the two sides' micro-batches interleave, exercising
    // both join-state buffers, not just a single-batch fast path
    val dir = java.nio.file.Files.createTempDirectory("stream_join")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    ev.filter(org.apache.spark.sql.functions.col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(dir.resolve("a").toString)
    ev.filter(org.apache.spark.sql.functions.col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(dir.resolve("b").toString)
    val in = java.nio.file.Files.createTempDirectory("stream_join_in")
    Seq("a", "b").zipWithIndex.foreach { case (p, i) =>
      val src = java.nio.file.Files.list(dir.resolve(p))
        .filter(f => f.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(src, in.resolve(s"$i.parquet"))
    }
    // watermark wider than the fixture's time span: the id-interleaved
    // one-file-per-trigger replay is maximally out-of-order, and nothing
    // may be late-dropped for streamed == batch to hold exactly
    val streamed = graft.streaming.JoinStream
      .runToCompletion(spark, in.toString, "join_test",
        watermark = "400 days", maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = ops.EventOps.qs.find(_.name == "st3_interval_join").get.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("tight watermark actually drops late rows: streamed = batch minus the planted late match") {
    // Every other streaming test deliberately uses a watermark wider than
    // the fixture span, so the watermark-past-drop mechanism — the thing
    // the finite-state claim rests on — never fires in them. This fixture
    // makes it fire deterministically: phase 1 advances the watermark ~47 h
    // past a purchase, phase 2 then delivers an error that WOULD match it
    // (batch says so) but arrives later than the watermark allows — the
    // stream must drop it, and must still emit phase 2's on-time pair.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val NsH = 3600L * 1000000000L
    val NsM = 60L * 1000000000L
    val T0 = 1600000000L * 1000000000L // ns epoch
    def mkEvents(rows: Seq[(Long, Long, Long, String)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ts, u, tpe) =>
          Row(id, ts, u, tpe, 0.0, "{}") }, 1),
        EventStream.eventSchema)
    val phase1 = Seq(
      (101L, T0, 1L, "purchase"),
      (201L, T0 + 10 * NsM, 1L, "error"),              // on-time match for 101
      (109L, T0 + 48 * NsH, 9L, "purchase"),           // advances the watermark
      (209L, T0 + 48 * NsH + 10 * NsM, 9L, "error"))   // on-time match for 109
    val phase2 = Seq(
      (202L, T0 + 30 * NsM, 1L, "error"),              // LATE: in-window for 101, behind watermark
      (103L, T0 + 47 * NsH + 30 * NsM, 3L, "purchase"),
      (203L, T0 + 47 * NsH + 40 * NsM, 3L, "error"))   // on-time match for 103
    val in = java.nio.file.Files.createTempDirectory("late_join_in")
    def stage(rows: Seq[(Long, Long, Long, String)], name: String): Unit = {
      stageParquet(mkEvents(rows), in, name)
    }
    stage(phase1, "0.parquet")
    val q = graft.streaming.JoinStream
      .purchaseErrorJoin(spark, in.toString, watermark = "1 hour").writeStream
      .outputMode("append").format("memory").queryName("late_join_test").start()
    q.processAllAvailable() // batch 1: watermark → ~T0+47h
    stage(phase2, "1.parquet")
    q.processAllAvailable() // batch 2: late error must be dropped
    q.stop()
    val streamed = spark.table("late_join_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch twin over the SAME combined data matches the late pair too
    val all = mkEvents(phase1 ++ phase2)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val p = all.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    val e = all.filter(col("event_type") === "error")
      .select(col("event_id").as("eid"), col("user_id").as("eu"), col("ts").as("ets"))
    val batch = p.join(e, col("pu") === col("eu") &&
        col("ets") >= col("pts") && col("ets") <= col("pts") + expr("INTERVAL 6 HOURS"))
      .select(col("pu"), col("pid"), col("eid")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((1L, 101L, 201L), (9L, 109L, 209L), (3L, 103L, 203L)))
    assert(batch == streamed + ((1L, 101L, 202L))) // the drop, pinned exactly
  }

  test("stream-stream LEFT OUTER interval join: pads emit once the watermark proves no match") {
    // streamed twin of the batch st3c: unmatched purchases must surface
    // as null-padded rows, but ONLY after the error-side watermark passes
    // p_ts + 6h (Spark can then prove no match can still arrive). A
    // bounded stream therefore needs a trailing watermark-advancing
    // event, or the pads stay buffered forever — the sentinel pair here.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val NsH = 3600L * 1000000000L
    val NsD = 24L * NsH
    val T0 = 1600000000L * 1000000000L
    def mkEvents(rows: Seq[(Long, Long, Long, String)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ts, u, tpe) =>
          Row(id, ts, u, tpe, 0.0, "{}") }, 1),
        EventStream.eventSchema)
    val main = Seq(
      (101L, T0, 1L, "purchase"), (201L, T0 + NsH, 1L, "error"), // match
      (102L, T0, 2L, "purchase"),                                 // no error → pad
      (203L, T0 + NsH, 3L, "error"))                              // right-only, dropped
    val sentinels = Seq(                                          // advance both watermarks
      (109L, T0 + 90 * NsD, 9L, "purchase"),
      (209L, T0 + 90 * NsD + NsH, 9L, "error"))
    val in = java.nio.file.Files.createTempDirectory("outer_join_in")
    def stage(rows: Seq[(Long, Long, Long, String)], name: String): Unit = {
      stageParquet(mkEvents(rows), in, name)
    }
    stage(main, "0.parquet")
    val q = graft.streaming.JoinStream
      .purchaseErrorJoin(spark, in.toString, watermark = "1 hour",
        joinType = "left_outer").writeStream
      .outputMode("append").format("memory").queryName("outer_join_test").start()
    q.processAllAvailable()
    stage(sentinels, "1.parquet")
    q.processAllAvailable() // watermark advance flushes the u2 pad
    q.stop()
    val streamed = spark.table("outer_join_test").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // batch twin over the same combined input
    val all = mkEvents(main ++ sentinels)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val p = all.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    val e = all.filter(col("event_type") === "error")
      .select(col("event_id").as("eid"), col("user_id").as("eu"), col("ts").as("ets"))
    val batch = p.join(e, col("pu") === col("eu") &&
        col("ets") >= col("pts") && col("ets") <= col("pts") + expr("INTERVAL 6 HOURS"),
        "left_outer")
      .select(col("pu"), col("pid"), coalesce(col("eid"), lit(-1L))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((1L, 101L, 201L), (2L, 102L, -1L), (9L, 109L, 209L)))
    assert(streamed == batch) // streamed left outer == batch left outer
  }

  test("stream-stream join state survives restart: buffered purchase matches post-restart error") {
    // the join buffers an unmatched purchase in state; after a full
    // stop/start from the checkpoint, an error arriving within the
    // original purchase's window must still match it — join state
    // recovery, not just sink exactly-once (which the dedup restart test
    // covers)
    import org.apache.spark.sql.Row
    val NsH = 3600L * 1000000000L
    val T0 = 1600000000L * 1000000000L
    def mkEvents(rows: Seq[(Long, Long, Long, String)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ts, u, tpe) =>
          Row(id, ts, u, tpe, 0.0, "{}") }, 1),
        EventStream.eventSchema)
    val in = java.nio.file.Files.createTempDirectory("join_restart_in")
    val out = java.nio.file.Files.createTempDirectory("join_restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("join_restart_ckpt").toString
    def stage(rows: Seq[(Long, Long, Long, String)], name: String): Unit = {
      stageParquet(mkEvents(rows), in, name)
    }
    // phase 1: a purchase with NO error yet — buffered into join state
    stage(Seq((101L, T0, 1L, "purchase")), "0.parquet")
    val q1 = graft.streaming.JoinStream.joinToFiles(spark, in.toString, out, ckpt,
      watermark = "1 hour")
    q1.processAllAvailable(); q1.stop()
    // phase 2 AFTER a full stop: the matching error arrives in-window
    stage(Seq((201L, T0 + NsH, 1L, "error")), "1.parquet")
    val q2 = graft.streaming.JoinStream.joinToFiles(spark, in.toString, out, ckpt,
      watermark = "1 hour")
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 101L, 201L)),
      s"recovered join state failed to match across restart: $got")
  }

  test("watermark-aged dedup: in-window duplicates suppressed, aged-out ones re-emit") {
    // the bounded-state trade of dropDuplicatesWithinWatermark, observed:
    // state for a content hash ages out once the watermark passes its
    // event time + delay, so memory is bounded by the lateness window
    // (not corpus size) at the cost of re-emitting a duplicate that
    // returns after the window.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val H = 3600L * 1000000L // µs
    val M = 60L * 1000000L
    val T0 = 1600000000L * 1000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    def mkDocs(rows: Seq[(Long, String, Long)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, text, us) =>
          Row(id, text, ts(us)) }, 1),
        graft.streaming.DedupStream.crawlSchema)
    val in = java.nio.file.Files.createTempDirectory("wm_dedup_in")
    def stage(rows: Seq[(Long, String, Long)], name: String): Unit = {
      stageParquet(mkDocs(rows), in, name)
    }
    stage(Seq((1L, "aaa", T0), (2L, "bbb", T0)), "0.parquet")
    val q = graft.streaming.DedupStream
      .dedupCrawlWithinWatermark(spark, in.toString, watermark = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_dedup_test").start()
    q.processAllAvailable()
    // recrawl of "aaa" 10 min later: WITHIN the window → suppressed;
    // "ccc" at T0+5h advances the watermark to T0+4h, aging out both
    // T0 hashes (T0 + 1h < T0+4h)
    stage(Seq((3L, "aaa", T0 + 10 * M), (4L, "ccc", T0 + 5 * H)), "1.parquet")
    q.processAllAvailable()
    // recrawl of "aaa" at T0+4h30m: on-time (> watermark T0+4h) but the
    // original's state is gone → re-emits
    stage(Seq((5L, "aaa", T0 + 4 * H + 30 * M)), "2.parquet")
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("wm_dedup_test").collect().map(_.getLong(1)).toSet
    assert(emitted == Set(1L, 2L, 4L, 5L),
      s"expected dup doc 3 suppressed and aged-out doc 5 re-emitted, got $emitted")
  }

  test("Trigger.AvailableNow catch-up: bounded batches, terminates, equals continuous replay") {
    import org.apache.spark.sql.functions._
    // a 3-file CHRONOLOGICAL backlog (10-day slices of the events month —
    // interleaved slices would make every batch after the first "late"
    // and the comparison would measure watermark drops, not catch-up)
    val events = Tables(spark, sf, "events") // ts normalized to TimestampType
    val jan11 = timestamp_seconds(lit(1704931200L)) // 2024-01-11 00:00 UTC
    val jan21 = timestamp_seconds(lit(1705795200L))
    val backlog = java.nio.file.Files.createTempDirectory("backlog")
    stageParquet(events.filter(col("ts") < jan11), backlog, "0.parquet")
    stageParquet(events.filter(col("ts") >= jan11 && col("ts") < jan21), backlog, "1.parquet")
    stageParquet(events.filter(col("ts") >= jan21), backlog, "2.parquet")
    // catch-up run: AvailableNow + maxFilesPerTrigger=1 must drain the
    // backlog in >= 3 bounded batches and then terminate ON ITS OWN
    val (caught, nBatches) = EventStream.catchUpAvailableNow(
      spark, backlog.toString, "catchup_test", maxFilesPerTrigger = 1)
    assert(nBatches >= 3, s"backlog not split into bounded batches: $nBatches")
    // continuous-replay comparator: same files, same append-mode sink,
    // unbounded trigger via processAllAvailable
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_replay").toString
    val q = EventStream.hourlyAgg(spark, backlog.toString).writeStream
      .outputMode("append").format("memory").queryName("replay_test")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val replayed = spark.table("replay_test")
    assert(caught.count() > 0, "append-mode catch-up emitted nothing")
    assert(caught.exceptAll(replayed).count() == 0 &&
      replayed.exceptAll(caught).count() == 0,
      "catch-up result differs from continuous replay")
  }

  test("restart from checkpoint is exactly-once: replayed rows suppressed across stop/start") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("restart_in")
    val out = java.nio.file.Files.createTempDirectory("restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // phase 1: first half of the corpus
    stageParquet(docs.filter(col("doc_id") < 250), in, "0.parquet")
    val q1 = graft.streaming.DedupStream.dedupToFiles(spark, in.toString, out, ckpt)
    q1.processAllAvailable(); q1.stop()
    // phase 2 AFTER a full stop: second half PLUS a replay of 10
    // already-emitted docs — the restarted query must suppress them from
    // recovered state, not re-deduplicate from scratch
    stageParquet(docs.filter(col("doc_id") >= 250)
      .unionAll(docs.filter(col("doc_id") < 10)), in, "1.parquet")
    val q2 = graft.streaming.DedupStream.dedupToFiles(spark, in.toString, out, ckpt)
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out).collect().map(_.getString(0)).toSeq
    val want = docs.select(md5(col("text")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(got.size == want.size, s"expected exactly ${want.size} rows, got ${got.size}")
    assert(got.toSet == want)
  }

  test("event-time sessionization of the events table under a REVERSED-halves replay equals the batch sessions") {
    // the real table, its later half (by ts) staged first, its earlier
    // half a drain later, then a sentinel far past every event that
    // advances the watermark and closes every session
    import org.apache.spark.sql.functions._
    val ev = graft.Tables(spark, sf, "events")
    val (minTs, maxTs, mid) = {
      val r = ev.agg(min("ts"), max("ts"),
        expr("timestamp_micros(cast(avg(unix_micros(ts)) as long))")).head()
      (r.getTimestamp(0), r.getTimestamp(1), r.getTimestamp(2))
    }
    // a delay longer than the table's span keeps the early half on time
    val spanSec = (maxTs.getTime - minTs.getTime) / 1000 + 3600
    val in = java.nio.file.Files.createTempDirectory("evt_sess_sf_in")
    val streamed = replaySessions(in, s"$spanSec seconds", "evt_sess_sf_test", Seq(
      () => stageParquet(ev.filter(col("ts") > mid), in, "0.parquet"),
      () => stageParquet(ev.filter(col("ts") <= mid), in, "1.parquet"),
      () => stageParquet(ev.limit(1).withColumn("user_id", lit(-1L))
        .withColumn("ts", lit(new java.sql.Timestamp(maxTs.getTime + 2L * spanSec * 1000))),
        in, "2.parquet")))
      .filter(_._1 >= 0)
    assert(streamed.nonEmpty)
    assert(streamed == gapSplitSessions(ev))
    // per user: as many sessions and events as the batch st2_sessionize
    val perUser = streamed.groupBy(_._1).map { case (u, ss) =>
      u -> (ss.size.toLong, ss.toSeq.map(_._3).sum) }
    val batch = ops.WindowOps.qs.find(_.name == "st2_sessionize").get.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(perUser == batch)
  }

  test("RocksDB state store: the production state backend produces the identical aggregate") {
    // at 100 TB of keyed state the default in-memory/HDFS-backed store
    // OOMs the executors; RocksDB spills state off-heap to local disk and
    // is the backend a production deployment configures. The engine's
    // streaming ops must run on it UNMODIFIED — same watermark semantics,
    // same results. (The jar ships with Spark; this pins the integration.)
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("rocksdb_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val default = EventStream.runToCompletion(spark, dir.toString, "rocks_base")
      .collect().map(_.toString).sorted
    // snapshot/restore rather than unset: a pre-set providerClass on the
    // shared session must survive this test (the one place a spec or the
    // library sets the provider)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = EventStream.runToCompletion(spark, dir.toString, "rocks_test")
        .collect().map(_.toString).sorted
      assert(rocks.nonEmpty && rocks.sameElements(default),
        "RocksDB-backed aggregate differs from the default state store")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
