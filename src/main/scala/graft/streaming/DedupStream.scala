package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming dedup — the live twin of the batch exact-dedup audit (dd1 in
  * [[graft.quality.TextOps]]): as document files land, maintain one row
  * per distinct content hash with the surviving (minimum) doc id and the
  * copy count.
  *
  * Expressed as a streaming `groupBy(content_hash).agg(min, count)` —
  * NOT `dropDuplicates` — deliberately: which physical row survives a
  * within-batch `dropDuplicates` is plan-order-dependent, while the
  * min-id contract is deterministic and exactly equals the batch query on
  * any replay split of the same files (StreamingSpec asserts it). State
  * is one (hash, min, count) row per distinct document — the same
  * cardinality any dedup index carries. At 100 TB the same plan runs in
  * update mode with state-store TTL if the hash space must be aged out;
  * the shuffle stays keyed on the 32-byte hash either way.
  */
object DedupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def dedupAudit(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .parquet(dir)
      .select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy("text_md5")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Checkpointed dedup-to-files — the RESTART / exactly-once shape a
    * production ingest runs: emit each distinct content hash once
    * (`dropDuplicates` keyed on the hash; state lives in the checkpoint),
    * appending to a parquet directory whose sink transaction log keeps
    * output exactly-once under micro-batch retry. Stopping the query and
    * starting a new one on the same checkpoint RESUMES the state — rows
    * replayed or re-sent across the restart are suppressed, which
    * StreamingSpec pins by replaying a slice of already-seen documents
    * after a stop/start. (Bounded corpora need no watermark; an unbounded
    * deployment ages state with `dropDuplicatesWithinWatermark`.)
    */
  def dedupToFiles(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(docSchema)
      .parquet(inDir)
      .select(md5(col("text")).as("text_md5"))
      .dropDuplicates("text_md5")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Schema for the watermark-aged variant: a crawl stream where each
    * fetched document carries its crawl time.
    */
  val crawlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("crawl_ts", TimestampType)))

  /** Watermark-AGED streaming dedup — `dropDuplicatesWithinWatermark` on
    * the content hash, the unbounded-deployment path named in
    * [[dedupToFiles]]'s scaladoc: state per distinct hash lives only
    * until the watermark passes its event time + the allowed lateness,
    * so the hash space never has to fit in the state store forever. The
    * contract trade (spec-pinned): a duplicate recrawled WITHIN the
    * window is suppressed; one recrawled after its original's state aged
    * out emits again — the right semantics when duplicates cluster in
    * time (recrawls, retry storms) and exactly-once-forever would cost
    * unbounded state.
    */
  def dedupCrawlWithinWatermark(spark: SparkSession, dir: String,
      watermark: String = "1 hour"): DataFrame =
    spark.readStream
      .schema(crawlSchema)
      .parquet(dir)
      .select(md5(col("text")).as("text_md5"), col("doc_id"), col("crawl_ts"))
      .withWatermark("crawl_ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming twin of dd12 ([[graft.quality.DedupOps.bloomVerdicts]]):
    * gate a live document stream against the Bloom filter of a PRIOR
    * corpus. The packed word array is built ONCE, at stream SETUP — the
    * 128-word build plan executes here, eagerly, and the resulting
    * array rides into the streaming plan as a LITERAL column, so no
    * micro-batch ever re-runs the prior-corpus scan + groupBy + collapse
    * (a stream-static join of the unpersisted build plan would — the
    * static side re-evaluates per batch). The single-row collect is the
    * broadcast-build step, not a driver loop; the verdict itself is a
    * pure map-side forall — the gate is STATELESS, so it never grows
    * state-store footprint no matter how long the stream runs (contrast
    * [[dedupAudit]], whose state is one row per distinct hash). That is
    * the production split: the Bloom gate drops the "definitely new"
    * fast path to an append-only write, and only `maybe_seen` survivors
    * pay the stateful/exact machinery downstream. Per-row verdicts are
    * bit-identical to the batch dd12 on the same documents under ANY
    * file arrival order (StreamingSpec replays a split corpus to pin
    * it).
    */
  def bloomGate(spark: SparkSession, prior: DataFrame, streamDir: String,
      mBits: Int = 4096): DataFrame = {
    val wordsLocal: Seq[Long] = graft.quality.DedupOps.bloomWordsRow(spark, prior, mBits)
      .head().getAs[scala.collection.Seq[Long]]("words").toSeq
    spark.readStream
      .schema(docSchema)
      .parquet(streamDir)
      .select(col("doc_id"), expr("poly_hash31(text)").as("h"))
      .select(col("doc_id"), graft.quality.DedupOps.bloomPositions(mBits).as("ps"),
        typedLit(wordsLocal).as("words"))
      .select(col("doc_id"), graft.quality.DedupOps.bloomHitCol.as("maybe_seen"))
  }

  /** Run to completion over the (bounded) staged files; complete-mode
    * memory sink, final state as a batch DataFrame.
    */
  def runToCompletion(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = dedupAudit(spark, dir).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
