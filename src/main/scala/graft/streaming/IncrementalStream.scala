package graft.streaming

import graft.quality.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of dd9 (cross-snapshot incremental dedup): the
  * production crawl does not arrive as a snapshot — documents land
  * continuously and each must be verdicted against the fingerprint
  * store of everything already kept. The store is STATIC per run (it
  * rolls forward between runs via
  * [[DedupOps.updatedFingerprintStore]]), which makes every plan here a
  * stream-static join: stateless, append-mode-safe, no watermark — the
  * store IS the state, and it lives in parquet, not the state store.
  *
  * Three shapes, stateless-first:
  *
  *   - [[exactVerdicts]] — arriving doc → left join on content md5
  *     against the exact store: `exact_prior` or `kept`. The
  *     high-frequency path (crawl re-fetches).
  *   - [[nearCandidates]] — per-row MinHash signatures
  *     ([[DedupOps.minhashSigsPerRow]]), banded keys exploded WITH the
  *     signature ([[DedupOps.bandedSigs]] — a join back to the stream's
  *     own sigs would be stream-stream), equi-joined against the static
  *     band store, agreement verified against the static sig store.
  *     Emits (doc_id, a_id, n_agree) hits; a (doc, prior) pair reaching
  *     agreement through several bands emits once per band — collapsing
  *     to min-ref is a per-batch aggregation deliberately left to the
  *     consumer so this plan stays stateless.
  *   - [[incrementalDedupToFiles]] — the production composition:
  *     `foreachBatch` runs the FULL batch dd9 verdict
  *     ([[DedupOps.incrementalVerdicts]]: exact + near + within-batch
  *     dup collapse) per micro-batch against the static store,
  *     checkpointed. Output rows carry `batch_id`; the parquet append
  *     itself is at-least-once under micro-batch retry, so an
  *     exactly-once consumer dedups on (batch_id, doc_id).
  */
object IncrementalStream {

  def exactVerdicts(spark: SparkSession, streamDocs: DataFrame,
      exactStore: DataFrame): DataFrame =
    streamDocs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(exactStore.select(col("text_md5"), col("ref_id")),
        Seq("text_md5"), "left")
      .select(col("doc_id"),
        when(col("ref_id").isNotNull, lit("exact_prior"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("ref_id"), lit(-1L)).as("ref_id"))

  def nearCandidates(spark: SparkSession, streamDocs: DataFrame,
      sigStore: DataFrame, bandStore: DataFrame,
      minAgree: Int = DedupOps.IncrementalMinAgree): DataFrame =
    DedupOps.bandedSigs(DedupOps.minhashSigsPerRow(streamDocs))
      .join(bandStore.select(col("band"), col("bkey"), col("doc_id").as("a_id")),
        Seq("band", "bkey"))
      .join(sigStore.select(col("doc_id").as("a_id"), col("sig").as("siga")), "a_id")
      .withColumn("n_agree",
        expr("aggregate(zip_with(siga, sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"))
      .filter(col("n_agree") >= minAgree)
      .select(col("doc_id"), col("a_id"), col("n_agree"))

  /** `onBatchAppended` fires after the parquet append and before
    * foreachBatch returns (i.e. before the checkpoint commit) — the
    * exactly-once window. Production leaves it a no-op; the spec throws
    * from it to kill the query between append and commit and then
    * replays, pinning that the (batch_id, doc_id) consumer dedup
    * restores exactly-once semantics over the at-least-once append.
    */
  def incrementalDedupToFiles(spark: SparkSession, inDir: String,
      outDir: String, checkpointDir: String, storeDir: String,
      onBatchAppended: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .schema(DedupStream.docSchema)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val (exact, sigs, bands) = DedupOps.readFingerprintStore(s, storeDir)
        DedupOps.incrementalVerdicts(s, batch, exact, sigs, bands)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        onBatchAppended(batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
