package graft.streaming

import graft.ops.MisraGries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of x16's Misra–Gries heavy hitters: frequency
  * tracking over an unbounded token stream with BOUNDED state — the
  * monitoring job a corpus-ingest pipeline runs beside the crawl
  * ("what's trending in the data we're pulling in right now").
  *
  * Scale design: a single global summary would funnel every token to
  * one task, so the token space is hash-SHARDED (`pmod(xxhash64)`,
  * deterministic) and each shard key holds its own k-counter summary in
  * `flatMapGroupsWithState` GroupState (any state-store provider the
  * session configures). Shards partition the token space, so the
  * global answer is the plain UNION of shard summaries — no cross-shard
  * merge rule needed — and each shard inherits the classic sequential
  * MG guarantee over ITS substream: `true − N_shard/(k+1) ≤ est ≤
  * true`, with exactness when k ≥ the shard's distinct-token count.
  * State per shard is ≤ k counters regardless of stream length; each
  * micro-batch emits the shard's current summary tagged with a
  * monotone `seq`, so a consumer (and the spec) reads "latest seq per
  * shard" as the live answer — the same update-stream contract as the
  * session stores.
  *
  * The per-row reduce is the SAME `MisraGries.reduce` the batch x16
  * Aggregator runs — one summary algebra, two execution modes, which
  * is what makes the streamed == batch law testable at all
  * (HeavyHitterStreamSpec replays the corpus in chunks and pins the
  * streamed top-k equal to the batch query's).
  */
object HeavyHitterStream {

  case class TokRow(shard: Int, token: String)
  case class MgState(m: Map[String, Long], seq: Long)
  case class ShardSummary(shard: Int, seq: Long, token: String, est: Long)

  /** One shard's micro-batch: fold the batch's tokens into the shard's
    * summary and emit it under the next `seq`.
    */
  def foldShard(mg: MisraGries)(key: Int, rows: Iterator[TokRow],
      state: GroupState[MgState]): Iterator[ShardSummary] = {
    val prior = state.getOption.getOrElse(MgState(Map.empty, 0L))
    val next = MgState(rows.foldLeft(prior.m)((m, r) => mg.reduce(m, r.token)), prior.seq + 1)
    state.update(next)
    next.m.iterator.map { case (t, c) => ShardSummary(key, next.seq, t, c) }
  }

  /** The sharded token stream from a staged documents directory (one
    * whitespace token per row, empty tokens dropped; explode_outer for
    * the InferFiltersFromGenerate double-tokenization reason the batch
    * ops document).
    */
  def tokenStream(spark: SparkSession, stagingDir: String,
      shards: Int): DataFrame = {
    val schema = graft.EventTs.probeSchemaOr(spark, stagingDir, DedupStream.docSchema)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagingDir)
      .select(explode_outer(split(trim(col("text")), "\\s+")).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .withColumn("shard", pmod(xxhash64(col("token")), lit(shards)).cast("int"))
      .select("shard", "token")
  }

  /** Run the sharded MG stream to completion over the staged files
    * (memory sink). Returns every per-batch summary emission; the live
    * answer is the max-`seq` row set per shard.
    */
  def runToCompletion(spark: SparkSession, stagingDir: String,
      queryName: String, k: Int = 64, shards: Int = 8): DataFrame = {
    import spark.implicits._
    val summaries = tokenStream(spark, stagingDir, shards)
      .as[TokRow]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        foldShard(MisraGries(k)))
    val q = summaries.writeStream
      .outputMode("update").format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
