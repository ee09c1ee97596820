package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming IVF centroid assignment — the live half of an ANN index
  * build: as embedding files land, each vector is routed to its nearest
  * centroid list (the same inverted file knnIvf probes).
  *
  * Window functions (the batch assignment's `row_number` over centroid
  * similarity) are not available on streams, so the per-row argmax is an
  * expression FOLD over the centroid set instead: centroids are a small
  * static table collected once at plan time and inlined as literals —
  * exactly the broadcast the batch plan does, in streamable form. The
  * tie-break (highest cosine, then lowest centroid id) matches the batch
  * window ordering; StreamingSpec pins streamed == batch on the same
  * input.
  */
object AssignStream {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", LongType)))

  /** (cent, cemb, cnrm) literals collected from the LLOYD-REFINED
    * centroid table — the SAME centroids knnIvf's inverted file is built
    * from (seed centroids here would silently file streamed vectors into
    * lists the batch index never probes). Static side of the
    * stream-static pattern; array<double> cells, as the refined means
    * are.
    */
  private def centroidLits(spark: SparkSession, dir: String, nCentroids: Int): Seq[(Long, Array[Double], Double)] = {
    graft.quality.SimilarityOps.ivfRefinedCentroids(spark, dir, nCentroids)
      .select(col("cent"), col("cemb"), col("cnrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
  }

  /** Per-row nearest-centroid argmax: `array_max` over (csim, −cent)
    * structs — lexicographic struct ordering gives highest cosine with
    * ties to the LOWEST centroid id, matching the batch window's
    * (csim DESC, cent ASC). One linear expression; a `when`-chain fold
    * would duplicate the accumulator subtree per step (2^N expression
    * blow-up — it OOM'd the planner at 16 centroids).
    */
  def nearestCentroid(spark: SparkSession, dir: String, emb: Column,
      nCentroids: Int = 16): Column = {
    val nrm = graft.quality.SimilarityOps.l2norm(emb)
    val cands: Seq[Column] = centroidLits(spark, dir, nCentroids).map { case (id, cemb, cnrm) =>
      // same centSim arithmetic as the batch assignment (HOF fold over
      // the float row vector × double centroid literal)
      val pc = array(cemb.toIndexedSeq.map(lit): _*)
      struct(graft.quality.SimilarityOps.centSim(emb, nrm, pc, lit(cnrm)).as("csim"),
        lit(-id).as("negcent"))
    }
    -array_max(array(cands: _*)).getField("negcent")
  }

  /** Streaming assignment over a directory of embedding parquet files:
    * (vec_id, cent). Append mode — pure per-row projection, no state.
    */
  def assign(spark: SparkSession, batchDir: String, streamDir: String): DataFrame =
    spark.readStream
      .schema(embSchema)
      .parquet(streamDir)
      .select(col("vec_id"),
        nearestCentroid(spark, batchDir, col("embedding")).as("cent"))

  def runToCompletion(spark: SparkSession, batchDir: String, streamDir: String,
      queryName: String): DataFrame = {
    val q = assign(spark, batchDir, streamDir).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
