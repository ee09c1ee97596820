package graft

import graft.quality.DedupOps
import graft.streaming.{DedupStream, IncrementalStream}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming twin of dd9: arriving documents verdicted against a STATIC
  * fingerprint store via stream-static joins (stateless), plus the
  * foreachBatch composition that must agree row-for-row with the batch
  * incrementalVerdicts on the same input.
  */
class IncrementalStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def words(seed: Int, prefix: String = "w") = {
    val rng = new scala.util.Random(seed)
    Seq.fill(60)(s"$prefix${rng.nextInt(500)}").mkString(" ")
  }

  private lazy val prior = (0 until 10).map(i => (i.toLong, words(1000 + i), "en", s"p$i", 0L))

  // 100 = exact copy of prior 3; 101 = near copy of prior 5 (one word
  // changed, token-set jaccard ≈ 0.967); 102 = novel vocabulary
  private lazy val fresh = Seq(
    (100L, prior(3)._2, "en", "sA", 0L),
    (101L, prior(5)._2.split(" ").toVector.updated(7, "zzz").mkString(" "), "en", "sB", 0L),
    (102L, words(77, "q"), "en", "sC", 0L))

  private lazy val storeDir = {
    val d = java.nio.file.Files.createTempDirectory("inc_store").toString
    DedupOps.writeFingerprintStore(spark,
      prior.toDF("doc_id", "text", "lang", "source", "n_chars"), d)
    d
  }

  private lazy val inDir = {
    val d = java.nio.file.Files.createTempDirectory("inc_in").toString
    fresh.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(d)
    d
  }

  private def streamDocs = spark.readStream.schema(DedupStream.docSchema).parquet(inDir)

  test("exact verdicts: stateless stream-static hash join against the store") {
    val (exact, _, _) = DedupOps.readFingerprintStore(spark, storeDir)
    val q = IncrementalStream.exactVerdicts(spark, streamDocs, exact)
      .writeStream.format("memory").queryName("inc_exact").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("inc_exact").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(100L) == ("exact_prior", 3L), s"exact dup not caught: $got")
    assert(got(101L) == ("kept", -1L), s"near dup wrongly exact: $got")
    assert(got(102L) == ("kept", -1L), s"novel doc not kept: $got")
  }

  test("near candidates: per-row signatures + band-key join find the planted near-dup") {
    val (_, sigs, bands) = DedupOps.readFingerprintStore(spark, storeDir)
    // minAgree relaxed to 24: threshold calibration is dd9's concern
    // (DedupSpec); this test pins the streaming plumbing
    val q = IncrementalStream.nearCandidates(spark, streamDocs, sigs, bands, minAgree = 24)
      .writeStream.format("memory").queryName("inc_near").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val hits = spark.table("inc_near").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val pairs = hits.map(h => (h._1, h._2)).toSet
    assert(pairs.contains((101L, 5L)), s"planted near-dup missed: ${hits.toSeq}")
    // the exact copy is also a (trivial) near candidate — full agreement
    assert(hits.exists(h => h._1 == 100L && h._2 == 3L && h._3 == 32),
      s"exact copy should band-collide with full agreement: ${hits.toSeq}")
    assert(!pairs.exists(_._1 == 102L), s"novel doc produced candidates: ${hits.toSeq}")
  }

  test("per-row signatures are bit-identical to the batch aggregate form") {
    val freshDf = fresh.toDF("doc_id", "text", "lang", "source", "n_chars")
    val perRow = DedupOps.minhashSigsPerRow(freshDf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val batch = DedupOps.minhashSignaturesOf(freshDf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(perRow == batch, "per-row and batch signatures diverge")
  }

  test("foreachBatch composition agrees row-for-row with batch incrementalVerdicts") {
    val outDir = java.nio.file.Files.createTempDirectory("inc_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("inc_ckpt").toString
    val q = IncrementalStream.incrementalDedupToFiles(spark, inDir, outDir, ckpt, storeDir)
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(outDir)
      .select("doc_id", "status", "ref_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val (exact, sigs, bands) = DedupOps.readFingerprintStore(spark, storeDir)
    val want = DedupOps.incrementalVerdicts(spark,
        fresh.toDF("doc_id", "text", "lang", "source", "n_chars"), exact, sigs, bands)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(got.toSeq == want.toSeq, s"stream/batch divergence: $got vs $want")
  }

  test("exactly-once consumer contract: a batch killed between append and commit replays without duplicate verdicts") {
    val outDir = java.nio.file.Files.createTempDirectory("inc_out2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("inc_ckpt2").toString
    // kill the query AFTER the parquet append, BEFORE the checkpoint
    // commit — the crash window the foreachBatch contract comment names
    @volatile var killed = false
    val q1 = IncrementalStream.incrementalDedupToFiles(spark, inDir, outDir, ckpt,
      storeDir, onBatchAppended = _ => if (!killed) {
        killed = true
        throw new RuntimeException("injected crash between append and commit")
      })
    val err = intercept[Throwable] { q1.processAllAvailable() }
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null).take(10)
      .exists(e => Option(e.getMessage).exists(_.contains("injected crash"))),
      s"query died of something other than the injected crash: $err")
    q1.stop()
    // restart from the same checkpoint: the uncommitted batch replays
    val q2 = IncrementalStream.incrementalDedupToFiles(spark, inDir, outDir, ckpt, storeDir)
    q2.processAllAvailable(); q2.stop()
    val raw = spark.read.parquet(outDir)
    // the at-least-once double append REALLY happened (same batch_id) —
    // without this the dedup assertion below would be vacuous
    assert(raw.count() == 2L * fresh.size,
      s"expected the replayed batch to double the appended rows, got ${raw.count()}")
    assert(raw.select("batch_id").distinct().count() == 1L,
      "replayed batch must reuse the same batch_id (checkpoint replay)")
    val deduped = raw.dropDuplicates("batch_id", "doc_id")
      .select("doc_id", "status", "ref_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val (exact, sigs, bands) = DedupOps.readFingerprintStore(spark, storeDir)
    val want = DedupOps.incrementalVerdicts(spark,
        fresh.toDF("doc_id", "text", "lang", "source", "n_chars"), exact, sigs, bands)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(deduped.toSeq == want.toSeq,
      s"deduped replay view diverges from the batch verdict: ${deduped.toSeq} vs ${want.toSeq}")
  }
}
