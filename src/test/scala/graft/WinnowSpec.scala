package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing guarantees: identical texts share all fingerprints; texts
  * sharing a long substring share fingerprints; unrelated texts share few.
  */
class WinnowSpec extends AnyFunSuite with SparkSuite {

  private def fingerprints(dir: String): Map[Long, Set[Long]] =
    quality.TextOps.winnowFingerprints(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap

  private lazy val plantedDir: String = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    def words(n: Int) = Seq.fill(n)(s"tok${rng.nextInt(5000)}").mkString(" ")
    val shared = words(30)
    val t0 = words(60)
    val docs = Seq(
      (0L, t0, "en", "s", 0L),
      (1L, words(60), "en", "s", 0L),
      (2L, words(20) + " " + shared + " " + words(20), "en", "s", 0L),
      (3L, words(25) + " " + shared + " " + words(15), "en", "s", 0L),
      (4L, t0, "en", "s", 0L)) // exact copy of doc 0
    val dir = java.nio.file.Files.createTempDirectory("winnow").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("sliding_min kernel == the HOF window-min form, value for value") {
    // the real corpus at sf (every document length/shape), both forms
    // computed side by side — the drift pin for the O(n) deque kernel
    val both = Tables(spark, sf, "documents")
      .withColumn("hs", expr(
        "transform(sequence(1, greatest(1, length(text) - 7)), i -> poly_hash31(substring(text, i, 8)))"))
      .select(col("doc_id"),
        expr("transform(sequence(0, greatest(0, size(hs) - 16)), j -> array_min(slice(hs, j + 1, 16)))").as("hof"),
        expr("sliding_min(hs, 16)").as("kern"))
    assert(both.filter(not(col("hof") <=> col("kern"))).isEmpty,
      "kernel diverges from the HOF form on the corpus")
    // edge cases the corpus may not cover: n < w (single clamped
    // window), w = 1 (identity), null elements (skipped; all-null
    // window -> null), equal values (latest-index pop keeps the min)
    import spark.implicits._
    val edges = Seq(
      Seq[java.lang.Long](5L, 3L, 7L),                     // n < w
      Seq[java.lang.Long](4L),                             // single element
      Seq[java.lang.Long](),                               // empty array
      Seq[java.lang.Long](9L, null, 2L, null, 8L, 1L),     // nulls interior
      Seq[java.lang.Long](null, null),                     // all null
      Seq[java.lang.Long](2L, 2L, 2L, 1L, 2L, 2L))         // equal runs
      .toDF("hs")
    for (w <- Seq(1, 2, 4, 16)) {
      val cmp = edges.select(
        expr(s"transform(sequence(0, greatest(0, size(hs) - $w)), j -> array_min(slice(hs, j + 1, $w)))").as("hof"),
        expr(s"sliding_min(hs, $w)").as("kern"))
      assert(cmp.filter(not(col("hof") <=> col("kern"))).isEmpty,
        s"kernel diverges from the HOF form at w=$w: ${cmp.collect().toSeq}")
    }
    // the ONE deliberate divergence (scaladoc): NULL array -> NULL,
    // where the HOF spelling's greatest(0, size(null))=0 accident
    // manufactures [null]
    val nullArr = Seq(Tuple1(null: Seq[java.lang.Long])).toDF("hs")
    assert(nullArr.select(expr("sliding_min(hs, 16)")).head().isNullAt(0),
      "a NULL input array must follow the standard null-in/null-out contract")
    // a bad window is an ANALYSIS error (TypeCheckFailure), never an
    // executor-side crash: non-integral, zero, negative, and null
    for (bad <- Seq("'x'", "0", "-3", "CAST(NULL AS INT)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        nullArr.select(expr(s"sliding_min(hs, $bad)")).queryExecution.analyzed
      }
      assert(e.getMessage.toLowerCase.contains("sliding_min"),
        s"window $bad: unexpected analysis message ${e.getMessage}")
    }
  }

  test("identical docs share all fingerprints; overlapping docs share many; unrelated few") {
    val fps = fingerprints(plantedDir)
    assert(fps(0L) == fps(4L)) // exact copy
    val overlap23 = fps(2L).intersect(fps(3L)).size.toDouble /
      math.min(fps(2L).size, fps(3L).size)
    assert(overlap23 > 0.3, s"shared-substring overlap $overlap23")
    val overlap01 = fps(0L).intersect(fps(1L)).size.toDouble /
      math.min(fps(0L).size, fps(1L).size)
    assert(overlap01 < 0.2, s"unrelated overlap $overlap01")
  }

  test("fingerprints are non-empty and bounded by text length") {
    val fps = fingerprints(sf)
    assert(fps.nonEmpty)
    fps.values.foreach(s => assert(s.nonEmpty))
  }

  test("x5 scalar projection agrees with the fingerprint sets") {
    // x5 relies on narrow-projection order preservation after its input
    // sort (no final orderBy — the query comment documents the reliance).
    // Pin the order CONTRACT here so a future plan change that inserts an
    // exchange surfaces as a failing spec, not as driver-gate hash drift.
    val collected = SparkEntry.queries("x5_winnow_fingerprint")(spark, plantedDir).collect()
    assert(collected.map(_.getLong(0)).toSeq == collected.map(_.getLong(0)).sorted.toSeq,
      "x5 output no longer arrives in doc_id order — the sort no longer survives the projection")
    val scalars = collected
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val raw = fingerprints(plantedDir)
    assert(scalars.keySet == raw.keySet)
    raw.foreach { case (id, s) => assert(scalars(id)._1 == s.size.toLong) }
    // digest of identical fp sets matches; differing sets differ
    assert(scalars(0L)._2 == scalars(4L)._2)
    assert(scalars(0L)._2 != scalars(1L)._2)
  }
}
