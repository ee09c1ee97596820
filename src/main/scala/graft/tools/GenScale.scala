package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-decade scale extender for the driver testdata (SCALING.md §sf1.0):
  * synthesizes `sf1.0` from `sf0.1` as `copies` (default 10) key-shifted,
  * FK-consistent shards, because the driver's own generator is not
  * shipped in this environment. Every copy is a self-consistent TPC-H-ish
  * universe: fact keys shift by `copy × (max key + 1)` of their own key
  * space AND of every referenced dimension, so joins land exactly as in
  * the source shard. The fixed dimensions (`region`, `nation`) stay
  * fixed — TPC-H scaling grows facts, not the 25 nations.
  *
  * Content rules keep the DATA DISTRIBUTIONS of each shard identical to
  * sf0.1 while preventing the one artifact naive replication would
  * plant — 10 exact copies of every document/embedding, which would turn
  * the dedup families into measurements of the replication trick instead
  * of the corpus:
  *   - `documents.text`: for copy c > 0, every token whose crc32 is even
  *     gains a copy-specific suffix. The mutated subset is the SAME for
  *     all copies (token-keyed, not doc-keyed), so WITHIN-copy token-set
  *     Jaccard — what dd2/dd6's near-dup structure measures — is exactly
  *     the source corpus's, while CROSS-copy Jaccard collapses to
  *     ≈ 0.5/1.5 ≪ the 0.8 threshold (shared = the unmutated half;
  *     each copy's mutated half is distinct). `n_chars` is recomputed
  *     (the source invariant n_chars = length(text) holds by check).
  *   - `embeddings.embedding`: copy c > 0 ROTATES the element array by
  *     c positions — no exact-duplicate vectors across copies, while
  *     the float VALUE POPULATION stays exactly the source table's.
  *     (An additive perturbation was tried and REVERTED: it minted new
  *     arbitrary floats whose double→DECIMAL(28,8) casts land one
  *     quantum apart across engines — the a8 oracle caught 640
  *     mismatched sums at sf1.0. Rotation is cast-invariant.)
  *   - `events.ts` keeps its timeline: 10× the events over the same
  *     period with 10× the users is what a decade of growth looks like
  *     to every windowed/streaming query.
  *
  * Determinism: every expression is a pure function of source rows and
  * the copy index — re-running the generator reproduces sf1.0 bit-
  * identically. Output is a 32-part parquet DIRECTORY per table at the
  * driver naming (`<dir>/<table>.parquet/`) — splittable like
  * deployment input (see writeOne); Spark reads it transparently and
  * tools/parity.py's DuckDB views glob it.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("testdata/sf1.0")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local()
    try generate(spark, src, out, copies)
    finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    def tbl(name: String): DataFrame = graft.Tables(spark, src, name)
    // span of a key space = max + 1 (keys are 0-based in the driver data)
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L
    val cust = tbl("customer"); val supp = tbl("supplier")
    val part_ = tbl("part"); val ord = tbl("orders")
    val C = span(cust, "c_custkey"); val S = span(supp, "s_suppkey")
    val P = span(part_, "p_partkey"); val O = span(ord, "o_orderkey")
    val ev = tbl("events"); val docs = tbl("documents"); val emb = tbl("embeddings")
    val E = span(ev, "event_id"); val U = span(ev, "user_id")
    val D = span(docs, "doc_id"); val V = span(emb, "vec_id")

    val cps = broadcast(spark.range(copies).toDF("c"))
    /** `df` × copies with the listed BIGINT key columns shifted by
      * `copy × span`; all other columns pass through unchanged, in the
      * source column order.
      */
    def shifted(df: DataFrame, shifts: Map[String, Long],
        override_ : Map[String, org.apache.spark.sql.Column] = Map.empty): DataFrame = {
      val cols = df.columns.map { n =>
        override_.get(n)
          .orElse(shifts.get(n).map(k => col(n) + col("c") * lit(k)))
          .getOrElse(col(n)).as(n)
      }
      df.crossJoin(cps).select(cols.toIndexedSeq: _*)
    }

    writeOne(spark, tbl("region"), out, "region")
    writeOne(spark, tbl("nation"), out, "nation")
    writeOne(spark, shifted(cust, Map("c_custkey" -> C)), out, "customer")
    writeOne(spark, shifted(supp, Map("s_suppkey" -> S)), out, "supplier")
    writeOne(spark, shifted(part_, Map("p_partkey" -> P)), out, "part")
    writeOne(spark, shifted(ord,
      Map("o_orderkey" -> O, "o_custkey" -> C)), out, "orders")
    writeOne(spark, shifted(tbl("lineitem"),
      Map("l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S)), out, "lineitem")
    writeOne(spark, shifted(ev,
      Map("event_id" -> E, "user_id" -> U)), out, "events")

    // token-keyed mutation: same mutated SUBSET every copy, copy-specific
    // suffix — see the scaladoc's Jaccard argument
    val mutText = expr(
      """concat_ws(' ', transform(split(trim(text), '\\s+'),
        |  t -> IF(crc32(t) % 2 = 0, concat(t, 'x', cast(c AS string)), t)))"""
        .stripMargin)
    writeOne(spark, shifted(docs, Map("doc_id" -> D),
      override_ = Map(
        "text" -> when(col("c") === 0, col("text")).otherwise(mutText),
        "n_chars" -> length(when(col("c") === 0, col("text")).otherwise(mutText))
          .cast("long"))), out, "documents")

    // rotation is IDENTITY when c is a multiple of the vector length, so
    // copy dim would silently recreate exact-duplicate vectors across
    // copies — the artifact the rotation rule exists to prevent. Guard
    // rather than wrap: a >dim extension needs a different mutation rule.
    val minDim = emb.filter(size(col("embedding")) > 0)
      .agg(min(size(col("embedding")))).head().getInt(0)
    require(copies <= minDim,
      s"copies=$copies > embedding dim $minDim: copy $minDim's rotation is " +
        "the identity — cross-copy exact-duplicate vectors")
    val rotated = expr(
      """IF(size(embedding) = 0, embedding,
        |  transform(embedding, (x, i) ->
        |    element_at(embedding, CAST((i + c) % size(embedding) AS int) + 1)))"""
        .stripMargin)
    writeOne(spark, shifted(emb, Map("vec_id" -> V),
      override_ = Map(
        "embedding" -> when(col("c") === 0, col("embedding")).otherwise(rotated))),
      out, "embeddings")
  }

  /** Write `df` as the single file `<out>/<name>.parquet` — the driver
    * testdata layout (DuckDB's `read_parquet` in tools/parity.py wants a
    * file, not a directory). One staging write + one rename through the
    * Hadoop FS API.
    */
  private def writeOne(spark: SparkSession, df: DataFrame, out: String,
      name: String): Unit = {
    val fs = graft.etl.StoreFs.fs(spark, out)
    // 32-part DIRECTORY layout (round 12). The driver testdata ships
    // single-row-group FILES, and the original coalesce(1) write
    // reproduced that at scale — sf10 lineitem was 902 MB in 7 row
    // groups and documents in ONE, so no parquet reader could give a
    // scan more than that many tasks, and single-task scan stages were
    // 38-45% of measured sf10 walls (COVERAGE §v7, §dd2 profiles) — an
    // artifact of the synthetic layout, not a property of the engine
    // under test. (A parquet.block.size knob was tried first and
    // REJECTED: the writer flushes on encoded size, and snappy text
    // compresses well enough that sf10 documents still landed 3 row
    // groups at a 16 MB block.) Deployment input is many splittable
    // files; the scale dirs now match it: `<table>.parquet/` holds 32
    // parts (Spark reads the directory transparently; tools/parity.py
    // globs). Content is the identical row multiset — repartition's
    // round-robin is made deterministic by Spark's injected local sort,
    // so regeneration remains reproducible.
    val dst = s"$out/$name.parquet"
    fs.delete(new Path(dst), true): Unit
    df.repartition(32).write.mode("overwrite").parquet(dst)
    val files = fs.listStatus(new Path(dst))
      .filter(_.getPath.getName.endsWith(".parquet"))
    println(s"[genscale] $name -> $dst (${files.length} parts, " +
      s"${files.map(_.getLen).sum / 1024} KiB)")
  }
}
