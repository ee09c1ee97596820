package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.util.control.NonFatal

/** One named operator query: the Spark implementation plus (where the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query
  * over the same parquet tables. Names are keyed to the operator inventory
  * in SURVEY.md §2 so coverage is auditable line by line.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

/** A group of related operator queries (one per SURVEY.md §2 family). */
trait OpModule { def qs: Seq[Q] }

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Optional scan fan-out: `graft.scan.fanout = n` (session conf)
    * round-robin-repartitions a table read to n partitions right after
    * the scan. The driver test files are single-row-group parquet, which no
    * parquet reader can split — without this every scan-stage computation
    * (tokenize/hash/regex projections) runs in ONE task regardless of
    * cores. Catalyst still pushes filters and column pruning through the
    * repartition to the scan. Default off: at deployment scale the input
    * has many files/row groups and scan parallelism is free, so the extra
    * shuffle would be pure waste.
    *
    * SIZE-GATED (round 15, optimization guide §2.4 "remove shuffles
    * outright"): fan-out exists to parallelize heavy per-row compute over
    * an unsplittable file, and a table below [[FanoutMinBytes]]
    * (512 KB) holds less work than its round-robin exchange costs
    * — every keyless repartition also pays a local sort of its input
    * (spark.sql.execution.sortBeforeRepartition) plus one AQE stage
    * boundary per read. At sf0.1 the gate exempts the five dimension
    * tables (region 2 KB … customer 316 KB) whose downstream consumers
    * re-establish parallelism at their first keyed exchange anyway;
    * measured across the query surface the results are bit-identical
    * (order is never partition-derived — R4) and the sweep total drops
    * (OPTIMIZATION_r15.md).
    *
    * FILE-COUNT-GATED too (round 16, same guide section): fan-out exists
    * for the ONE-file unsplittable case, but a multi-part directory
    * (GenScale's 32-part scale dirs, any real warehouse table) already
    * scans one task per file or better — and the round-robin exchange
    * there is a FULL extra pass over the table's bytes, immediately
    * re-shuffled by the first keyed exchange. Measured at sf10:
    * v4_triplet_join shuffled 943 MB through the fan-out exchange and
    * then 943 MB again through the join hash exchange — 30.07 s at 32
    * cores AND 31.79 s at 8 (the serial floor was the double shuffle,
    * not compute). With `fileCount >= n` skipping the fan-out the scan
    * parallelism is already ≥ n. Single driver files (fileCount 1) keep
    * the repartition, so the sf0.1 bench plans are unchanged.
    */
  private def fanout(spark: SparkSession, df: DataFrame,
      stat: (Long, Long)): DataFrame = {
    val n = try spark.conf.get("graft.scan.fanout", "0").toInt
    catch { case _: NumberFormatException => 0 }
    val (bytes, files) = stat
    if (n > 0 && bytes >= FanoutMinBytes && files < n) df.repartition(n) else df
  }

  private[graft] val FanoutMinBytes: Long = 512L << 10

  /** (total bytes, file count) of a table path, via the Hadoop
    * FileSystem API so the fan-out gate is real on ANY scheme (local,
    * hdfs://, s3a://, …), not just java.io-visible paths (round 16,
    * verdict #7). `getContentSummary` recurses, so a directory of
    * subdirectories (Hive-partitioned layouts) sums its leaves instead
    * of reading 0 — the round-15 shallow java.io sum failed CLOSED on
    * exactly that shape (ADVICE r15). Unreadable/missing paths report
    * (Long.MaxValue, 1) so the size gate fails OPEN (keeps the
    * repartition — the pre-gate behavior).
    */
  private[graft] def inputStat(spark: SparkSession, path: String): (Long, Long) =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val cs = fs.getContentSummary(p)
        (cs.getLength, cs.getFileCount)
      } else (Long.MaxValue, 1L)
    } catch { case NonFatal(e) =>
      System.err.println(s"# input stat of $path failed, fan-out fails open: $e")
      (Long.MaxValue, 1L)
    }

  private[graft] def inputBytes(spark: SparkSession, path: String): Long =
    inputStat(spark, path)._1

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fanout(spark, {
      if (name == "events") {
        EventTs.enableLegacyNanos(spark)
        EventTs.normalize(spark.read.parquet(path))
      } else spark.read.parquet(path)
    }, inputStat(spark, path))
  }
}

/** The driver has shipped `events.ts` in two physical layouts across
  * testdata generations: parquet TIMESTAMP(NANOS) (readable only as a
  * ns Long under `spark.sql.legacy.parquet.nanosAsLong` — the vectorized
  * reader rejects nanos) and parquet TIMESTAMP(MICROS) without UTC
  * adjustment (read as TIMESTAMP_NTZ). Consumers must see ONE shape, so
  * every events read funnels through [[normalize]]: a session-zoned
  * TimestampType `ts`. Sessions run UTC, so the NTZ→LTZ cast preserves
  * the instant exactly; the ns path divides in exact integer space (a
  * double division would lose precision at ~1.7e18 ns epoch values).
  */
object EventTs {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Enable the legacy ns-long read path (no-op where unsupported);
    * call before any parquet read that might hit TIMESTAMP(NANOS).
    */
  def enableLegacyNanos(spark: SparkSession): Unit =
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case NonFatal(e) =>
      System.err.println(s"# legacy nanos read path unavailable: $e")
    }

  /** Batch-probe the parquet schema of `path` (file or staged stream
    * directory) — streaming sources need an explicit schema, and only
    * the footer knows which generation the files are.
    */
  def probeSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    enableLegacyNanos(spark)
    spark.read.parquet(path).schema
  }

  /** [[probeSchema]] with a declared-schema fallback for a staging
    * directory that has no files yet (stream started before the first
    * producer write) — the footer probe throws AnalysisException there.
    * Every streaming caller should use this form; a bare [[probeSchema]]
    * silently narrows the helper's contract to "at least one file
    * staged".
    */
  def probeSchemaOr(spark: SparkSession, path: String,
      fallback: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    try probeSchema(spark, path)
    catch { case _: org.apache.spark.sql.AnalysisException => fallback }

  /** `ts` in any known layout → session-zoned TimestampType. */
  def normalize(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
}

/** Exact decimal-accumulated aggregation helpers.
  *
  * Spark sums doubles in shuffle-arrival order, which is nondeterministic
  * across runs and never matches a sequential single-threaded oracle
  * bit-for-bit. Accumulating in DecimalType is exact and order-free, so the
  * final `cast(double)` is reproducible on both engines. Rounding a binary
  * double to a decimal scale can never hit an exact .5 tie (binary
  * fractions have no factor-5 denominators), so the decimal cast itself is
  * also engine-agnostic.
  */
/** The md5-prefix uniform draw shared by x18b, r7 and ft1: the first 8
  * hex chars of an md5 (a column named `h`) folded base-16 into a BIGINT
  * in [0, 2^32), spelled once for Spark (`expr`, a SQL-expression
  * string) and once for DuckDB (`sql`). ONE copy on purpose — this fold
  * must stay bit-identical across engines and across call sites, and
  * drift between scattered copies would silently break oracle parity.
  */
object U32Fold {
  /** Spark-side fast path: `conv` is a codegen'd builtin computing the
    * identical value for 8 lowercase hex chars (< 2^32, no sign edge);
    * the interpreted HOF fold in [[expr]] measured ~5× slower on a
    * single-task scan. DuckDB has no conv — its side stays [[sql]];
    * value equality is what parity checks.
    */
  val convExpr: String = "cast(conv(h, 16, 10) as bigint)"
  val expr: String =
    """aggregate(transform(sequence(1, 8), i ->
      |  CAST(ascii(substr(h, i, 1)) -
      |    IF(ascii(substr(h, i, 1)) >= 97, 87, 48) AS BIGINT)),
      |  CAST(0 AS BIGINT), (acc, d) -> acc * 16 + d)""".stripMargin
  val sql: String =
    """list_reduce(list_transform(range(1, 9), i ->
      |  CAST(ord(substr(h, CAST(i AS INTEGER), 1)) -
      |    CASE WHEN ord(substr(h, CAST(i AS INTEGER), 1)) >= 97
      |         THEN 87 ELSE 48 END AS BIGINT)),
      |  (acc, d) -> acc * 16 + d)""".stripMargin
}

object Dec {
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")
  def davg(c: Column): Column = dsum(c) / count(c)
  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  def sqlSum(col: String): String =
    s"CAST(sum(CAST($col AS DECIMAL(18,4))) AS DOUBLE)"
}
