package graft.etl

import graft.{Dec, OpModule, Q, Tables}
import org.apache.spark.sql.functions._

/** K-path sinks (SURVEY.md §2.2 K1/K2): compressed, partitioned parquet
  * export with a driver-oracled read-back audit.
  *
  * The reference's entire output path is a parquet write
  * (`dlmerged2parquet.py:289-291`); until round 4 the K1/K2 sinks were
  * only spec-verified (SourcesSpec, PipelineSpec, TrainingPrepSpec;
  * COVERAGE.md §2.2). This
  * query makes the write itself driver-gated: export `documents`
  * partitioned by `lang` with gzip compression to a fresh temp dir, read
  * it back, and emit one row per partition key carrying a count, id/char
  * sums, and an order-free content fingerprint (min/max of a per-row md5
  * over every non-partition column). DuckDB recomputes the identical
  * digests from the SOURCE table, so a row dropped, duplicated, or
  * corrupted anywhere in the write→read round trip — including a mangled
  * partition value — breaks the hash match.
  *
  * Scale shape: the export is a single shuffle-free pass (`partitionBy`
  * fans files out per key inside each task — no exchange), and the audit
  * is one map-side-partial aggregation onto a handful of language keys.
  * Nothing is driver-bound; at 100 TB the write parallelism is the scan
  * parallelism.
  */
object SinkOps extends OpModule {

  /** Sorted-write layout: `sortWithinPartitions(sortCol)` before the
    * parquet write, so every row group's min/max statistics on `sortCol`
    * cover a NARROW, DISJOINT range — the writer-side half of the
    * min/max-pruning story P5's point lookup relies on at read time. On
    * an unsorted layout every row group spans the full key range and
    * statistics prune nothing; sorted, a point/range predicate touches
    * one row group per file. `rowGroupBytes` caps `parquet.block.size`
    * so the effect is testable at spec scale (production leaves the
    * 128 MB default).
    */
  def sortedWrite(df: org.apache.spark.sql.DataFrame, sortCol: String,
      path: String, rowGroupBytes: Long = 128L * 1024 * 1024): Unit =
    df.sortWithinPartitions(sortCol)
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)

  /** Measured row-group-pruning evidence for PLANS.md and SourcesSpec:
    * write `lineitem` twice with tiny row groups — once sorted by
    * `l_orderkey`, once scrambled — run the same key-RANGE lookup
    * against both, and return (sorted, unsorted) scan-output row counts.
    * With parquet filter pushdown, the scan emits only rows surviving
    * row-group statistics + page-index pruning, so the sorted number is
    * a row-group's worth and the unsorted number approaches the table.
    * The probe is a RANGE on purpose: an exact-key point lookup is also
    * prunable on the UNSORTED layout via parquet dictionary filtering
    * (measured: 838 vs 419 rows at sf0.001) — min/max statistics are
    * what range predicates rely on, and only the sorted layout makes
    * them tight.
    */
  def rowGroupPruneStats(s: org.apache.spark.sql.SparkSession, dir: String): (Long, Long) = {
    val base = ScratchDirs.keyed("k2_sorted", dir)
    val li = graft.Tables(s, dir, "lineitem")
    sortedWrite(li, "l_orderkey", s"$base/sorted", rowGroupBytes = 32 * 1024)
    li.orderBy(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))))
      .write.mode("overwrite").option("parquet.block.size", (32 * 1024).toString)
      .parquet(s"$base/unsorted")
    val key = li.agg(min("l_orderkey")).collect()(0).getLong(0)
    def scanned(path: String): Long = {
      val q = s.read.parquet(path).filter(col("l_orderkey").between(key, key + 20))
      q.collect()
      graft.plans.PlanScans.fileScans(q.queryExecution.executedPlan)
        .map(_.metrics("numOutputRows").value).sum
    }
    (scanned(s"$base/sorted"), scanned(s"$base/unsorted"))
  }

  /** Per-row digest over all non-partition columns — identical text on
    * both engines (concat_ws casts the numeric columns to decimal strings
    * the same way in Spark and DuckDB).
    */
  private val rowFp = "md5(concat_ws('|', doc_id, source, n_chars, text))"

  val qs: Seq[Q] = Seq(
    Q("k1_export_roundtrip", Some(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(length(text)) AS BIGINT) AS chars_sum,
         |  min($rowFp) AS fp_min, max($rowFp) AS fp_max
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        // fixed hardened export dir per source sfDir (see [[ScratchDirs]]
        // for the keying and symlink/ownership rationale)
        val out = ScratchDirs.keyed("k1_export", dir)
        // sortWithinPartitions before the write: each output file's row
        // groups carry tight doc_id min/max stats, so later point/range
        // reads prune row groups (evidence: rowGroupPruneStats +
        // SourcesSpec; order does not change the audit, which is
        // order-free by construction). `lang` leads the sort so it
        // satisfies the file writer's required ordering for
        // partitionBy("lang") by prefix — otherwise the writer inserts
        // its OWN sort on lang alone, and once that sort spills its
        // merge is not stable, interleaving the doc_id runs and
        // silently widening every row group's min/max again.
        Tables(s, dir, "documents")
          .sortWithinPartitions("lang", "doc_id")
          .write.mode("overwrite").partitionBy("lang")
          .option("compression", "gzip").parquet(out)
        s.read.parquet(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").as("id_sum"),
            sum(length(col("text")).cast("long")).as("chars_sum"),
            min(expr(rowFp)).as("fp_min"),
            max(expr(rowFp)).as("fp_max"))
          .orderBy("lang")
      }),

    // JSONL sink/source round-trip (the interchange format every
    // LLM-corpus pipeline speaks): export `documents` as gzipped JSON
    // lines, read it back with an EXPLICIT schema — at 100 TB schema
    // inference would be a second full scan before the first real one —
    // and run the same order-free per-language digest audit as k1, which
    // DuckDB recomputes from the SOURCE table. Any row dropped or any
    // string mangled by the JSON escape/unescape cycle breaks fp_min/
    // fp_max. Same scale shape as k1: shuffle-free write, map-side
    // partial audit aggregation.
    Q("k5_jsonl_roundtrip", Some(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(length(text)) AS BIGINT) AS chars_sum,
         |  min($rowFp) AS fp_min, max($rowFp) AS fp_max
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val out = ScratchDirs.keyed("k5_jsonl", dir)
        val docs = Tables(s, dir, "documents")
        docs.write.mode("overwrite").option("compression", "gzip").json(out)
        s.read.schema(docs.schema).json(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").as("id_sum"),
            sum(length(col("text")).cast("long")).as("chars_sum"),
            min(expr(rowFp)).as("fp_min"),
            max(expr(rowFp)).as("fp_max"))
          .orderBy("lang")
      }),

    // CSV sink/source round-trip: RFC-4180 double-quote escaping on both
    // sides (Spark's default escape is backslash — a silent corruption
    // source against every other CSV reader), multiLine read so embedded
    // newlines survive, explicit schema for the same no-inference-scan
    // reason as k5. The k1 digest audit gates the quote/escape cycle.
    Q("k6_csv_roundtrip", Some(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(length(text)) AS BIGINT) AS chars_sum,
         |  min($rowFp) AS fp_min, max($rowFp) AS fp_max
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val out = ScratchDirs.keyed("k6_csv", dir)
        val docs = Tables(s, dir, "documents")
        docs.write.mode("overwrite")
          .option("header", "true").option("quote", "\"").option("escape", "\"")
          .option("compression", "gzip").csv(out)
        s.read.schema(docs.schema)
          .option("header", "true").option("quote", "\"").option("escape", "\"")
          .option("multiLine", "true").csv(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").as("id_sum"),
            sum(length(col("text")).cast("long")).as("chars_sum"),
            min(expr(rowFp)).as("fp_min"),
            max(expr(rowFp)).as("fp_max"))
          .orderBy("lang")
      }),

    // ORC sink/source round-trip: the second columnar format a
    // warehouse interop surface speaks (Hive-lineage pipelines read
    // ORC the way lakehouse stacks read parquet); zstd compression,
    // explicit-schema read-back (no inference scan). The oracle
    // recomputes the k1 digest audit from the SOURCE table — the sink
    // format is invisible to it, which is exactly the point: the
    // round-trip must be lossless or fp_min/fp_max break.
    Q("k10_orc_roundtrip", Some(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(length(text)) AS BIGINT) AS chars_sum,
         |  min($rowFp) AS fp_min, max($rowFp) AS fp_max
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val out = ScratchDirs.keyed("k10_orc", dir)
        val docs = Tables(s, dir, "documents")
        docs.write.mode("overwrite").option("compression", "zstd").orc(out)
        s.read.schema(docs.schema).orc(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").as("id_sum"),
            sum(length(col("text")).cast("long")).as("chars_sum"),
            min(expr(rowFp)).as("fp_min"),
            max(expr(rowFp)).as("fp_max"))
          .orderBy("lang")
      }),

    // k7 — partition-scoped UPSERT on plain parquet: the "MERGE without
    // a table format" pattern an ETL pipeline runs when there is no
    // Delta/Iceberg log — dynamic partition overwrite
    // (`partitionOverwriteMode=dynamic`) replaces ONLY the partitions
    // present in the written batch, so merging an update batch means:
    // rewrite the touched months (base rows anti-joined on the updated
    // keys, union the batch), leave every other partition's files
    // untouched on disk (SourcesSpec asserts byte-identical untouched
    // files). The batch is derived ABSOLUTELY from the source table
    // (March-1995 gets price+1000; a fixed key-shifted slice lands in a
    // brand-new 2002-01 month), so re-running the upsert is idempotent
    // — the write converges instead of compounding, which is also what
    // makes the audit driver-oracled: DuckDB recomputes the merged
    // state relationally from the source. Scale shape: work is
    // proportional to TOUCHED partitions, never table size; the merged
    // batch is localCheckpointed because V1 refuses to overwrite a path
    // it is also reading (at 100 TB: stage to a temp prefix, or persist
    // the touched slice — same idea, the untouched 99% is never read or
    // written).
    // k8 — small-file compaction, the table-maintenance pass every
    // 100 TB warehouse schedules: a 64-shard fragmented copy of
    // `documents` is merged down to ceil(bytes/target) files via
    // `coalesce` — NO shuffle, source splits are glued onto output
    // tasks, bytes move exactly once — and the k1 digest audit reads
    // the compacted copy back against the source table through the
    // oracle (row loss or duplication breaks the hash). SourcesSpec
    // pins the file count actually shrinking and the no-exchange plan.
    Q("k8_compact_small_files", Some(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(length(text)) AS BIGINT) AS chars_sum,
         |  min($rowFp) AS fp_min, max($rowFp) AS fp_max
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => compactSmallFiles(s, dir)),

    Q("k7_upsert_dynamic", Some(
      s"""WITH m AS (
         |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS o_month,
         |         CASE WHEN strftime(o_orderdate, '%Y-%m') = '1995-03'
         |              THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, '2002-01', o_totalprice
         |  FROM orders WHERE o_orderkey < 100)
         |SELECT o_month, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  ${Dec.sqlSum("price")} AS price_sum
         |FROM m GROUP BY o_month ORDER BY o_month""".stripMargin),
      (s, dir) => upsertDynamic(s, dir))
  )

  /** k8 — small-file compaction (see the Q below). Returns the audit
    * DataFrame; exposed so SourcesSpec can inspect the file counts.
    */
  def compactSmallFiles(s: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 4L * 1024 * 1024): org.apache.spark.sql.DataFrame = {
    // every exists/listing below goes through the scheme-aware Hadoop
    // FileSystem API (StoreFs) — table maintenance must run where the
    // table lives (HDFS/object store), not assume a local disk
    val fsys = StoreFs.fs(s, dir)
    val src = fsys.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))
    val base = ScratchDirs.keyed(
      s"k8_compact_${src.getLen}_${src.getModificationTime}", dir)
    val frag = s"$base/fragmented"
    val comp = s"$base/compacted"
    // the scratch base may live on a different scheme than the source dir
    val bfs = StoreFs.fs(s, base)
    // stage the small-file mess once per source generation: 64 shards of
    // a table that fits in a handful of files
    if (!StoreFs.exists(bfs, s"$frag/_SUCCESS"))
      Tables(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(frag)
    // size the output from the INPUT bytes (a metadata listing, not a
    // data scan) and merge WITHOUT a shuffle: coalesce glues source
    // splits onto nOut tasks — compaction moves bytes once, through no
    // exchange. repartition would shuffle every row to "balance" files
    // that only needed concatenating.
    val totalBytes = StoreFs.parquetFiles(bfs, frag).map(_._2).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    s.read.parquet(frag).coalesce(nOut)
      .write.mode("overwrite").parquet(comp)
    // k1's order-free digest audit, read back from the COMPACTED copy:
    // any row lost or duplicated by the rewrite breaks the hash match
    s.read.parquet(comp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("id_sum"),
        sum(length(col("text")).cast("long")).as("chars_sum"),
        min(expr(rowFp)).as("fp_min"),
        max(expr(rowFp)).as("fp_max"))
      .orderBy("lang")
  }

  /** See the k7 Q above. Split out so SourcesSpec can re-run the upsert
    * and inspect the on-disk layout between runs.
    */
  def upsertDynamic(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val src = StoreFs.fs(s, dir).getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/orders.parquet"))
    val base = ScratchDirs.keyed(
      s"k7_upsert_${src.getLen}_${src.getModificationTime}", dir) + "/orders_by_month"
    val orders = Tables(s, dir, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    // Cluster by the partition column before BOTH partitioned writes
    // (round 15, guide §6 "coalesce on write"): without it every input
    // partition opens a writer per month it touches — 32 × ~85 ≈ 2,700
    // near-empty files whose listing+open cost dominated the audit
    // read-back and every later touched-month read (k7 measured 3.3 s;
    // the same audit over month-clustered files reads ~85).
    // REBALANCE, not repartition(col) (round 16, ADVICE r15): a plain
    // repartition(o_month) hashes each month to exactly ONE task, and
    // AQE's OptimizeSkewInRebalancePartitions only splits REBALANCE-
    // origin partitions — so at 100 TB a hot month would funnel through
    // a single writer. The rebalance hint keeps the ~one-file-per-month
    // clustering (AQE coalesces small months) while letting a skewed
    // month split across writers.
    if (!StoreFs.exists(StoreFs.fs(s, base), s"$base/_SUCCESS"))
      orders.hint("rebalance", col("o_month"))
        .write.mode("overwrite").partitionBy("o_month").parquet(base)
    val dateType = orders.schema("o_orderdate").dataType
    val updates = orders.filter(col("o_month") === "1995-03")
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = orders.filter(col("o_orderkey") < 100)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      .withColumn("o_orderdate", lit("2002-01-15 00:00:00").cast(dateType))
      .withColumn("o_month", lit("2002-01"))
    val batch = updates.unionByName(inserts)
    val touched = Seq("1995-03", "2002-01")
    val merged = s.read.parquet(base)
      .filter(col("o_month").isin(touched: _*))
      .join(batch.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(batch.select(s.read.parquet(base).columns.map(col): _*))
      .localCheckpoint() // V1 cannot overwrite a path it also reads
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "dynamic")
    try merged.hint("rebalance", col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(base)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    s.read.parquet(base)
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        Dec.dsum(col("o_totalprice")).as("price_sum"))
      .select(col("o_month").cast("string").as("o_month"),
        col("n"), col("key_sum"), col("price_sum"))
      .orderBy("o_month")
  }
}
