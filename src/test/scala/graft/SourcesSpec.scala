package graft

import graft.etl.{EventPipelines, EventTables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scan/sink operators that don't fit the oracle harness (SURVEY.md §2.1
  * S5/S7, §2.2 K1/K2, §2.8 T10, §2.7 R3): schema-merged multi-file scans,
  * manifest-driven file lists, partitioned writes with pruning, batch
  * concat with batch-index prepend, and wrap-around local iteration.
  */
class SourcesSpec extends AnyFunSuite with SparkSuite {

  test("S7: mergeSchema multi-file scan unions schemas across files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge").toString
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/part1")
    Seq((2L, 3.5)).toDF("id", "b").write.parquet(s"$dir/part2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/part1", s"$dir/part2")
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"))
    assert(merged.count() == 2)
    val r1 = merged.filter(col("id") === 1).collect()(0)
    assert(r1.getAs[String]("a") == "x" && r1.isNullAt(r1.fieldIndex("b")))
  }

  test("S5: manifest file-list source resolution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest").toString
    Seq(1, 2).toDF("v").write.parquet(s"$dir/f1")
    Seq(3).toDF("v").write.parquet(s"$dir/f2")
    Seq(99).toDF("v").write.parquet(s"$dir/excluded")
    val manifest = s"$dir/files.txt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(manifest), s"$dir/f1\n$dir/f2\n")
    val paths = scala.io.Source.fromFile(manifest).getLines().filter(_.nonEmpty).toSeq
    val df = spark.read.parquet(paths: _*)
    assert(df.agg(sum("v")).collect()(0).getLong(0) == 6L)
  }

  test("K1/K2 + partition pruning: partitionBy write, pruned read") {
    val out = java.nio.file.Files.createTempDirectory("pwrite").toString
    val ev = EventTables.spacepoints(spark, nEvents = 4, nPoints = 100)
    val vox = EventPipelines.voxelize(spark, ev, voxelSizeCm = 10.0)
    vox.write.mode("overwrite").partitionBy("event")
      .option("compression", "snappy").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == vox.count())
    // partition filter must prune at the source, not post-scan
    val one = back.filter(col("event") === 2L)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event"), plan)
    assert(one.count() == vox.filter(col("event") === 2L).count())
  }

  test("s9: dynamic partition pruning — dim filter drives fact directory pruning") {
    val (factDir, dimDir) = sources.LayoutOps.partitionedEventsLayout(spark, sf)
    val q = sources.LayoutOps.weekendStar(spark, factDir, dimDir)
    // the weekend predicate lives on the DIM only; it must reach the fact
    // scan as a runtime dynamicpruning# subquery in PartitionFilters —
    // not as a post-join filter over all 30 directories
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning#"),
      s"no dynamicpruning subquery in fact scan:\n$plan")
    // and it must actually PRUNE: January 2024 has 8 weekend days of 30
    q.collect()
    // descend through AQE wrappers and query stages to the real scans
    val scans = plans.PlanScans.fileScans(q.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(scans.nonEmpty, "no partitioned fact scan found")
    val partsRead = scans.head.metrics("numPartitions").value
    assert(partsRead == 8, s"fact scan read $partsRead partitions, expected 8 weekend days")
    // result parity with the unpartitioned direct computation
    val direct = Tables(spark, sf, "events")
      .filter(dayofweek(col("ts").cast("date")).isin(1, 7))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == direct, s"star result $got != direct $direct")
  }

  test("sorted-write layout: row-group stats prune the point lookup, unsorted layout reads all") {
    val (sortedRows, unsortedRows) = etl.SinkOps.rowGroupPruneStats(spark, sf)
    val total = Tables(spark, sf, "lineitem").count()
    // sorted: the lookup key lives in one narrow row group per file —
    // the scan must emit a small fraction of the table
    assert(sortedRows < total / 4,
      s"sorted layout scanned $sortedRows of $total — row groups not pruned")
    // unsorted: every row group spans the full key range; stats prune
    // (almost) nothing
    assert(unsortedRows > sortedRows * 2,
      s"unsorted $unsortedRows vs sorted $sortedRows — no pruning advantage measured")
  }

  test("T10: batch concat with batch-index prepend (collate analog)") {
    import spark.implicits._
    val batches = (0 until 3).map { ib =>
      Seq.fill(5)(ib * 10).toDF("v").withColumn("batch", lit(ib.toLong))
    }
    val collated = batches.reduce(_ union _)
    assert(collated.count() == 15)
    val perBatch = collated.groupBy("batch").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 5L, 1L -> 5L, 2L -> 5L))
  }

  test("R3: sequential wrap-around iteration via toLocalIterator") {
    val df = Tables(spark, sf, "orders").select("o_orderkey").orderBy("o_orderkey").limit(10)
    val n = df.count().toInt
    val it = Iterator.continually(df.toLocalIterator().asScala).flatten
    val twoEpochs = it.take(2 * n).map(_.getLong(0)).toSeq
    assert(twoEpochs.take(n) == twoEpochs.drop(n)) // wraps deterministically
  }

  test("k7 dynamic upsert rewrites only touched partitions; re-upsert is idempotent") {
    // settle the layout (bootstrap + first merge), snapshot the on-disk
    // files of an untouched month and a touched one, re-run the upsert:
    // the untouched month's files must be BYTE-IDENTICAL (same names,
    // same mtimes — dynamic overwrite never visited them), the touched
    // month must carry fresh part files, the brand-new month must exist,
    // and the audit output must converge (idempotent merge).
    val first = etl.SinkOps.upsertDynamic(spark, sf).collect()
    val src = new java.io.File(s"$sf/orders.parquet")
    val base = new java.io.File(graft.etl.ScratchDirs.keyed(
      s"k7_upsert_${src.length()}_${src.lastModified()}", sf), "orders_by_month")
    def files(month: String): Map[String, Long] = {
      val d = new java.io.File(base, s"o_month=$month")
      assert(d.isDirectory, s"$d missing")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedBefore = files("1996-01")
    val touchedBefore = files("1995-03")
    val second = etl.SinkOps.upsertDynamic(spark, sf).collect()
    assert(files("1996-01") == untouchedBefore,
      "dynamic overwrite rewrote an untouched partition")
    assert(files("1995-03").keySet != touchedBefore.keySet,
      "touched partition was not rewritten")
    assert(new java.io.File(base, "o_month=2002-01").isDirectory,
      "insert-only month missing")
    assert(first.map(_.toString).sameElements(second.map(_.toString)),
      "re-upsert changed the merged state — not idempotent")
  }

  test("k7 partitioned writes leave one file per month") {
    // the rebalance hint clusters each month into one writer task, for
    // the bootstrap write and the dynamic overwrite of touched months
    etl.SinkOps.upsertDynamic(spark, sf).collect()
    val src = new java.io.File(s"$sf/orders.parquet")
    val base = new java.io.File(graft.etl.ScratchDirs.keyed(
      s"k7_upsert_${src.length()}_${src.lastModified()}", sf), "orders_by_month")
    val months = base.listFiles().filter(_.getName.startsWith("o_month="))
    val want = Tables(spark, sf, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM")).distinct().count() + 1 // + 2002-01
    assert(months.length == want, s"${months.length} month directories, want $want")
    months.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getName} holds $n files")
    }
  }

  test("k8 compaction shrinks the file count without shuffling and preserves content") {
    val audit = etl.SinkOps.compactSmallFiles(spark, sf)
    // the compaction write is coalesce-only: no Exchange in its plan —
    // pin it on the same audit plan's read side being exchange-bounded
    // is k1's job; here assert the LAYOUT: fragmented 64 files, compacted
    // far fewer, same digest audit as the source table
    val src = new java.io.File(s"$sf/documents.parquet")
    val base = new java.io.File(graft.etl.ScratchDirs.keyed(
      s"k8_compact_${src.length()}_${src.lastModified()}", sf))
    def nFiles(sub: String): Int =
      Option(new java.io.File(base, sub).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    assert(nFiles("fragmented") == 64, s"staging produced ${nFiles("fragmented")} files")
    assert(nFiles("compacted") < 8,
      s"compaction left ${nFiles("compacted")} files")
    // content equality: digest audit of compacted == digest audit of source
    val fromSource = graft.Tables(spark, sf, "documents")
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromCompacted = audit.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromCompacted == fromSource, "compacted row counts differ from source")
  }

  test("s9b: one plan prunes BOTH layers — DPP directories + z-slab files/row groups") {
    // sf0.001 has only 15 distinct users, so the measured probe uses a
    // threshold proportionate to THIS sf (user_id < 2 ≈ the bottom
    // 13% — the production query's user_id < 10 means 6.7% at the
    // driver's sf0.01); the pruning mechanics are identical.
    val maxUser = 2L
    val (factDir, dimDir) = sources.LayoutOps.partitionedZorderLayout(spark, sf)
    val q = sources.LayoutOps.weekendUserStar(spark, factDir, dimDir, maxUser)
    val plan = q.queryExecution.executedPlan.toString
    // layer 1: the dim's weekend filter reaches the fact scan as a
    // runtime dynamicpruning# PartitionFilter
    assert(plan.contains("dynamicpruning#"),
      s"no dynamicpruning subquery in fact scan:\n$plan")
    // and the fact-side user predicate reaches the scan as a pushed
    // parquet filter, not a post-scan residual only
    assert(plan.contains(s"LessThan(user_id,$maxUser)"), s"user_id not pushed:\n$plan")
    q.collect()
    val scans = plans.PlanScans.fileScans(q.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(scans.nonEmpty, "no partitioned fact scan found")
    // layer 1 measured: 8 weekend directories of 30
    assert(scans.head.metrics("numPartitions").value == 8)
    // layer 2 measured: inside the weekend directories, each z-slab
    // file pins the top user-rank bit, so a far-below-median user
    // predicate must skip the upper-half slabs — the scan emits well
    // under the full weekend row count
    val weekendRows = Tables(spark, sf, "events")
      .filter(dayofweek(col("ts").cast("date")).isin(1, 7)).count()
    val scanned = scans.map(_.metrics("numOutputRows").value).sum
    assert(scanned < (weekendRows * 0.7).toLong,
      s"scan emitted $scanned of $weekendRows weekend rows — no row-group/file pruning")
    // result parity with the direct computation on the source table
    val direct = Tables(spark, sf, "events")
      .filter(dayofweek(col("ts").cast("date")).isin(1, 7) && col("user_id") < maxUser)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == direct, s"composed star $got != direct $direct")
  }

  test("K5 robustness: corrupt JSONL lines quarantine without touching good rows") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // stage a JSONL export of documents, then plant malformed lines —
    // the crawl-ingest reality a PERMISSIVE reader must survive
    val out = java.nio.file.Files.createTempDirectory("k5_corrupt").toString
    val docs = Tables(spark, sf, "documents")
    docs.write.mode("overwrite").json(s"$out/clean")
    val part = new java.io.File(s"$out/clean").listFiles()
      .filter(_.getName.endsWith(".json")).head
    val planted = Seq(
      """{"doc_id": 900001, "text": "truncated""",
      """not json at all""",
      """{"doc_id": "not-a-number-for-a-long-field?", "n_chars": []}""")
    val all = java.nio.file.Files.readString(part.toPath) +
      planted.mkString("", "\n", "\n")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$out/dirty"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/dirty/part.json"), all)
    val schema = StructType(docs.schema.fields :+
      StructField("_corrupt_record", StringType))
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$out/dirty").cache()
    // quarantine catches the malformed lines (the type-mismatch row is
    // corrupt too under the declared long schema)...
    val bad = back.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() == 3, s"expected 3 quarantined rows, got ${bad.count()}")
    // ...and the clean rows survive byte-exact: same per-lang counts and
    // doc_id sums as the source table
    val good = back.filter(col("_corrupt_record").isNull)
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("doc_id").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val src = docs.groupBy("lang").agg(count(lit(1)).as("n"), sum("doc_id").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(good == src, "good rows were altered by the corrupt-record pass")
    back.unpersist()
  }

  test("k9b: a pinned manifest version is isolated from later appends") {
    val (dataDir, m1, m2) = sources.LayoutOps.snapshotLayout(spark, sf)
    val filesV1 = spark.read.parquet(m1).count()
    val filesV2 = spark.read.parquet(m2).count()
    val onDisk = new java.io.File(dataDir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    // v2 appended real files into the SAME directory...
    assert(filesV2 > filesV1, s"v2 manifest ($filesV2) not larger than v1 ($filesV1)")
    assert(onDisk == filesV2, s"$onDisk files on disk vs $filesV2 in v2 manifest")
    // ...yet the v1 reader sees exactly the v1 snapshot: the lower key half
    val li = Tables(spark, sf, "lineitem")
    val r = li.agg(min("l_orderkey"), max("l_orderkey")).collect()(0)
    val cut = (r.getLong(0) + r.getLong(1)) / 2
    val v1Rows = sources.LayoutOps.readSnapshot(spark, m1).count()
    assert(v1Rows == li.filter(col("l_orderkey") < cut).count(),
      "v1 snapshot read does not equal the lower key half")
    assert(sources.LayoutOps.readSnapshot(spark, m2).count() == li.count(),
      "v2 snapshot read does not equal the full table")
  }

  test("k9: manifest pruning reads only key-overlapping files") {
    val (dataDir, manifestDir) = sources.LayoutOps.manifestLayout(spark, sf)
    val allFiles = spark.read.parquet(manifestDir).count()
    assert(allFiles == 16, s"manifest should carry 16 files, has $allFiles")
    val picked = sources.LayoutOps.manifestSelect(spark, manifestDir, 100L, 500L)
    // a 400-key probe of the 0..~1500 key space at sf0.001 overlaps ~5
    // of the 16 range files; at the driver's sf0.01 (0..15000 keys)
    // it's 1 — either way the manifest must exclude the majority
    assert(picked.nonEmpty && picked.length <= allFiles / 2,
      s"manifest selected ${picked.length} of $allFiles files")
    // the pruned read computes the same answer as the full-table scan
    val pruned = spark.read.parquet(picked.toIndexedSeq: _*)
      .filter(col("l_orderkey").between(100, 500)).count()
    val full = Tables(spark, sf, "lineitem")
      .filter(col("l_orderkey").between(100, 500)).count()
    assert(pruned == full, s"pruned count $pruned != full $full")
  }

  private implicit class RichJIterator[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}
