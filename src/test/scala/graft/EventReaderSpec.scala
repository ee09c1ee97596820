package graft

import graft.api.EventReader
import graft.etl.EventTables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventReaderSpec extends AnyFunSuite with SparkSuite {

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("reader").toString
    EventTables.spacepoints(spark, nEvents = 6, nPoints = 30)
      .write.mode("overwrite").parquet(s"$dir/events")
    s"$dir/events"
  }

  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString

  /** 12 events over two runs and three subruns, event numbers repeating
    * across them and not in key order, written unsorted into 3 files of
    * ~8 KB rows.
    */
  private lazy val mixed: String = {
    val dir = tmp("reader-mixed")
    EventTables.spacepoints(spark, nEvents = 12, nPoints = 200)
      .withColumn("run", col("event") % 2 + 1).withColumn("subrun", (col("event") / 2).cast("long") % 3)
      .withColumn("event", lit(100L) - (col("event") / 4).cast("long"))
      .repartition(3).write.parquet(s"$dir/events")
    s"$dir/events"
  }

  private def keyOf(x: org.apache.spark.sql.Row) =
    (x.getAs[Long]("run"), x.getAs[Long]("subrun"), x.getAs[Long]("event"))

  private lazy val mixedKeys = spark.read.parquet(mixed).collect().map(keyOf).toSeq.sorted

  /** Shuffle bytes written by the jobs `body` runs in job group `group`. */
  private def shuffleBytesIn(group: String)(body: => Unit): Long = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          e.stageIds.foreach(stages.add(_)); jobs.put(e.jobId, false)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.containsKey(e.jobId)) jobs.put(e.jobId, true)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      jobsIn(group)(body)
      // events reach the listener asynchronously: wait for every job's end
      var waited = 0
      while ((jobs.isEmpty || jobs.containsValue(false)) && waited < 5000) { Thread.sleep(50); waited += 50 }
      bytes.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("count, index access, and key access agree") {
    val r = new EventReader(spark, path)
    assert(r.nentries == 6)
    val e2 = r.getEntry(2L).get
    assert(e2.getAs[Long]("event") == 2L)
    val byKey = r.getEntry(1L, 0L, 2L).get
    assert(byKey.getAs[Long]("event") == 2L)
    assert(r.getEntry(99L, 0L, 0L).isEmpty)
  }

  test("column projection prunes the schema") {
    val r = new EventReader(spark, path, columns = Some(Seq("run", "subrun", "event")))
    assert(r.df.columns.toSeq == Seq("run", "subrun", "event"))
  }

  test("sampling retries to a row; partition slices cover all entries once") {
    val r = new EventReader(spark, path)
    assert(r.sampleEntry().schema.fieldNames.contains("spacepoint_t"))
    val slices = (0 until 3).map(w => r.partitionSlice(w, 3).count()).sum
    assert(slices == r.nentries)
  }

  test("entry indexing plans contain no global window (single-reducer sort)") {
    val r = new EventReader(spark, path)
    val plan = r.partitionSlice(0, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window in plan:\n$plan")
    // slices partition the deterministic entry order: concatenating the
    // slices in worker order reproduces the sorted key sequence exactly
    val sliceEvents = (0 until 3).flatMap(w =>
      r.partitionSlice(w, 3).collect().map(x =>
        (x.getAs[Long]("run"), x.getAs[Long]("subrun"), x.getAs[Long]("event"))))
    assert(sliceEvents == sliceEvents.sorted)
  }

  test("epoch iteration is deterministic; seeded shuffle permutes") {
    val r = new EventReader(spark, path)
    val plain = r.epoch().map(_.getAs[Long]("event")).toSeq
    assert(plain == plain.sorted)
    val shuf1 = r.epoch(Some(7L)).map(_.getAs[Long]("event")).toSeq
    val shuf2 = r.epoch(Some(7L)).map(_.getAs[Long]("event")).toSeq
    assert(shuf1 == shuf2)
    assert(shuf1.sorted == plain)
  }

  test("slices for n = 1, n = nentries and n > nentries: each entry once, in key order, empty tails") {
    val r = new EventReader(spark, mixed)
    val n = mixedKeys.size
    for (workers <- Seq(1, n, n + 5)) {
      val slices = (0 until workers).map(w => r.partitionSlice(w, workers).collect().map(keyOf).toSeq)
      assert(slices.flatten == mixedKeys, s"$workers workers")
      assert(slices.drop(n).forall(_.isEmpty), s"$workers workers: tail slices not empty")
    }
  }

  test("getEntry past the last entry is None") {
    val r = new EventReader(spark, mixed)
    assert(r.getEntry(mixedKeys.size - 1L).map(keyOf).contains(mixedKeys.last))
    assert(r.getEntry(mixedKeys.size.toLong).isEmpty)
    assert(r.getEntry(1000L).isEmpty)
  }

  test("epoch: unseeded is the key order; seeded is one deterministic permutation") {
    assert(new EventReader(spark, mixed).epoch().map(keyOf).toSeq == mixedKeys)
    val a = new EventReader(spark, mixed).epoch(Some(11L)).map(keyOf).toSeq
    val b = new EventReader(spark, mixed).epoch(Some(11L)).map(keyOf).toSeq
    assert(a == b)
    assert(a.sorted == mixedKeys && a != mixedKeys)
    assert(new EventReader(spark, mixed).epoch(Some(12L)).map(keyOf).toSeq != a)
  }

  test("duplicate event keys fail the index build, naming the key") {
    val dir = tmp("reader-dup")
    EventTables.spacepoints(spark, nEvents = 4, nPoints = 10)
      .withColumn("event", when(col("event") === 3, 1L).otherwise(col("event")))
      .write.parquet(s"$dir/events")
    val e = intercept[IllegalStateException](new EventReader(spark, s"$dir/events").getEntry(0L))
    assert(e.getMessage.contains("(1, 0, 1)"), e.getMessage)
  }

  test("building the index shuffles keys, not tensors") {
    val r = new EventReader(spark, mixed)
    val bytes = shuffleBytesIn("reader-index")(r.getEntry(0L))
    assert(bytes > 0 && bytes < 100L * mixedKeys.size, s"$bytes shuffle bytes for ${mixedKeys.size} entries")
  }

  test("slices push their key sets to parquet; int-typed key columns read the same entries") {
    val plan = new EventReader(spark, mixed).partitionSlice(1, 4).queryExecution.executedPlan.toString
    assert(Seq("In(run,", "In(subrun,", "In(event,").forall(plan.contains), plan)
    val dir = tmp("reader-int")
    spark.read.parquet(mixed).withColumn("run", col("run").cast("int"))
      .withColumn("subrun", col("subrun").cast("int")).withColumn("event", col("event").cast("int"))
      .write.parquet(s"$dir/events")
    val r = new EventReader(spark, s"$dir/events")
    def key(x: org.apache.spark.sql.Row) = (x.getAs[Int]("run").toLong, x.getAs[Int]("subrun").toLong, x.getAs[Int]("event").toLong)
    assert((0 until 3).flatMap(w => r.partitionSlice(w, 3).collect().map(key)) == mixedKeys)
    assert(r.getEntry(4L).map(key).contains(mixedKeys(4)))
    assert(r.epoch(Some(3L)).map(key).toSeq.sorted == mixedKeys)
  }
}
