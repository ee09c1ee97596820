package graft

import graft.etl.{EventPipelines, EventTables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's own invariants, ported as tests (SURVEY.md §5):
  * duplicate-voxel audit, majority-vote tie-breaking, ghost filtering,
  * shape-law consistency of the re-encoded instance table.
  */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  test("voxelize: no duplicate voxel coordinates per event (A3 invariant)") {
    val ev = EventTables.spacepoints(spark, nEvents = 3, nPoints = 200)
    val vox = EventPipelines.voxelize(spark, ev, voxelSizeCm = 10.0)
    val dups = vox.groupBy("run", "subrun", "event", "vx", "vy", "vz")
      .count().filter(col("count") > 1).count()
    assert(dups == 0)
    assert(vox.count() > 0)
  }

  test("voxelize: only non-ghost points contribute") {
    val ev = EventTables.spacepoints(spark, nEvents = 2, nPoints = 100)
    val long = EventPipelines.spacepointsLong(spark, ev)
    val trueCount = long.filter(col("truetriplet") === 1).count()
    val voxPoints = EventPipelines.voxelize(spark, ev, voxelSizeCm = 10.0)
      .agg(sum("npts")).collect()(0).getLong(0)
    assert(voxPoints == trueCount)
  }

  test("law: the one-aggregation voxelize equals the retained window form") {
    import spark.implicits._
    // random events in a small box, so voxels hold several points and
    // segment votes tie often; labels are never null
    val prop = Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rng = new scala.util.Random(seed)
      val ev = (0 until 1 + rng.nextInt(3)).map { e =>
        val n = rng.nextInt(60)
        def labels(k: Int) = Array.fill(n)(rng.nextInt(k).toLong)
        EventTables.SpacepointEvent(1L, 0L, e.toLong,
          Array.fill(4 * n)(rng.nextFloat() * 30f), Array(n.toLong, 4L),
          labels(3).map(t => math.min(t, 1L)), Array(n.toLong), labels(4), Array(n.toLong),
          labels(5), Array(n.toLong))
      }.toDF()
      def rows(df: DataFrame) = df.collect().map(r => (0 until 6).map(r.getLong) -> r).toMap
      val got = rows(EventPipelines.voxelize(spark, ev, voxelSizeCm = 10.0))
      val want = rows(RetainedForms.voxelizeByWindow(spark, ev, voxelSizeCm = 10.0))
      got.keySet == want.keySet && got.forall { case (k, g) =>
        val w = want(k)
        // npts and the vote bit-identical; charge up to summation order
        g.getLong(6) == w.getLong(6) && g.getLong(8) == w.getLong(8) &&
          math.abs(g.getDouble(7) - w.getDouble(7)) <= 1e-9 * math.abs(w.getDouble(7))
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10).withInitialSeed(29L), prop)
    assert(res.passed, res.status.toString)
  }

  test("instanceTableCC: the event index counts only events with a non-ghost voxel") {
    import spark.implicits._
    def ev(event: Long, label: Long) = EventTables.VoxelEvent(1L, 0L, event,
      Array(0L, 0L, 0L, 0L, 0L, 1L), Array(2L, 3L), Array.fill(6)(1f), Array(2L, 3L),
      Array(label, label), Array(2L), Array(3L, 3L), Array(2L), Array(0L, 0L), Array(2L))
    // event 5 is all ghosts, so event 7 is the first indexed event
    val inst = EventPipelines.instanceTableCC(spark, Seq(ev(5L, 0L), ev(7L, 1L)).toDF()).collect()
    assert(inst.map(r => (r.getAs[Long]("event"), r.getAs[Long]("instance"))).toSeq == Seq((7L, 1L << 33)))
  }

  test("instance table: majority label with lowest-label tie-break") {
    import spark.implicits._
    // one event, one instance, ssnet labels {5,5,2,2,9}: counts tie 5 vs 2
    // → np.argmax(np.bincount) picks 2 (lowest), 9 loses.
    val vox = Seq(EventTables.VoxelEvent(
      1L, 0L, 7L,
      Array(0L, 0L, 0L, 1L, 1L, 1L, 2L, 2L, 2L, 3L, 3L, 3L, 4L, 4L, 4L), Array(5L, 3L),
      Array.fill(15)(1f), Array(5L, 3L),
      Array(1L, 1L, 1L, 1L, 1L), Array(5L),
      Array(5L, 5L, 2L, 2L, 9L), Array(5L),
      Array(3L, 3L, 3L, 3L, 3L), Array(5L))).toDF()
    val inst = EventPipelines.instanceTable(spark, vox).collect()
    assert(inst.length == 1)
    val r = inst(0)
    assert(r.getAs[Long]("label") == 2L)
    assert(r.getAs[Long]("instance") == 3L)
  }

  test("law: the one-aggregation instance table equals the retained vote-join form") {
    import spark.implicits._
    // random long views: few events and instances so votes tie often
    val prop = Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rng = new scala.util.Random(seed)
      val long = (0 until 1 + rng.nextInt(3)).flatMap { ev =>
        (0 until 1 + rng.nextInt(40)).map { i =>
          (1L, 0L, ev.toLong, i, rng.nextInt(9).toDouble, rng.nextInt(9) - 117.0,
            rng.nextInt(9).toDouble, rng.nextInt(3).toLong, rng.nextInt(4).toLong)
        }
      }.toDF("run", "subrun", "event", "i", "x", "y", "z", "ssnet", "instance")
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      rows(EventPipelines.aggregateInstances(long)) == rows(RetainedForms.aggregateInstancesByJoin(long))
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10).withInitialSeed(23L), prop)
    assert(res.passed, res.status.toString)
  }

  test("instance table: ghost filter + shape law + y-shift") {
    val vox = EventTables.voxels(spark, nEvents = 2, nVox = 80)
    val inst = EventPipelines.instanceTable(spark, vox)
    // shape law: flat length == 3 × first-axis extent
    val bad = inst.filter(
      size(col("instvoxcoord")) =!= element_at(col("instvoxcoord_shape"), 1) * 3).count()
    assert(bad == 0)
    // member count equals surviving (non-ghost) voxels
    val total = inst.agg(sum(element_at(col("instvoxcoord_shape"), 1))).collect()(0).getLong(0)
    val longRows = {
      vox.createOrReplaceTempView("ps_vox")
      spark.sql(
        """SELECT element_at(voxlabel, t.idx + 1) AS vl FROM ps_vox
          |LATERAL VIEW tensor_explode(voxcoord, voxcoord_shape) t AS idx, slice""".stripMargin)
        .filter(col("vl") === 1).count()
    }
    assert(total == longRows)
    // y-shift: all y values within [-117-234, 117] after −117 shift of a
    // [0,234) coordinate → y ∈ [-117, 117)
    val yRange = inst.select(explode(
      transform(sequence(lit(0L), element_at(col("instvoxcoord_shape"), 1) - 1),
        i => element_at(col("instvoxcoord"), (i * 3 + 2).cast("int")))).as("y"))
      .agg(min("y"), max("y")).collect()(0)
    assert(yRange.getDouble(0) >= -117.0 && yRange.getDouble(1) < 117.0)
  }

  test("instanceTableCC: derived instances equal an independent flood fill, labels majority-voted") {
    val voxEvents = EventTables.voxels(spark, nEvents = 2, nVox = 250)
    // independent ground truth: per event, BFS flood fill over the
    // non-ghost cells with 6-neighborhood adjacency — a different
    // algorithm (dense queue walk) from the pointer-jumping CC
    val raw = voxEvents.collect().map { r =>
      val ev = r.getAs[Long]("event")
      val coords = r.getAs[scala.collection.Seq[Long]]("voxcoord")
      val label = r.getAs[scala.collection.Seq[Long]]("voxlabel")
      val ssnet = r.getAs[scala.collection.Seq[Long]]("voxssnet")
      val cells = (0 until label.length).filter(label(_) == 1L)
        .map(i => (coords(i * 3), coords(i * 3 + 1), coords(i * 3 + 2)) ->
          ssnet(i)).toMap
      ev -> cells
    }.toMap
    def floodFill(cells: Set[(Long, Long, Long)]): Set[Set[(Long, Long, Long)]] = {
      val remaining = scala.collection.mutable.Set.from(cells)
      val comps = scala.collection.mutable.Buffer.empty[Set[(Long, Long, Long)]]
      while (remaining.nonEmpty) {
        val seed = remaining.head
        val queue = scala.collection.mutable.Queue(seed)
        val comp = scala.collection.mutable.Set.empty[(Long, Long, Long)]
        remaining -= seed
        while (queue.nonEmpty) {
          val c @ (x, y, z) = queue.dequeue()
          comp += c
          for (n <- Seq((x + 1, y, z), (x - 1, y, z), (x, y + 1, z),
            (x, y - 1, z), (x, y, z + 1), (x, y, z - 1)) if remaining(n)) {
            remaining -= n; queue += n
          }
        }
        comps += comp.toSet
      }
      comps.toSet
    }
    val got = EventPipelines.instanceTableCC(spark, voxEvents).collect()
    val gotByEvent = got.groupBy(_.getAs[Long]("event"))
    assert(gotByEvent.keySet == raw.keySet)
    gotByEvent.foreach { case (ev, rows) =>
      val members = rows.map { r =>
        val flat = r.getAs[scala.collection.Seq[Double]]("instvoxcoord")
        val pts = flat.grouped(3).map(p =>
          (p(0).toLong, (p(1) + 117.0).round, p(2).toLong)).toSet
        pts -> r.getAs[Long]("label")
      }.toMap
      val expected = floodFill(raw(ev).keySet)
      assert(members.keySet == expected,
        s"event $ev: CC partition differs from the flood fill")
      // majority ssnet per component, lowest label on count ties
      members.foreach { case (pts, gotLabel) =>
        val wantLabel = pts.toSeq.map(raw(ev)).groupBy(identity)
          .map { case (l, g) => (l, g.size) }.toSeq
          .minBy { case (l, n) => (-n, l) }._1
        assert(gotLabel == wantLabel,
          s"event $ev: component label $gotLabel != majority $wantLabel")
      }
    }
  }

  test("triplet join: three-plane coincidence with ADC threshold") {
    import spark.implicits._
    def plane(seed: Int) = {
      val rng = new scala.util.Random(seed)
      (0 until 500).map(i => (rng.nextInt(100).toLong, i.toLong, rng.nextDouble() * 30))
        .toDF("tick", "wire", "adc")
    }
    val trip = EventPipelines.tripletJoin(plane(1), plane(2), plane(3))
    assert(trip.count() > 0)
    assert(trip.filter(col("adc_sum") <= 30.0).count() == 0)
  }
}
