package graft

import graft.etl.{EventPipelines, EventTables}
import graft.ops.GraphOps
import graft.tensor.VoxelComponents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, LogicalRDD}
import org.apache.spark.sql.types.ArrayType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The per-event component kernel behind `instanceTableCC`
  * (`voxel_components`): its labels equal an independent BFS flood fill
  * and the global CC (GraphOps.connectedComponents) on
  * random grids, snakes and chains of 80–300 voxels, duplicate
  * coordinates and ghosts; the packing guard keeps its edge (2046 passes,
  * 2047 fails as before); and the event path's plans carry no label array
  * through `Generate` and run a constant number of jobs with no checkpoint.
  */
class VoxelComponentsSpec extends AnyFunSuite with SparkSuite {
  import VoxelComponentsSpec._

  private def sample[T](gen: Gen[T], seed: Long): T =
    gen.apply(Gen.Parameters.default, Seed(seed)).get

  /** Pinned random events: dense clouds (duplicates likely), clouds at
    * the top of the packable range, snakes and straight chains.
    */
  private lazy val grids: Seq[Grid] =
    (0 until 8).map(i => sample(cloud(0), 100L + i)) ++
      (0 until 2).map(i => sample(cloud(2041), 200L + i)) ++
      (0 until 3).map(i => sample(snake, 300L + i)) ++
      (0 until 2).map(i => sample(chain, 400L + i))

  private def table(gs: Seq[Grid]): DataFrame = {
    import spark.implicits._
    gs.zipWithIndex.map { case (g, e) =>
      (1L, 0L, e.toLong, g.xyz.flatMap { case (x, y, z) => Seq(x, y, z) }, Seq(g.xyz.length.toLong, 3L),
        g.label, g.label.map(_ => 0L), g.label.map(_ => 0L))
    }.toDF("run", "subrun", "event", "voxcoord", "voxcoord_shape", "voxlabel", "voxssnet", "voxinstance")
  }

  test("law: minIds equals a BFS flood fill on random grids, snakes and chains") {
    val prop = Prop.forAll(Gen.oneOf(cloud(0), cloud(2041), snake, chain)) { g =>
      VoxelComponents.minIds(g.ids).toSeq == floodFill(g)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(50).withInitialSeed(7L), prop)
    assert(res.passed, res.status.toString)
  }

  test("law: voxel_components equals the flood fill and GraphOps.connectedComponents") {
    assert(grids.exists(g => g.xyz.distinct.length < g.xyz.length), "no duplicate coordinates drawn")
    assert(grids.exists(_.label.exists(_ != Some(1L))), "no ghosts drawn")
    val got = table(grids).selectExpr("event", "voxel_components(voxcoord, voxcoord_shape, voxlabel)")
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[java.lang.Long](1).map(v => Option(v).fold(-1L)(_.longValue)))
      .toMap
    grids.zipWithIndex.foreach { case (g, e) =>
      assert(got(e) == floodFill(g), s"event $e: kernel differs from the flood fill")
    }
    // the global CC over the same adjacency, all events in one
    // graph: global ids e·2^33 + packed, isolated cells label themselves
    import spark.implicits._
    val edges = grids.zipWithIndex.flatMap { case (g, e) =>
      val cells = g.ids.filter(_ >= 0).toSet
      for (c <- cells.toSeq; s <- Seq(1L << 22, 1L << 11, 1L) if cells(c + s))
        yield ((e.toLong << 33) + c, (e.toLong << 33) + c + s)
    }.toDF("a", "b")
    val comp = GraphOps.connectedComponents(edges, maxIter = 30).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    grids.zipWithIndex.foreach { case (g, e) =>
      val off = e.toLong << 33
      val want = g.ids.map(id => if (id < 0) -1L else comp.getOrElse(off + id, off + id) - off).toSeq
      assert(got(e) == want, s"event $e: kernel differs from connectedComponents")
    }
  }

  test("instanceTableCC: coordinate 2046 packs, 2047 fails with the packing error, ghosts are exempt") {
    val edge = Grid(Vector((2046L, 2046L, 2046L), (2045L, 2046L, 2046L), (0L, 0L, 0L), (2047L, 5L, 5L)),
      Vector(Some(1L), Some(1L), Some(1L), Some(0L)))
    val got = EventPipelines.instanceTableCC(spark, table(Seq(edge))).collect()
      .map(r => r.getAs[Long]("instance") -> r.getAs[scala.collection.Seq[Long]]("instvoxcoord_shape").head).toMap
    val first = (1L << 33) + ((2045L << 22) | (2046L << 11) | 2046L)
    assert(got == Map(first -> 2L, (1L << 33) -> 1L))
    Seq((2047L, 0L, 0L), (0L, 2047L, 0L), (0L, 0L, 2047L), (-1L, 0L, 0L)).foreach { c =>
      val bad = Grid(Vector((0L, 0L, 0L), c), Vector(Some(1L), Some(1L)))
      val e = intercept[Exception](EventPipelines.instanceTableCC(spark, table(Seq(bad))).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("voxel coord outside packable range [0, 2047)")),
        s"$c: ${e.getMessage}")
    }
  }

  test("plan: no array column in Generate's child output for voxelize and instanceTableCC") {
    val plans = Seq(
      "voxelize" -> EventPipelines.voxelize(spark, EventTables.spacepoints(spark, nEvents = 1, nPoints = 50), 10.0),
      "instanceTableCC" -> EventPipelines.instanceTableCC(spark, EventTables.voxels(spark, nEvents = 2, nVox = 50)))
    plans.foreach { case (name, df) =>
      val gens = df.queryExecution.sparkPlan.collect { case g: GenerateExec => g }
      assert(gens.nonEmpty, s"$name: no GenerateExec")
      gens.foreach { g =>
        assert(!g.requiredChildOutput.exists(_.dataType.isInstanceOf[ArrayType]),
          s"$name: Generate carries ${g.requiredChildOutput.mkString(", ")}")
      }
    }
  }

  test("plan: instanceTableCC runs a constant number of jobs and no checkpoint") {
    // two events of two-voxel chains against two 300-voxel chains: the
    // old label propagation needed rounds in the chain diameter
    val short = table(Seq.fill(2)(Grid(Vector((1L, 1L, 1L), (1L, 1L, 2L)), Vector(Some(1L), Some(1L)))))
    val long = table(Seq.fill(2)(Grid((0L until 300L).map(z => (3L, 4L, z)).toVector, Vector.fill(300)(Some(1L)))))
    val counts = Seq("short" -> short, "long" -> long).map { case (name, vox) =>
      var df: DataFrame = null
      val construct = jobsIn(s"vc_construct_$name") { df = EventPipelines.instanceTableCC(spark, vox) }
      assert(construct == 0, s"$name: construction ran $construct jobs")
      assert(df.queryExecution.analyzed.collect { case r: LogicalRDD => r }.isEmpty,
        s"$name: plan reads a checkpoint")
      jobsIn(s"vc_run_$name") { df.collect(): Unit }
    }
    assert(counts(0) == counts(1), s"job count depends on chain length: $counts")
  }
}

object VoxelComponentsSpec {
  /** One event: voxel coordinates and labels (1 = non-ghost). */
  final case class Grid(xyz: Vector[(Long, Long, Long)], label: Vector[Option[Long]]) {
    /** Packed in-event ids, −1 for voxels that take no part. */
    def ids: Array[Long] = xyz.zip(label).map { case ((x, y, z), l) =>
      if (l.contains(1L)) VoxelComponents.pack(x, y, z) else -1L
    }.toArray
  }

  private val labelGen: Gen[Option[Long]] =
    Gen.frequency(16 -> Some(1L), 3 -> Some(0L), 1 -> None)

  /** Up to 60 voxels in a 6³ box at `lo` (duplicates likely). */
  def cloud(lo: Long): Gen[Grid] = for {
    n <- Gen.choose(1, 60)
    xyz <- Gen.listOfN(n, Gen.zip(Gen.choose(lo, lo + 5), Gen.choose(lo, lo + 5), Gen.choose(lo, lo + 5)))
    label <- Gen.listOfN(n, labelGen)
  } yield Grid(xyz.toVector, label.toVector)

  /** A 80–300-step random walk in a 40³ box; revisits give duplicates
    * and loops, ghosts cut it.
    */
  val snake: Gen[Grid] = for {
    n <- Gen.choose(80, 300)
    steps <- Gen.listOfN(n - 1, Gen.zip(Gen.choose(0, 2), Gen.oneOf(-1L, 1L)))
    label <- Gen.listOfN(n, Gen.frequency(19 -> Some(1L), 1 -> Some(0L)))
  } yield {
    val walk = steps.scanLeft(Vector(20L, 20L, 20L)) { case (p, (axis, d)) =>
      p.updated(axis, math.min(39L, math.max(0L, p(axis) + d)))
    }
    Grid(walk.map(p => (p(0), p(1), p(2))).toVector, label.toVector)
  }

  /** A straight 80–300-voxel chain along one axis, all non-ghost. */
  val chain: Gen[Grid] = for {
    n <- Gen.choose(80, 300)
    axis <- Gen.choose(0, 2)
    start <- Gen.choose(0L, 2046L - n)
  } yield Grid((0 until n).map { k =>
    val p = Vector(7L, 7L, 7L).updated(axis, start + k)
    (p(0), p(1), p(2))
  }.toVector, Vector.fill(n)(Some(1L)))

  /** Independent ground truth: BFS over the live cells, 6-neighborhood;
    * each voxel gets its component's smallest packed id (−1 if not live).
    */
  def floodFill(g: Grid): Seq[Long] = {
    val live = g.xyz.zip(g.label).collect { case (c, l) if l.contains(1L) => c }.toSet
    val minId = scala.collection.mutable.Map.empty[(Long, Long, Long), Long]
    live.foreach { seed =>
      if (!minId.contains(seed)) {
        val comp = scala.collection.mutable.Set(seed)
        val queue = scala.collection.mutable.Queue(seed)
        while (queue.nonEmpty) {
          val (x, y, z) = queue.dequeue()
          for (n <- Seq((x + 1, y, z), (x - 1, y, z), (x, y + 1, z), (x, y - 1, z), (x, y, z + 1), (x, y, z - 1))
               if live(n) && comp.add(n)) queue += n
        }
        val m = comp.map { case (x, y, z) => VoxelComponents.pack(x, y, z) }.min
        comp.foreach(minId(_) = m)
      }
    }
    g.xyz.zip(g.label).map { case (c, l) => if (l.contains(1L)) minId(c) else -1L }
  }
}
