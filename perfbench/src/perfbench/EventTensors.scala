package perfbench

import graft.api.EventReader
import graft.etl.{EventPipelines, SinkOps}
import graft.ops.GraphOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `event_tensors`: the reference's own path on generated events. Writes
  * come first — both event tables through `SinkOps.sortedWrite`, then
  * `voxelize`, `instanceTable`, `instanceTableCC` and
  * `GraphOps.connectedComponents` on the voxel adjacency, each writing its
  * derived table — and reads follow on a freshly opened `EventReader`
  * over the whole voxel table: key lookups, index lookups (the first
  * builds the index), samples, partition slices, one epoch, and
  * `format("root")` product scans. The derived-table ops process only the
  * first `ccEvents` voxel events, read back from the written table by key.
  * The seed draws the events and the keys read. Every output is checked
  * against invariants computed from the generated inputs.
  */
final class EventTensors(spark: SparkSession, seed: Long, dir: String, spec: EventGen.Spec)
    extends Workload {
  import EventTensors._
  import spark.implicits._

  private var ev: EventGen.Events = _
  private var spDf, voxDf, edgesDf: DataFrame = _
  private def out(t: String) = s"$dir/$t"
  /** The voxel events the derived-table ops process, and their truth. */
  private def ccVox = ev.vox.take(spec.ccEvents)
  private def ccTruth = ev.voxTruth.take(spec.ccEvents)
  /** The written voxel table, restricted to those events. */
  private def ccTable = spark.read.parquet(out("voxels")).filter(col("event") < spec.ccEvents.toLong)
  def outputRoots: Seq[String] = Seq(dir)

  def prepare(): Seq[Failure] = {
    ev = EventGen.generate(seed, spec)
    spDf = ev.sp.toDF()
    voxDf = ev.vox.toDF()
    edgesDf = adjacency(ccVox).toDF("a", "b")
    Nil
  }

  def describe: String = {
    val pts = ev.sp.map(_.truetriplet_t.length)
    f"spacepoint events ${ev.sp.size} x ${pts.sum / math.max(1, pts.size)} points, " +
      f"voxel events ${ev.vox.size} x ${ev.voxelCount / math.max(1, ev.vox.size)} voxels " +
      f"(${spec.ccEvents} through the derived-table ops), " +
      f"voxels in multi-voxel components ${ev.chainedShare * 100}%.1f%%, " +
      f"raw input ${ev.inputBytes / 1e6}%.1f MB"
  }

  /** The same pass, checks included, on a small input in its own dir. */
  def warmup(): Seq[Failure] = {
    val w = new EventTensors(spark, seed, s"$dir-warmup", Warm)
    w.prepare()
    val ops = w.pass()
    Op.untimed(ops) ++ w.checkOutputs(ops)
  }

  def pass(): Seq[Op] = {
    val rng = new scala.util.Random(seed * 31L + 17L)
    val keys = ev.vox.map(e => (e.run, e.subrun, e.event))
    val ordered = keys.sorted
    val byKey = ev.vox.map(e => (e.run, e.subrun, e.event) -> e).toMap
    lazy val vox = new EventReader(spark, out("voxels"))
    def sameVox(r: Row): Unit = {
      val k = (r.getAs[Long]("run"), r.getAs[Long]("subrun"), r.getAs[Long]("event"))
      val e = byKey.getOrElse(k, sys.error(s"row for unknown key $k"))
      require(r.getAs[scala.collection.Seq[Long]]("voxcoord") == e.voxcoord.toSeq, s"voxcoord of $k differs")
    }
    def lookup(k: (Long, Long, Long)): Op = new CallOp[Option[Row]]("key_lookup", false,
      "api.EventReader", () => vox.getEntry(k._1, k._2, k._3),
      r => {
        require(r.exists(x => x.getAs[Long]("event") == k._3), s"key $k not found")
        sameVox(r.get)
      }, _.size.toLong)
    def entry(i: Int, name: String): Op = new CallOp[Option[Row]](name, false,
      "api.EventReader", () => vox.getEntry(i.toLong),
      r => { require(r.exists(x => x.getAs[Long]("event") == ordered(i)._3), s"entry $i wrong"); sameVox(r.get) },
      _.size.toLong)
    val writes = Seq[Op](
      new CallOp[Unit]("sortedWrite_spacepoints", true, "etl.SinkOps",
        () => SinkOps.sortedWrite(spDf, "event", out("spacepoints"))),
      new CallOp[Unit]("sortedWrite_voxels", true, "etl.SinkOps",
        () => SinkOps.sortedWrite(voxDf, "event", out("voxels"))),
      new WriteOp("voxelize", "etl.EventPipelines",
        () => EventPipelines.voxelize(spark, spark.read.parquet(out("spacepoints")), 1.0),
        out("voxelized"), checkVoxelized),
      new WriteOp("instanceTable", "etl.EventPipelines",
        () => EventPipelines.instanceTable(spark, ccTable),
        out("instances"), checkInstances),
      new WriteOp("instanceTableCC", "etl.EventPipelines",
        () => EventPipelines.instanceTableCC(spark, ccTable),
        out("instances_cc"), checkComponents),
      new WriteOp("connectedComponents", "ops.GraphOps",
        () => GraphOps.connectedComponents(edgesDf, maxIter = 30, dedupe = false),
        out("components"), checkCC))
    val reads = Seq.fill(spec.reads)(lookup(keys(rng.nextInt(keys.size)))) ++
      (entry(rng.nextInt(keys.size), "index_build") +:
        Seq.fill(spec.reads)(entry(rng.nextInt(keys.size), "index_lookup"))) ++
      Seq.fill(math.max(1, spec.reads / 2)) {
        val s = rng.nextLong()
        new CallOp[Row]("sample", false, "api.EventReader", () => vox.sampleEntry(s), sameVox)
      } ++
      (0 until Workers).map { w =>
        val per = (keys.size + Workers - 1) / Workers
        val want = ordered.slice(w * per, (w + 1) * per).map(_._3)
        new CallOp[Array[Row]]("slice", false, "api.EventReader",
          () => vox.partitionSlice(w, Workers).collect(),
          rows => require(rows.map(_.getAs[Long]("event")).toSeq == want, s"slice $w wrong"))
      } :+
      new CallOp[Seq[Long]]("epoch", false, "api.EventReader",
        () => vox.epoch(Some(rng.nextLong())).map(_.getAs[Long]("event")).toSeq,
        got => require(got.sorted == ordered.map(_._3), "epoch does not return every event once"),
        _.size.toLong) :+
      new CallOp[Row]("root_scan", false, "sources.RootSource",
        () => spark.read.format("root").option("products", "event,voxlabel").load(out("voxels"))
          .agg(count(lit(1)), sum(size(col("voxlabel"))).cast("long")).head(),
        r => require(r.getLong(0) == keys.size && r.getLong(1) == ev.voxelCount, s"root scan read $r")) :+ {
        val k = keys(rng.nextInt(keys.size))
        new CallOp[Array[Row]]("root_scan", false, "sources.RootSource",
          () => spark.read.format("root").option("products", "run,subrun,event,voxcoord")
            .load(out("voxels")).filter(col("event") === k._3).collect(),
          rows => { require(rows.length == 1, s"root scan of $k found ${rows.length} rows"); sameVox(rows(0)) })
      }
    writes ++ reads
  }

  private def checkVoxelized(path: String): Unit = {
    val got = spark.read.parquet(path).groupBy("event")
      .agg(count(lit(1)), sum("npts"), sum("charge")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    ev.spTruth.foreach { t =>
      val (n, npts, q) = got.getOrElse(t.event, sys.error(s"event ${t.event} missing"))
      require(npts == t.truePoints, s"event ${t.event}: sum(npts) $npts != ${t.truePoints} true points")
      require(n == t.voxels, s"event ${t.event}: $n voxels, expected ${t.voxels}")
      require(math.abs(q - t.charge) <= 1e-6 * t.charge, s"event ${t.event}: charge $q != ${t.charge}")
    }
  }

  /** Per event: the member-coordinate sets of the output instances. */
  private def memberSets(path: String): Map[Long, Set[Set[(Long, Long, Long)]]] =
    spark.read.parquet(path).select("event", "instvoxcoord").collect()
      .groupBy(_.getLong(0)).map { case (e, rows) =>
        e -> rows.map(_.getAs[scala.collection.Seq[Double]](1).grouped(3)
          .map(c => (c(0).round, (c(1) + 117.0).round, c(2).round)).toSet).toSet
      }

  /** Per event: the member-coordinate sets of its chains and singletons. */
  private def expectedSets: Map[Long, Set[Set[(Long, Long, Long)]]] =
    ccVox.zip(ccTruth).map { case (e, t) =>
      def cell(i: Int) = (e.voxcoord(3 * i), e.voxcoord(3 * i + 1), e.voxcoord(3 * i + 2))
      e.event -> (t.chains.toSeq ++ t.singles.map(Array(_))).map(_.map(cell).toSet).toSet
    }.toMap

  private def checkComponents(path: String): Unit = {
    val got = memberSets(path)
    expectedSets.foreach { case (e, want) =>
      require(got.get(e).contains(want), s"event $e: CC instances differ from the generated chains")
    }
  }

  private def checkInstances(path: String): Unit = {
    val got = memberSets(path)
    expectedSets.foreach { case (e, want) =>
      require(got.get(e).contains(want), s"event $e: instances differ from the given labels")
    }
    val labels = spark.read.parquet(path).select("event", "instance", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    ccTruth.foreach(t => t.labels.foreach { case (i, l) =>
      require(labels.get((t.event, i)).contains(l), s"event ${t.event} instance $i: label != $l")
    })
  }

  private def checkCC(path: String): Unit = {
    val got = spark.read.parquet(path).collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    val ids = ccVox.zip(ccTruth).flatMap { case (e, t) =>
      t.chains.toSeq.map(_.map(i => cellId(e, i)))
    }
    require(got.size == ids.map(_.length).sum, s"${got.size} labelled ids, expected ${ids.map(_.length).sum}")
    ids.foreach { c =>
      require(c.forall(id => got.get(id).contains(c.min)), s"chain of ${c.min} is not one component")
    }
  }
}

object EventTensors {
  /** Reference per-event sizes. The reader table holds dozens of events,
    * so lookups, samples and slices have rows and files to skip; the
    * derived-table ops and the event count fit one pass to the run.
    */
  val Full = EventGen.Spec(spEvents = 1, points = 100000, voxEvents = 48, ccEvents = 2,
    voxels = 10000, chainMin = 2, chainMax = 6, reads = 14)
  /** Warm-up: the same plans on a few percent of the data, two-voxel
    * chains (so connected components converges in the fewest rounds) and
    * enough reads to compile the read path.
    */
  val Warm = EventGen.Spec(spEvents = 1, points = 4000, voxEvents = 8, ccEvents = 2,
    voxels = 1000, chainMin = 2, chainMax = 2, reads = 6)

  /** Data-loader workers, one `partitionSlice` read each. With the index
    * build, the epoch and the two product scans this makes twelve reads
    * slower than a lookup, so `read_tail_s` (the eleventh-slowest read)
    * falls among the slices and scans, not on the noisiest lookup.
    */
  val Workers = 8

  def cellId(e: graft.etl.EventTables.VoxelEvent, i: Int): Long =
    (e.event << 33) | (e.voxcoord(3 * i) << 22) | (e.voxcoord(3 * i + 1) << 11) | e.voxcoord(3 * i + 2)

  /** Undirected 6-adjacency of the non-ghost voxels of each event, one
    * (a, b) row per adjacent pair, ids as in [[cellId]].
    */
  def adjacency(vox: Seq[graft.etl.EventTables.VoxelEvent]): Seq[(Long, Long)] = vox.flatMap { e =>
    val n = e.voxlabel.length
    val live = (0 until n).filter(e.voxlabel(_) == 1L).map(cellId(e, _)).toSet
    live.toSeq.flatMap(id => Seq(1L << 22, 1L << 11, 1L).map(id + _).filter(live).map(id -> _))
  }
}
