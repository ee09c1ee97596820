package perfbench

import graft.etl.EventTables.{SpacepointEvent, VoxelEvent}
import scala.collection.mutable

/** Seeded generator of the `event_tensors` inputs at the reference's
  * per-event sizes: O(100K) spacepoints and O(10K) voxels per event, one
  * row per event, ragged tensors as flat array + `_shape` columns.
  *
  * Spacepoints lie along straight tracks (true points) plus uniform ghost
  * points, so voxelizing at 1 cm gives O(10K) voxels per event as in the
  * reference. Voxel events are built as track-like chains of 6-connected
  * voxels plus isolated noise voxels; no chain touches another chain or a
  * noise voxel, so the connected components of an event are exactly its
  * chains plus one singleton per non-ghost noise voxel. (Uniformly drawn
  * voxels, as in `EventTables.voxels`, are almost never adjacent and
  * leave connected components nothing to do.)
  *
  * Everything the output checks need is derived here from the generated
  * rows, so any seed can be checked.
  */
object EventGen {
  // detector box in 1 cm cells, y shifted by +117 (x∈[0,256], y∈[−117,117], z∈[0,1036])
  val BoxX = 256; val BoxY = 234; val BoxZ = 1036

  /** Event counts, per-event sizes, the chain-length range in voxels, and
    * `reads`, the number of key and of index lookups in a pass. The first
    * `ccEvents` voxel events are the ones the derived-table ops process.
    */
  final case class Spec(spEvents: Int, points: Int, voxEvents: Int, ccEvents: Int, voxels: Int,
      chainMin: Int, chainMax: Int, reads: Int)

  /** Expected voxelize result of one spacepoint event. */
  final case class SpTruth(event: Long, truePoints: Long, voxels: Long, charge: Double)

  /** Ground truth of one voxel event: member voxel indices of each chain,
    * indices of the non-ghost noise voxels, and the majority ssnet label
    * (ties → lowest) of every given instance.
    */
  final case class VoxTruth(event: Long, chains: Array[Array[Int]], singles: Array[Int],
      labels: Map[Long, Long])

  final case class Events(sp: Seq[SpacepointEvent], spTruth: Seq[SpTruth],
      vox: Seq[VoxelEvent], voxTruth: Seq[VoxTruth]) {
    def inputBytes: Long =
      sp.map(e => e.spacepoint_t.length * 4L + (e.truetriplet_t.length +
        e.segment_t.length + e.instance_t.length) * 8L).sum +
      vox.map(e => e.voxcoord.length * 8L + e.voxfeat.length * 4L +
        (e.voxlabel.length + e.voxssnet.length + e.voxinstance.length) * 8L).sum
    def voxelCount: Long = vox.map(_.voxlabel.length.toLong).sum
    /** Share of non-ghost voxels that sit in a component of ≥ 2 voxels. */
    def chainedShare: Double = {
      val chained = voxTruth.map(_.chains.map(_.length.toLong).sum).sum
      chained.toDouble / (chained + voxTruth.map(_.singles.length.toLong).sum)
    }
  }

  def key(ev: Int): (Long, Long, Long) = (1L, ev / 4L, ev.toLong)

  def generate(seed: Long, spec: Spec): Events = {
    val sps = (0 until spec.spEvents).map(ev =>
      spacepoints(new scala.util.Random(seed * 7919L + ev), ev, spec.points))
    val vxs = (0 until spec.voxEvents).map(ev =>
      voxels(new scala.util.Random(seed * 104729L + 31L * ev + 1L), ev, spec))
    Events(sps.map(_._1), sps.map(_._2), vxs.map(_._1), vxs.map(_._2))
  }

  private def spacepoints(rng: scala.util.Random, ev: Int, n: Int): (SpacepointEvent, SpTruth) = {
    val pts = new Array[Float](n * 4)
    val truth = new Array[Long](n)
    val seg = new Array[Long](n)
    val inst = new Array[Long](n)
    val tracks = 24
    val track = Array.fill(tracks) {
      val s = Array(rng.nextDouble() * BoxX, rng.nextDouble() * BoxY - 117, rng.nextDouble() * BoxZ)
      val d = Array.fill(3)(rng.nextGaussian())
      val norm = math.sqrt(d.map(x => x * x).sum)
      (s, d.map(_ / norm), 30 + rng.nextDouble() * 170, rng.nextInt(7).toLong)
    }
    def clip(v: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, v))
    for (i <- 0 until n) {
      if (rng.nextDouble() < 0.7) {
        val k = rng.nextInt(tracks)
        val (s, d, len, label) = track(k)
        val t = rng.nextDouble() * len
        pts(i * 4) = clip(s(0) + d(0) * t + rng.nextGaussian() * 0.4, 0, BoxX - 1e-3).toFloat
        pts(i * 4 + 1) = clip(s(1) + d(1) * t + rng.nextGaussian() * 0.4, -117, 117 - 1e-3).toFloat
        pts(i * 4 + 2) = clip(s(2) + d(2) * t + rng.nextGaussian() * 0.4, 0, BoxZ - 1e-3).toFloat
        truth(i) = 1L
        seg(i) = if (rng.nextDouble() < 0.9) label else rng.nextInt(7).toLong
        inst(i) = k + 1L
      } else {
        pts(i * 4) = rng.nextFloat() * BoxX
        pts(i * 4 + 1) = rng.nextFloat() * BoxY - 117f
        pts(i * 4 + 2) = rng.nextFloat() * BoxZ
        seg(i) = rng.nextInt(7).toLong
      }
      pts(i * 4 + 3) = rng.nextFloat() * 100f
    }
    // the voxelize grain exactly as the engine computes it: float → double,
    // floor(x / 1.0), floor((y + 117) / 1.0), floor(z / 1.0)
    val cells = mutable.HashSet.empty[(Long, Long, Long)]
    var charge = 0.0
    for (i <- 0 until n if truth(i) == 1L) {
      cells += ((math.floor(pts(i * 4).toDouble).toLong,
        math.floor(pts(i * 4 + 1).toDouble + 117.0).toLong,
        math.floor(pts(i * 4 + 2).toDouble).toLong))
      charge += pts(i * 4 + 3).toDouble
    }
    val (run, subrun, event) = key(ev)
    (SpacepointEvent(run, subrun, event, pts, Array(n.toLong, 4L), truth, Array(n.toLong),
      seg, Array(n.toLong), inst, Array(n.toLong)),
      SpTruth(event, truth.count(_ == 1L).toLong, cells.size.toLong, charge))
  }

  private def voxels(rng: scala.util.Random, ev: Int, spec: Spec): (VoxelEvent, VoxTruth) = {
    val n = spec.voxels
    def pack(x: Int, y: Int, z: Int): Long = (x.toLong << 22) | (y.toLong << 11) | z
    val owner = mutable.HashMap.empty[Long, Int] // cell → chain id, or −1 for noise
    val cells = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    val ownerOf = mutable.ArrayBuffer.empty[Int]
    val steps = Array((1, 0, 0), (-1, 0, 0), (0, 1, 0), (0, -1, 0), (0, 0, 1), (0, 0, -1))
    def inBox(x: Int, y: Int, z: Int) = x >= 0 && x < BoxX && y >= 0 && y < BoxY && z >= 0 && z < BoxZ
    // free for `who`: unoccupied, and no 6-neighbor owned by anyone else
    def free(x: Int, y: Int, z: Int, who: Int): Boolean =
      inBox(x, y, z) && !owner.contains(pack(x, y, z)) && steps.forall { case (dx, dy, dz) =>
        owner.get(pack(x + dx, y + dy, z + dz)).forall(_ == who)
      }
    def put(x: Int, y: Int, z: Int, who: Int): Unit = {
      owner(pack(x, y, z)) = who; cells += ((x, y, z)); ownerOf += who
    }
    val noise = n / 10
    val chains = mutable.ArrayBuffer.empty[Int] // chain ids with ≥ 2 voxels
    var chain = 0
    while (cells.size < n - noise) {
      var (x, y, z) = (rng.nextInt(BoxX), rng.nextInt(BoxY), rng.nextInt(BoxZ))
      if (free(x, y, z, chain)) {
        val target = math.min(spec.chainMin + rng.nextInt(spec.chainMax - spec.chainMin + 1),
          n - noise - cells.size)
        put(x, y, z, chain)
        var len = 1
        var dir = rng.nextInt(6)
        var blocked = false
        while (len < target && !blocked) {
          if (rng.nextDouble() < 0.3) dir = rng.nextInt(6)
          val order = dir +: rng.shuffle((0 until 6).filter(_ != dir).toList)
          order.find { d => val (dx, dy, dz) = steps(d); free(x + dx, y + dy, z + dz, chain) } match {
            case Some(d) =>
              dir = d; x += steps(d)._1; y += steps(d)._2; z += steps(d)._3
              put(x, y, z, chain); len += 1
            case None => blocked = true
          }
        }
        if (len > 1) chains += chain
        chain += 1
      }
    }
    // noise: no occupied cell at or next to it
    while (cells.size < n) {
      val (x, y, z) = (rng.nextInt(BoxX), rng.nextInt(BoxY), rng.nextInt(BoxZ))
      if (!owner.contains(pack(x, y, z)) &&
          steps.forall { case (dx, dy, dz) => !owner.contains(pack(x + dx, y + dy, z + dz)) })
        put(x, y, z, -1)
    }
    // rows are stored in a shuffled order, as a detector readout would give them
    val perm = rng.shuffle((0 until n).toVector).toArray
    val coord = new Array[Long](n * 3)
    val label = new Array[Long](n)
    val ssnet = new Array[Long](n)
    val instance = new Array[Long](n)
    val chainLabel = (0 to chain).map(_ => rng.nextInt(7).toLong)
    for (pos <- 0 until n) {
      val src = perm(pos)
      val (x, y, z) = cells(src)
      coord(pos * 3) = x; coord(pos * 3 + 1) = y; coord(pos * 3 + 2) = z
      val who = ownerOf(src)
      // a lone chain start (blocked at once) is a true singleton, like noise
      label(pos) = if (who >= 0 || src % 2 == 0) 1L else 0L
      ssnet(pos) = if (who >= 0 && rng.nextDouble() < 0.8) chainLabel(who) else rng.nextInt(7).toLong
      instance(pos) = if (who >= 0) who + 1L else 100000L + src
    }
    val feat = Array.fill(n * 3)(rng.nextFloat() * 40f)
    val members = (0 until n).groupBy(pos => ownerOf(perm(pos)))
    val chainSet = chains.toSet
    val chainMembers = chains.toArray.map(c => members(c).toArray)
    val singles = (0 until n).filter { pos =>
      val who = ownerOf(perm(pos))
      label(pos) == 1L && !chainSet.contains(who)
    }.toArray
    val labels = (0 until n).filter(label(_) == 1L).groupBy(instance(_)).map { case (inst, ps) =>
      val counts = ps.groupBy(ssnet(_)).map { case (l, g) => (l, g.size) }
      inst -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
    }
    val (run, subrun, event) = key(ev)
    (VoxelEvent(run, subrun, event, coord, Array(n.toLong, 3L), feat, Array(n.toLong, 3L),
      label, Array(n.toLong), ssnet, Array(n.toLong), instance, Array(n.toLong)),
      VoxTruth(event, chainMembers, singles, labels))
  }
}
