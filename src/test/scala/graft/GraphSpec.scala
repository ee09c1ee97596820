package graft

import scala.collection.mutable
import scala.util.Random

import graft.ops.GraphOps
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with SparkSuite {
  import GraphSpec._

  test("connected components: chain, clique, and separate pairs resolve to min ids") {
    import spark.implicits._
    // components: {1..5} as a chain, {10,11,12} as a clique, {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    val comp = GraphOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L).forall(comp(_) == 20L))
  }

  test("dedup clusters group the planted signature-identical documents") {
    val clusters = SparkEntry.queries("dd6_dedup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // every representative is a member of its own cluster and is minimal
    clusters.values.toSet.foreach { rep: Long =>
      assert(clusters(rep) == rep)
      val members = clusters.filter(_._2 == rep).keys
      assert(members.min == rep)
    }
  }

  // PageRank invariants the DuckDB oracle can't see from one run: mass
  // conservation under floor arithmetic, node-set preservation, and
  // rerun determinism (the property the integer formulation buys).

  test("g1: pagerank preserves the node set and (almost all) rank mass") {
    val edges = GraphOps.tradeEdges(spark, sf)
    val nodes = edges.select(col("src")).distinct().count()
    val ranks = GraphOps.pageRank(edges, iters = 5).collect()
    assert(ranks.length == nodes, s"${ranks.length} ranked nodes of $nodes")
    assert(ranks.forall(_.getLong(1) > 0), "non-positive rank")
    // floor division leaks < 1 micro-unit per div; with ~3 divs per node
    // per round the total loss over 5 rounds is far under 5% of the mass
    val mass = ranks.map(_.getLong(1)).sum
    assert(mass <= GraphOps.RankScale, s"mass $mass exceeds the scale")
    assert(mass > (GraphOps.RankScale * 0.95).toLong,
      s"mass $mass lost more than 5% to floor arithmetic")
    // hub property: suppliers (odd ids) touch ~15x more partners than
    // customers at every SF, so the top-ranked node must be a supplier
    val top = ranks.maxBy(_.getLong(1)).getLong(0)
    assert(top % 2 == 1, s"top-ranked node $top is not a supplier hub")
  }

  test("g1: the iteration rounds REUSE the edge/degree exchanges, not re-shuffle them") {
    // SCALING.md claims the per-round join re-reads the same shuffled
    // edge/degree subtrees; pin the runtime evidence — the executed plan
    // must carry ReusedExchange nodes for the repeated subtrees (one
    // fresh exchange each, reused by the later rounds)
    val q = SparkEntry.queries("g1_pagerank")(spark, sf)
    q.collect()
    val reused = "ReusedExchange".r
      .findAllIn(q.queryExecution.executedPlan.toString).size
    assert(reused >= 4,
      s"only $reused ReusedExchange nodes — iteration rounds are re-shuffling")
  }

  test("law: connectedComponents equals a driver-side union-find on random graphs") {
    import spark.implicits._
    val prop = Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rng = new Random(seed)
      val edges = randomGraph(rng)
      val got = spread(rng.nextBoolean()) {
        GraphOps.connectedComponents(edges.toDF("a", "b"), dedupe = rng.nextBoolean())
          .as[(Long, Long)].collect().toMap
      }
      got == unionFindMin(edges)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10).withInitialSeed(11L), prop)
    assert(res.passed, res.status.toString)
  }

  test("law: string ids (er2's path) resolve to the union-find minimum string") {
    import spark.implicits._
    val prop = Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      // "v<id>" orders lexicographically, not numerically
      val rng = new Random(seed)
      val edges = randomGraph(rng).map { case (a, b) => (s"v$a", s"v$b") }
      val got = spread(rng.nextBoolean()) {
        GraphOps.connectedComponents(edges.toDF("a", "b"), dedupe = false)
          .as[(String, String)].collect().toMap
      }
      got == unionFindMin(edges)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(4).withInitialSeed(13L), prop)
    assert(res.passed, res.status.toString)
  }

  test("law: connectedComponents equals the union-find on 80–300-voxel snakes") {
    import spark.implicits._
    val prop = Prop.forAll(VoxelComponentsSpec.snake, Gen.oneOf(false, true)) { (g, spreadOut) =>
      val cells = g.ids.filter(_ >= 0).toSet
      val edges = for (c <- cells.toSeq; s <- Seq(1L << 22, 1L << 11, 1L) if cells(c + s)) yield (c, c + s)
      val got = spread(spreadOut) {
        GraphOps.connectedComponents(edges.toDF("a", "b"), dedupe = false).as[(Long, Long)].collect().toMap
      }
      got == unionFindMin(edges)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6).withInitialSeed(17L), prop)
    assert(res.passed, res.status.toString)
  }

  test("CC throws when maxIter is below the levels a graph needs") {
    import spark.implicits._
    val ids = new Random(5L).shuffle((0L until 60L).toVector)
    val edges = ids.zip(ids.tail)
    val df = edges.toDF("a", "b")
    spread(true) {
      assert(GraphOps.connectedComponents(df).as[(Long, Long)].collect().toMap == unionFindMin(edges))
      val e = intercept[IllegalArgumentException](GraphOps.connectedComponents(df, maxIter = 1))
      assert(e.getMessage.contains("labels still changing after 1 rounds"), e.getMessage)
    }
  }

  test("CC runs a constant number of jobs on ordered chains of 3, 30 and 300 vertices") {
    import spark.implicits._
    // each chain fits one range partition, so one level labels it
    val jobs = Seq(3L, 30L, 300L).map { n =>
      val df = (1L until n).map(v => (v, v + 1)).toDF("a", "b")
      jobsIn(s"cc_jobs_$n")(GraphOps.connectedComponents(df, dedupe = false).collect(): Unit)
    }
    assert(jobs.distinct.size == 1, s"jobs for 3, 30, 300 vertices: ${jobs.mkString(", ")}")
    // input checkpoint, range sample, two shuffle stages, roots
    // checkpoint, the contracted-edge check and the collect
    assert(jobs.head <= 7, s"${jobs.head} jobs")
  }

  /** `body` with AQE's partition coalescing off when `on`: even a small
    * graph then spreads over every range partition and needs contracted
    * levels.
    */
  private def spread[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    if (on) spark.conf.set(key, "false")
    try body finally spark.conf.unset(key)
  }

  test("g1: integer arithmetic makes reruns bit-identical") {
    val a = SparkEntry.queries("g1_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val b = SparkEntry.queries("g1_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(a.sameElements(b), "pagerank reruns disagree")
  }
}

object GraphSpec {
  /** At most 5 components over at most 300 of the ids 0..999: chains of
    * up to 60 vertices (ids in order along the chain, either way round,
    * shuffled inside blocks of up to 4), chains of up to 60 with ids in
    * random order, cliques of up to 8 and sparse random pieces of up to
    * 25, plus repeated edges, reversed repeats and self-loops, every edge
    * in random orientation.
    */
  def randomGraph(rng: Random): Seq[(Long, Long)] = {
    val ids = rng.shuffle((0L until 1000L).toVector).iterator
    def take(n: Int) = Vector.fill(n)(ids.next())
    def path(v: Seq[Long]) = v.zip(v.tail)
    val edges = (1 to 1 + rng.nextInt(5)).flatMap { _ =>
      rng.nextInt(4) match {
        case 0 =>
          val sorted = take(2 + rng.nextInt(59)).sorted
          val v = if (rng.nextBoolean()) sorted else sorted.reverse
          path(Iterator.unfold(v)(r => Option.when(r.nonEmpty) {
            val k = 1 + rng.nextInt(4)
            (rng.shuffle(r.take(k)), r.drop(k))
          }).flatten.toVector)
        case 1 => path(take(2 + rng.nextInt(59)))
        case 2 => take(2 + rng.nextInt(7)).combinations(2).map(p => (p(0), p(1)))
        case _ =>
          val v = take(2 + rng.nextInt(24))
          Vector.fill(v.length)((v(rng.nextInt(v.length)), v(rng.nextInt(v.length))))
      }
    }
    val repeats = Seq.fill(rng.nextInt(10))(edges(rng.nextInt(edges.length)))
    val loops = Seq.fill(rng.nextInt(3)) { val v = edges(rng.nextInt(edges.length))._1; (v, v) }
    rng.shuffle(edges ++ repeats ++ loops).map(e => if (rng.nextBoolean()) e.swap else e)
  }

  /** Component minimum of every edge endpoint. Union by smaller root
    * keeps each root its set's minimum.
    */
  def unionFindMin[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = mutable.Map[T, T]()
    def find(v: T): T = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }
}
