package graft

import graft.ops.GraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with SparkSuite {

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

  test("CC convergence probe rides the checkpoint job: zero extra jobs per round") {
    import spark.implicits._
    // a 5-node chain converges in exactly THREE rounds (hand-traced in
    // the scaladoc history: r1 collapses to {1,1,1,2,3}, r2 to all-1, r3
    // detects no change), so the earlyStop run and a fixed maxIter=3 run
    // execute the same label-step jobs; the observed-Σcomp probe
    // (round-13 #8) must add only a constant job overhead: the one-time
    // initial sum (~2 jobs under AQE) plus the FINAL round's
    // authoritative confirm aggregate (~2 jobs — round 14: observed
    // equality is a screen, convergence is declared only after
    // sumDiffChanged, so retry-inflated observations can never fake
    // it). The pre-fold protocol paid one aggregate-scan job PER ROUND
    // on top (≥ fixed + 7 at this round count), which this bound
    // excludes
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val fixed = jobsIn("cc_jobs_fixed") {
      GraphOps.connectedComponents(pairs, maxIter = 3, earlyStop = false,
        dedupe = false).collect(): Unit
    }
    val probed = jobsIn("cc_jobs_probed") {
      GraphOps.connectedComponents(pairs, maxIter = 10, earlyStop = true,
        dedupe = false).collect(): Unit
    }
    assert(probed <= fixed + 4,
      s"convergence probe must ride the checkpoint materialization: " +
        s"fixed-budget run $fixed jobs, earlyStop run $probed (> $fixed + 4)")
  }

  test("g1: integer arithmetic makes reruns bit-identical") {
    val a = SparkEntry.queries("g1_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val b = SparkEntry.queries("g1_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(a.sameElements(b), "pagerank reruns disagree")
  }
}
