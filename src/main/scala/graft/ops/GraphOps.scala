package graft.ops

import graft.{OpModule, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph primitives over edge-list DataFrames — the engine's
  * answer to the reference's graph step (radius_graph + scatter
  * aggregation, /root/reference/larennet/larennet.py:53-61) and the final
  * stage of any dedup pipeline: turning near-dup pairs into clusters.
  * Beyond components, [[pageRank]] adds the influence-ranking primitive a
  * web-scale corpus pipeline uses as a document-quality prior (link-graph
  * rank is a standard crawl-filtering signal alongside the x2 heuristics).
  */
object GraphOps extends OpModule {

  /** Eager plan truncation for the CC path's iterate/edge tables, with
    * a CALLER-CHOSEN storage level (round 14). The default
    * localCheckpoint level is MEMORY_AND_DISK — deserialized row
    * objects whose real heap footprint the storage accounting
    * underestimates, and at sf100 (600 M distinct grid cells, a new
    * label checkpoint per round) that slack OOM'd v7's single-node runs
    * 3-of-4 at a 100 g heap while the same query passed under luckier
    * task scheduling. MEMORY_AND_DISK_SER stores compact byte buffers
    * the accountant measures exactly, so eviction happens instead of
    * heap death — but it is NOT free: measured same-machine-state A/B
    * at sf10 (min-of-2 after warm-up), v7 37.8 s deser vs 53.1 s ser
    * (+40% — the cached regime pays pure ser/deser CPU on the huge grid
    * tables every round) while dd6 read level-insensitive (21.8 vs
    * 23.8, inside its noise band). So the level is a per-CALL choice:
    * deserialized by default (every sf≤10 shape keeps its r13 plan and
    * cost), serialized where the caller knows the working set threatens
    * the heap (v7 gates on the scanned corpus size — the sf100
    * regime, where survival beats the ser tax). The carried size
    * ESTIMATE (load-bearing for each round's broadcast decision, see
    * the revert note below) is storage-level independent.
    */
  private[graft] def ckpt(df: DataFrame, ser: Boolean): DataFrame =
    df.localCheckpoint(true,
      if (ser) org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Connected components by iterative min-label propagation: each
    * round every vertex adopts the smallest label among itself and its
    * neighbors (one equi-join + one aggregation, both keyed by vertex
    * id), then its label's own label (one pointer jump). The edge side
    * can bucket by vertex id so the per-round join plans exchange-free
    * (BucketingSpec's PageRank-round pin, PLANS.md "bucketed
    * iterative-join round").
    *
    * Each round's final checkpoint carries `changed = comp <> prev`
    * (`prev` = the round's input label); the loop stops after the first
    * round with no changed row — one plain `isEmpty` job over the cached
    * checkpoint, exact under task retry and for any orderable id type.
    * Exhausting `maxIter` with labels still changing throws.
    *
    * Labels initialize from the EDGE ENDPOINTS, never from a full vertex
    * set: isolated vertices never change, and dragging them through
    * every round measured 1.8× the whole v7 query (976 vs 541 s
    * executor, sf1.0); callers left-join + coalesce them once instead.
    *
    * @param pairs undirected edges (a, b)
    * @param maxIter runaway bound on the rounds, the confirming
    *   no-change round included
    * @param dedupe distinct() the symmetrized edge list first. Duplicate
    *   edges do not change a min, so this is purely a performance trade:
    *   it pays off for LSH pair lists that repeat pairs, and is a wasted
    *   full-edge shuffle for duplicate-free inputs (772 s of v7's 4732 s
    *   sf10 executor profile).
    * @param serCkpt checkpoint storage level, see [[ckpt]]
    * @return (id, comp) — comp is the minimum vertex id of the component
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      dedupe: Boolean = true, serCkpt: Boolean = false): DataFrame = {
    // localCheckpoint (not cache): each round's plan must be TRUNCATED,
    // or the logical plan doubles every iteration and analysis time
    // explodes — the standard iterative-DataFrame trap. The INPUT pair
    // list is truncated FIRST: the symmetrize union reads it twice, and
    // callers hand this function their most expensive subtree (dd6/dd7's
    // LSH bucket expansion, v7's shifted-coordinate joins) — without
    // the cut, that subtree executes once per union branch (measured as
    // two full ~4 s pair-generation stages in dd6's sf1.0 profile).
    val sym = ckpt(pairs.select(col("a"), col("b")), serCkpt)
    val symmetrized = sym
      .union(sym.select(col("b").as("a"), col("a").as("b")))
    // dedupe=false also skips the edge MATERIALIZATION: the union over
    // the sym checkpoint re-reads it twice per consumer — the same bytes
    // a deduped-checkpoint read would cost, minus one full write.
    val edges = if (dedupe) ckpt(symmetrized.distinct(), serCkpt)
      else symmetrized
    var labels = ckpt(edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")), serCkpt)
    var rounds = 0
    var changed = true
    while (changed) {
      require(rounds < maxIter,
        s"connectedComponents: labels still changing after $maxIter rounds " +
          "(graph diameter exceeds the budget — raise maxIter)")
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "b2"), col("b") === col("b2"))
        .groupBy(col("a").as("id"))
        .agg(min("comp").as("ncomp"))
      // truncated BEFORE the pointer-jump self-join: its two sides
      // shuffle on different keys (comp vs id), so exchange reuse cannot
      // merge them and the edge join + aggregation above — the expensive
      // half of the round — would execute twice (measured as two full
      // label-size scans per round in v7's sf10 profile)
      val stepped = ckpt(labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("comp").as("prev")), serCkpt)
      // pointer jumping: adopt the label's own label too — chains collapse
      // in O(log diameter) rounds instead of O(diameter).
      //
      // Two round-12 variants were measured at sf10 (dd6, 13 rounds)
      // and BOTH reverted — recorded so they are not retried:
      // - TWO jumps per round (to halve the edge rounds): did not
      //   reduce the measured round count at all (the rounds are
      //   edge-relaxation-bound, not label-chain-bound) and the extra
      //   label-size job per round read 29.6 s vs 27.8.
      // - RELEAFING the jump checkpoint to reset its size estimate
      //   (localCheckpoint carries the child plan's estimate onto the
      //   new leaf, and a self-join ~squares it, so the planner
      //   multiplies ever-wider BigInts round over round — the
      //   two-jump variant, a fourth power per round, hung the driver
      //   in BigInteger.multiplyToomCook3): catastrophic, 27.8 →
      //   123.5 s wall / 302 → 2829 s executor. The carried estimate
      //   is LOAD-BEARING — it is what keeps the label side
      //   broadcastable in each round's edge⋈labels join; a fresh
      //   leaf's conservative default estimate forfeits exactly those
      //   broadcasts and every round pays a full edge-table shuffle.
      //   At one jump per round the estimate-width growth is ~2^rounds
      //   digits — tens of KB of BigInt by round 13, tolerable planner
      //   arithmetic — and the broadcasts it preserves are worth far
      //   more. A fixed-point estimate reset (releaf with HONEST
      //   computed stats) would need a count+size job per round, the
      //   same cost class it saves.
      val jumped = least(col("x.comp"), coalesce(col("y.ccomp"), col("x.comp")))
      val next = ckpt(stepped.as("x")
        .join(stepped.select(col("id").as("cid"), col("comp").as("ccomp")).as("y"),
          col("x.comp") === col("y.cid"), "left")
        .select(col("x.id").as("id"), jumped.as("comp"),
          (jumped =!= col("x.prev")).as("changed")), serCkpt)
      changed = !next.filter(col("changed")).isEmpty
      labels = next.select(col("id"), col("comp"))
      rounds += 1
    }
    labels
  }

  /** Rank mass is carried in integer micro-units of 1e-12 so every
    * operation (division by degree, damping ×85/100) is BIGINT floor
    * arithmetic — bit-identical on any engine, which is what lets a
    * fixed-iteration PageRank carry a full DuckDB oracle where a
    * floating-point formulation could only ever be rows-only.
    */
  val RankScale = 1000000000000L

  /** Fixed-iteration PageRank (damping 0.85, `iters` rounds) over an
    * undirected edge list `(src, dst)` already symmetrized (every edge
    * present in both directions, so every node has degree ≥ 1 and no
    * dangling-mass correction is needed).
    *
    * Each round is one equi-join (ranks ⋈ edges on src) plus one
    * aggregation (contributions summed per dst) — the Pregel message
    * pattern expressed relationally, shuffle-keyed on node id both
    * times. `edges` and the degree table are lineage-truncated once up
    * front (the standard iterative-DataFrame guard); at deployment scale
    * both sides bucket by node id so the per-round join co-locates
    * without re-shuffling — DEMONSTRATED, not just claimed:
    * BucketingSpec pins one full contribution round over a bucketed
    * edge table to exactly one exchange (the per-dst sum), and
    * PLANS.md ("bucketed iterative-join round") carries the captured
    * plan. Fixed `iters` (no convergence probe) keeps the job count
    * deterministic; web-graph practice runs a fixed small round budget
    * the same way.
    *
    * Arithmetic per node v:
    *   r'(v) = (15·(S div N)) div 100 + (85·Σ_{u→v} (r(u) div deg(u))) div 100
    * with S = [[RankScale]] — all BIGINT, floor division, positive
    * operands, so Spark and the oracle agree exactly.
    *
    * @param truncateEdges lineage-cut the edge list up front (default —
    *   right when `edges0` is an unmaterialized computation). Pass false
    *   when `edges0` is a BUCKETED TABLE SCAN ([[bucketedTradeEdges]]):
    *   a checkpoint would replace the scan with an RDD of unknown
    *   partitioning and forfeit the exchange-free per-round join the
    *   bucketing exists to provide, and a storage-backed table needs no
    *   lineage truncation in the first place.
    */
  def pageRank(edges0: DataFrame, iters: Int,
      truncateEdges: Boolean = true): DataFrame = {
    val edges0sel = edges0.select("src", "dst")
    val edges = if (truncateEdges) edges0sel.localCheckpoint(true) else edges0sel
    val base = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .withColumnRenamed("src", "id")
    val withC = base.crossJoin(broadcast(base.agg(count(lit(1)).as("c"))))
      .localCheckpoint(true)
    var r = withC.withColumn("r", expr(s"${RankScale}L div c"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(r.select(col("id").as("src"), expr("r div d").as("contrib")), "src")
        .groupBy("dst").agg(sum("contrib").as("t"))
        .withColumnRenamed("dst", "id")
      r = withC.join(contrib, "id")
        .withColumn("r",
          expr(s"(15 * (${RankScale}L div c)) div 100 + (85 * t) div 100"))
        .select("id", "d", "c", "r")
    }
    r.select(col("id").as("node_id"), col("r").as("rank_units"))
  }

  /** The customer–supplier interaction graph: one undirected edge per
    * distinct (customer, supplier) trading pair, nodes disambiguated
    * into one id space (customer → 2k, supplier → 2k+1). Bipartite, so
    * symmetrization cannot create duplicate edges.
    */
  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
    val l = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    // The symmetrize union DOES re-run this join+distinct once per
    // branch, and that is the RIGHT trade here — measured both ways at
    // sf10: a localCheckpoint cut before the union (the fix that pays
    // off for connectedComponents' sketch-sized pair lists) made g1
    // 90 → 229 s, because e0 is FACT-scale — materializing it (and the
    // union checkpoint above it) overruns the block store and thrashes
    // to disk, while the recompute streams through the join twice with
    // zero storage. Recompute-vs-materialize is a size question, not a
    // dogma; the g1b bucketed staging is the real fix for repeated
    // consumers of this graph.
    val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  private val PrIters = 5

  /** [[tradeEdges]] staged ONCE (per process × source dir) as a node-id-
    * bucketed, src-sorted managed table — the co-located layout every
    * iterative node-keyed join in this file names as its deployment
    * shape (BucketingSpec pins one contribution round over it to exactly
    * one exchange). g1b runs the REAL 5-round query over this scan, so
    * the layout trade is measured, not just demonstrated: staging costs
    * one write (amortized across every subsequent iteration/query on the
    * graph — at 100 TB the graph is an artifact many queries share, and
    * the "table" is a metastore entry, not a per-process temp). The
    * in-memory catalog is session-scoped, so a fresh JVM restages; the
    * bench warm-up rep absorbs that, making the timed reps pure query.
    *
    * In-process stagers serialize on a lock (two threads racing the
    * tableExists check would delete each other's half-written buckets).
    * Concurrent FIRST staging from two JVMs sharing one warehouse dir
    * remains unsynchronized — the same documented single-writer trade as
    * [[graft.etl.ScratchDirs]]; a deployment metastore replaces this
    * whole branch with CREATE TABLE IF NOT EXISTS and owns that race.
    */
  def bucketedTradeEdges(s: SparkSession, dir: String,
      nBuckets: Int = 32): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)
    val t = s"graft_trade_edges_b_$digest"
    bucketStageLock.synchronized {
      if (!s.catalog.tableExists(t)) {
        // the in-memory catalog forgets tables across JVMs but the
        // WAREHOUSE DIRECTORY persists — saveAsTable is a CREATE here and
        // refuses an orphaned location, so clear the previous process's
        // artifact first (a metastore deployment keeps the entry instead
        // and never re-enters this branch)
        val wh = s.conf.get("spark.sql.warehouse.dir")
        graft.etl.StoreFs.deleteRecursive(graft.etl.StoreFs.fs(s, wh), s"$wh/$t")
        tradeEdges(s, dir).write.mode("overwrite")
          .bucketBy(nBuckets, "src").sortBy("src").saveAsTable(t)
      }
    }
    s.table(t)
  }

  private val bucketStageLock = new Object

  /** ONE spelling of the trade-graph edge CTEs for every oracle (the
    * pageRank and BFS oracles both start here): must stay semantically
    * identical to [[tradeEdges]] — a drift in any copy of the 2k/2k+1
    * node encoding or the symmetrization would silently break oracle
    * parity for whichever query kept the stale text.
    */
  private def tradeEdgesCte: String =
    """e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)""".stripMargin

  /** DuckDB oracle: the identical integer recurrence with the iteration
    * chain unrolled into CTEs (r1..r5), `//` mirroring `div` and the
    * per-round CAST pinning DuckDB's HUGEINT sum back to BIGINT.
    */
  private def pageRankOracleSql: String = {
    val S = RankScale
    val iterCtes = (1 to PrIters).map { i =>
      s"""r$i AS (SELECT b.id, b.d, CAST((15 * ($S // (SELECT c FROM nn))) // 100
         |         + (85 * s.t) // 100 AS BIGINT) AS r
         |       FROM base b JOIN (SELECT e.dst AS id, sum(r.r // r.d) AS t
         |                         FROM edges e JOIN r${i - 1} r ON e.src = r.id
         |                         GROUP BY e.dst) s ON s.id = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesCte,
       |base AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS c FROM base),
       |r0 AS (SELECT id, d, $S // (SELECT c FROM nn) AS r FROM base),
       |$iterCtes
       |SELECT id AS node_id, r AS rank_units FROM r$PrIters ORDER BY node_id""".stripMargin
  }

  /** Bounded-hop BFS distances from `source` over a symmetrized edge
    * list: `rounds` Bellman–Ford relaxations, each ONE node-keyed
    * equi-join (frontier distances onto edge sources) plus one per-dst
    * min aggregation — the Pregel message pattern again, with min
    * instead of sum. Distances are hop counts (exact integers);
    * unreached nodes after `rounds` hops emit −1. Per-round state is
    * the (id, d) table, lineage-cut like [[pageRank]]'s; at deployment
    * scale both sides bucket by node id so the per-round join
    * co-locates (the [[pageRank]] evidence — BucketingSpec + PLANS.md —
    * covers this join, same key shape).
    */
  /** @param truncateEdges as [[pageRank]]'s: pass false when `edges0` is
    *   a BUCKETED table scan so every relaxation round's join co-locates
    *   on the bucketed side instead of re-shuffling it.
    */
  def bfsHops(edges0: DataFrame, source: Long, rounds: Int,
      truncateEdges: Boolean = true): DataFrame = {
    val edges0sel = edges0.select("src", "dst")
    val edges = if (truncateEdges) edges0sel.localCheckpoint(true) else edges0sel
    val nodes = edges.select(col("src").as("id")).distinct().localCheckpoint(true)
    var d = nodes.withColumn("d",
      when(col("id") === source, lit(0L)).otherwise(lit(null).cast("long")))
    for (_ <- 1 to rounds) {
      val relaxed = edges
        .join(d.filter(col("d").isNotNull)
          .select(col("id").as("src"), col("d").as("ds")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("ds") + 1).as("dn"))
      d = d.join(relaxed, Seq("id"), "left")
        .select(col("id"), least(coalesce(col("d"), col("dn")),
          coalesce(col("dn"), col("d"))).as("d"))
        .localCheckpoint(true)
    }
    d.select(col("id").as("node_id"), coalesce(col("d"), lit(-1L)).as("hops"))
  }

  private val BfsRounds = 6

  /** DuckDB oracle for g2: an INDEPENDENT algorithm — recursive BFS
    * enumeration bounded at [[BfsRounds]] hops, min per node — rather
    * than the unrolled relaxation, so the check is cross-algorithm as
    * well as cross-engine.
    */
  private def bfsOracleSql: String =
    s"""WITH RECURSIVE $tradeEdgesCte,
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, d) AS (
       |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
       |  UNION
       |  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.id
       |  WHERE r.d < $BfsRounds),
       |md AS (SELECT id, min(d) AS d FROM reach GROUP BY id)
       |SELECT n.id AS node_id, coalesce(md.d, -1) AS hops
       |FROM nodes n LEFT JOIN md ON md.id = n.id ORDER BY node_id""".stripMargin

  val qs: Seq[Q] = Seq(
    // g1 — link-graph influence rank as a corpus-quality prior: 5
    // damped power-iteration rounds over the trading graph, integer
    // micro-unit arithmetic end-to-end so the DuckDB oracle reproduces
    // every rank bit-for-bit. DELIBERATE UNBUCKETED BASELINE: g1b is
    // the canonical entry point for iterative graph work — the measured
    // bucketed advantage widens every decade (1.4× → 2.3× → 3.8×,
    // COVERAGE.md three-decade trend table) because g1's per-round edge
    // re-shuffle grows with data while g1b's round stays join-local.
    // g1 stays oracled as the pair's control, the same role the
    // unbucketed side plays in BucketingSpec.
    Q("g1_pagerank", Some(pageRankOracleSql),
      (s, dir) => pageRank(tradeEdges(s, dir), PrIters).orderBy("node_id"))
,
    // g1b — THE canonical iterative-graph path: g1 over the bucketed-
    // edge layout (see [[bucketedTradeEdges]]) — the same 5 damped
    // rounds, same oracle, but every round's edges⋈ranks join reads the
    // node-id-bucketed table instead of re-shuffling the fact side.
    // COVERAGE.md carries the measured three-decade g1-vs-g1b trend.
    Q("g1b_pagerank_bucketed", Some(pageRankOracleSql),
      (s, dir) => pageRank(bucketedTradeEdges(s, dir), PrIters,
        truncateEdges = false).orderBy("node_id"))
,
    // g2 — bounded-hop BFS distance from customer 0's node over the
    // trading graph (6 relaxation rounds; unreached → −1). The oracle
    // recomputes it with a bounded recursive enumeration — a different
    // algorithm on a second engine agreeing on every hop count. Routed
    // through the bucketed-edge staging (the g1b canonicalization
    // applied to the OTHER iterative family: rounds ≥ 3 amortize the
    // staged layout, and the per-round frontier⋈edges join is the same
    // node-keyed shape the bucketing co-locates).
    Q("g2_bfs_hops", Some(bfsOracleSql),
      (s, dir) => bfsHops(bucketedTradeEdges(s, dir), source = 0L,
        rounds = BfsRounds, truncateEdges = false).orderBy("node_id"))
  )
}
