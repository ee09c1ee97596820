package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Executable sf10 parity for the oracle-intractable heavy families —
  * turning GenScale's construction argument ("sf10 is `copies`
  * key-shifted FK-consistent copies of sf1.0, so per-shard results are
  * derivable from the sf1.0 runs the oracle verified") into a
  * measurement (SCALING.md §shard-parity).
  *
  * What is asserted, per family — the invariants the construction
  * ACTUALLY provides, which differ by family class:
  *
  * KEY-ONLY families (v7 voxel CC over (partkey, suppkey); g1b PageRank
  * over the trading graph) — copies are EXACTLY isomorphic structures
  * (keys shift, nothing else changes), so the strongest checks hold:
  *   - zero cross-shard components (disjoint key ranges cannot abut:
  *     v7's iy ranges are shard-disjoint, so +1-adjacency never crosses);
  *   - shard-0 equality with the standalone sf1.0 run (v7; g1b's rank
  *     constant S div N is global so sf1.0 equality does not apply);
  *   - TEN-WAY SHARD IDENTITY: every shard's result, un-shifted back to
  *     shard-0 coordinates, bit-identical to shard 0's.
  *
  * TEXT families (dd2 pairs, dd6 clusters) — GenScale's mutation is
  * TOKEN-keyed (every token with even crc32 gains a copy suffix), which
  * drives the AVERAGE cross-copy Jaccard to ≈0.33 but is NOT a per-doc
  * bound: a doc whose distinct tokens skew crc-odd mutates little and
  * its copies stay genuine near-dups. The construction therefore PLANTS
  * a cross-copy duplicate population (measured at sf10: 1.47 M of
  * 11.4 M dd2 pairs cross shards, median TRUE token-set Jaccard 0.70 vs
  * the 0.33 background — SCALING.md §sf10 shard parity), so "zero cross-shard
  * pairs" is the WRONG invariant. What does hold, and is asserted:
  *   - CROSS-SHARD PAIRS ARE SIGNAL: every cross-shard pair's true
  *     token-set Jaccard exceeds the 1/3 cross-copy background — none
  *     is a pure hash artifact (measured min 0.393);
  *   - SHARD-0 SUBSET LAW: sf10's within-shard-0 pairs are a SUBSET of
  *     the standalone sf1.0 pairs — a theorem of the construction
  *     (shard-0 sigs/cliques/band keys are unchanged; buckets only GAIN
  *     cross-copy members, so the bucket cap can only drop candidates,
  *     never mint them). Zero gained pairs asserted; losses reported
  *     (the cap effect: 122,874 = 9.3% at sf10).
  *   - dd6 cluster structure: cross-shard memberships exist exactly
  *     where planted duplicates connect copies; per-shard cluster
  *     counts asserted within a 5% band (isomorphic-up-to-mutation),
  *     cross-shard membership fraction reported.
  *
  * Usage: `runMain graft.tools.ShardParity [sf1Dir] [sf10Dir]`.
  * Exits non-zero on any failed assertion. Results recorded in
  * SCALING.md §shard-parity.
  */
object ShardParity {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) failures += 1
    println(s"[parity] ${if (ok) "PASS" else "FAIL"} $name" +
      (if (ok || detail.isEmpty) "" else s" — $detail"))
  }

  private def equalSets(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  def main(args: Array[String]): Unit = {
    val sf1 = args.lift(0).getOrElse("testdata/sf1.0")
    val sf10 = args.lift(1).getOrElse("testdata/sf10")
    val spark = graft.Session.local()
    try {
      run(spark, sf1, sf10)
      if (failures > 0) {
        println(s"[parity] $failures FAILED")
        sys.exit(1)
      }
      println("[parity] all assertions passed")
    } finally spark.stop()
  }

  /** Optional comma-separated section filter (dd2, dd6, v7, g1b) via
    * SPARK_GRAFT_PARITY_SECTIONS — the sf100 runs scope to the families
    * the verdict asked for instead of paying every family's
    * third-decade wall in one session.
    */
  private def wants(section: String): Boolean =
    sys.env.get("SPARK_GRAFT_PARITY_SECTIONS").filter(_.nonEmpty)
      .forall(_.split(",").map(_.trim).contains(section))

  def run(spark: SparkSession, sf1: String, sf10: String): Unit = {
    def span(dir: String, table: String, key: String): Long =
      Tables(spark, dir, table).agg(max(col(key))).head().getLong(0) + 1L
    val D = span(sf1, "documents", "doc_id")
    val C = span(sf1, "customer", "c_custkey")
    val S = span(sf1, "supplier", "s_suppkey")
    val P = span(sf1, "part", "p_partkey")
    val copies = (span(sf10, "documents", "doc_id") / D).toInt
    println(s"[parity] spans: doc=$D cust=$C supp=$S part=$P copies=$copies")

    // ---- dd2: minhash+LSH near-dup pairs (a, b, est_jaccard) ----------
    if (wants("dd2")) locally {
      val r1 = graft.quality.DedupOps.minhashPairs(spark, sf1, minEstJaccard = 0.8)
        .localCheckpoint(true)
      val r10 = graft.quality.DedupOps.minhashPairs(spark, sf10, minEstJaccard = 0.8)
        .localCheckpoint(true)
      val cross = r10.filter(floor(col("a") / D) =!= floor(col("b") / D))
        .localCheckpoint(true)
      val toks = Tables(spark, sf10, "documents")
        .select(col("doc_id"),
          array_distinct(split(trim(col("text")), "\\s+")).as("tok"))
      val trueJ = cross
        .join(toks.select(col("doc_id").as("a"), col("tok").as("ta")), "a")
        .join(toks.select(col("doc_id").as("b"), col("tok").as("tb")), "b")
        .select((size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb")))).as("true_j"))
        .localCheckpoint(true)
      check("dd2 cross-shard pairs are signal (true Jaccard > 1/3 background, all)",
        trueJ.filter(col("true_j") <= 1.0 / 3.0).isEmpty,
        s"artifact pairs at/below background: " +
          trueJ.filter(col("true_j") <= 1.0 / 3.0).count().toString)
      val dec = trueJ.select(expr(
        "percentile(true_j, array(0.0, 0.5, 1.0))")).head().getSeq[Double](0)
      println(f"[parity] dd2 cross-shard pairs=${cross.count()} of " +
        f"${r10.count()} (planted cross-copy duplicates); true-J " +
        f"min=${dec(0)}%.3f median=${dec(1)}%.3f max=${dec(2)}%.3f")
      val s0 = r10.filter(col("a") < D && col("b") < D)
      check("dd2 shard-0 subset law (sf10 within-shard-0 pairs gain NOTHING vs sf1.0)",
        s0.exceptAll(r1).isEmpty,
        s"gained pairs: ${s0.exceptAll(r1).count()}")
      println(s"[parity] dd2 shard-0 pairs lost to cross-copy bucket-cap " +
        s"pressure: ${r1.exceptAll(s0).count()} of ${r1.count()} " +
        "(caps are monotone in members, so losses are the only legal delta)")
    }

    // ---- dd6: dedup clusters (doc_id, cluster_rep) --------------------
    if (wants("dd6")) locally {
      val r10 = graft.quality.DedupOps.dedupClusters(spark, sf10, minEstJaccard = 0.95)
        .localCheckpoint(true)
      val crossFrac = r10
        .filter(floor(col("doc_id") / D) =!= floor(col("cluster_rep") / D))
        .count().toDouble / r10.count()
      println(f"[parity] dd6 cross-shard membership fraction=" +
        f"$crossFrac%.4f (planted cross-copy duplicates merge clusters)")
      val sizes = r10.groupBy(floor(col("doc_id") / D).as("shard"))
        .agg(countDistinct("cluster_rep").as("n_clusters"))
        .orderBy("shard").collect().map(_.getLong(1))
      check("dd6 per-shard cluster counts within a 5% band (isomorphic up to mutation)",
        sizes.max.toDouble / sizes.min <= 1.05,
        s"counts: ${sizes.mkString(",")}")
      println(s"[parity] dd6 per-shard cluster counts: ${sizes.mkString(",")}")
    }

    // ---- v7: voxel instances over the (partkey, suppkey) grid ---------
    if (wants("v7")) locally {
      def v7(dir: String) = graft.SparkEntry.queries("v7_voxel_instances")(spark, dir)
      val r1 = v7(sf1).localCheckpoint(true)
      val r10 = v7(sf10).localCheckpoint(true)
      // shard of an instance = its ix range; the packed id shifts
      // uniformly by c·(P·1e6 + S) because both coordinates translate
      val shard: Column = floor(col("min_ix") / P)
      check("v7 zero cross-shard components",
        r10.filter(floor(col("min_ix") / P) =!= floor(col("max_ix") / P) ||
          floor(col("min_iy") / S) =!= floor(col("max_iy") / S)).isEmpty)
      val unshifted = r10.select(
        (col("instance") - shard * (P * 1000000L + S)).as("instance"),
        col("n_vox"),
        (col("min_ix") - shard * P).as("min_ix"),
        (col("max_ix") - shard * P).as("max_ix"),
        (col("min_iy") - shard * S).as("min_iy"),
        (col("max_iy") - shard * S).as("max_iy"),
        shard.as("shard")).localCheckpoint(true)
      check("v7 shard-0 == standalone sf1.0",
        equalSets(unshifted.filter(col("shard") === 0).drop("shard"), r1))
      val distinctShardResults = unshifted
        .groupBy("instance", "n_vox", "min_ix", "max_ix", "min_iy", "max_iy")
        .agg(count(lit(1)).as("n"))
      check(s"v7 ten-way shard identity (every un-shifted row appears $copies times)",
        distinctShardResults.filter(col("n") =!= copies).isEmpty,
        s"rows not shared by all $copies shards: " +
          distinctShardResults.filter(col("n") =!= copies).count().toString)
    }

    // ---- g1b: bucketed PageRank (node_id, rank_units) -----------------
    if (wants("g1b")) locally {
      val r10 = graft.SparkEntry.queries("g1b_pagerank_bucketed")(spark, sf10)
        .localCheckpoint(true)
      // node encoding: even = 2·custkey, odd = 2·suppkey + 1; un-shift
      // within each id class
      val shard: Column = when(col("node_id") % 2 === 0,
        floor(col("node_id") / lit(2L) / C))
        .otherwise(floor((col("node_id") - 1) / lit(2L) / S))
      val unshifted = r10.select(
        when(col("node_id") % 2 === 0, col("node_id") - shard * 2L * C)
          .otherwise(col("node_id") - shard * 2L * S).as("node_id"),
        col("rank_units"), shard.as("shard")).localCheckpoint(true)
      val distinctRows = unshifted.groupBy("node_id", "rank_units")
        .agg(count(lit(1)).as("n"))
      check(s"g1b ten-way shard identity (rank constant S div N is global, " +
        s"so the exact invariant is cross-shard, not vs sf1.0)",
        distinctRows.filter(col("n") =!= copies).isEmpty,
        s"rows not shared by all $copies shards: " +
          distinctRows.filter(col("n") =!= copies).count().toString)
    }
  }
}
