/** Plan audit: dumps `explain("formatted")`-level physical-plan evidence
  * for the flagship queries into PLANS.md — the artifact backing
  * SCALING.md's claims (pushdown, pruning, broadcast placement, partial
  * aggregation). `sbt "runMain ExplainAudit"`.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val dir = "/root/testdata/sf0.01"
    val names = Seq(
      "p3_mask_filter", "p5_key_lookup", "v4_triplet_join", "j5_radius_join",
      "v1_voxelize", "j8_asof_join", "nn1_knn_brute", "dd2_minhash_lsh",
      "nn3_ivf_ann", "x7_seq_packing", "pipe1_clean_corpus", "w2_topk",
      "st1_window_agg", "t4c_coo_scatter", "nn5_pq_ann", "dd8_chunk_dedup",
      "tpch_q5", "x12_tfidf", "st3_interval_join", "st3b_interval_join_custom",
      "st3c_interval_join_outer", "tpch_q17", "tpch_q4", "j9_notin_anti",
      "tpch_q21_shape", "s9_dpp_star", "dd9_incremental_dedup",
      "tpch_q13", "tpch_q20_shape", "tpch_q18", "tpch_q2_shape",
      "tpch_q15_shape", "tpch_q19_shape", "tpch_q11_shape", "j10_skew_salted",
      "tpch_q7_shape", "tpch_q8_shape", "tpch_q10_shape", "tpch_q16_shape",
      "dd10_semdedup", "x18_temperature_mixture",
      "s9b_dpp_zorder_star", "k9_manifest_prune", "g1_pagerank",
      "nn8_mips_ann", "x19_chunk_windows",
      "pipe2_training_chunks", "x20_bigram_familiarity", "k9b_snapshot_diff",
      "st1b_sliding_agg", "dd11_cdc_chunks",
      "nn9_kmeans_lloyd", "dd12_bloom_probe", "x21_dup_ngram_frac",
      "a13_covar_corr", "er1_fuzzy_match", "ev1_resample_locf",
      "ev3_funnel", "g2_bfs_hops", "ft2_target_encode", "j11_band_join",
      "ivm1_delta_agg", "ivm2_cdc_agg", "ivm2b_cdc_minmax",
      "ivm3_mv_rewrite", "ivm3c_mv_key_filter", "ivm3d_mv_inlist",
      "ivm3e_mv_regroup", "ivm3f_mv_count_distinct", "ivm3g_mv_avg",
      "ivm5_declared_view", "ivm6_multi_ext", "ivm7_events_view",
      "ivm8_distinct_view", "ivm8b_mv_distinct", "ivm4_join_view")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for flagship queries\n\n")
    sb.append("Generated by `sbt \"runMain ExplainAudit\"` at sf0.01 in the bench\n")
    sb.append("session (graft.Session: " +
      s"${spark.conf.get("spark.sql.shuffle.partitions")} shuffle partitions, AQE on,\n")
    sb.append("scan fan-out on). Interesting lines only: scans (pushdown + read\n")
    sb.append("schema), joins, exchanges, aggregates.\n")
    for (name <- names) {
      sb.append(s"\n## $name\n\n```\n")
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      plan.split("\n").filter(l =>
        l.contains("Scan parquet") || l.contains("Join") || l.contains("Exchange") ||
          l.contains("HashAggregate") || l.contains("TakeOrderedAndProject") ||
          l.contains("Window") || l.contains("Generate") || l.contains("Sort"))
        .take(24)
        .map { raw =>
          val l = raw.replaceAll("#\\d+L?", "").trim
          // a dynamically-pruned scan carries its evidence deep inside the
          // line — keep the PartitionFilters segment visible past the cut
          val i = l.indexOf("PartitionFilters:")
          if (i >= 0 && l.contains("dynamicpruning"))
            l.take(math.min(150, i)) + "… " + l.substring(i).take(280)
          else l.take(240)
        }
        .foreach(l => sb.append(l).append("\n"))
      sb.append("```\n")
      println(s"[audit] $name done")
    }
    // sorted-write layout: measured row-group pruning evidence (the
    // writer-side half of P5's min/max-pruning story; SourcesSpec pins
    // the same numbers as assertions)
    val (sortedRows, unsortedRows) = graft.etl.SinkOps.rowGroupPruneStats(spark, dir)
    sb.append("\n## sorted-write row-group pruning (K1/K2 layout)\n\n")
    sb.append("`sortWithinPartitions` before the parquet write gives each row\n")
    sb.append("group tight min/max stats on the sort column. Same 21-key range\n")
    sb.append("lookup over two layouts of lineitem (32 KB row groups, sf0.01):\n\n")
    sb.append(s"- sorted by l_orderkey: scan emits **$sortedRows** rows (pruned row groups)\n")
    sb.append(s"- scrambled: scan emits **$unsortedRows** rows (stats prune nothing;\n")
    sb.append("  an exact-key probe would still dictionary-prune, a RANGE cannot)\n")

    // runtime bloom-filter join pruning: the row-level sibling of
    // s9_dpp_star for the case where the dim cannot broadcast and the
    // fact is not partitioned on the join key (RuntimeFilterSpec pins
    // the same rewrite as an assertion)
    Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10")
      .foreach { case (k, v) => spark.conf.set(k, v) }
    import org.apache.spark.sql.functions.{col, count, lit}
    val bloomQ = graft.Tables(spark, dir, "lineitem")
      .join(graft.Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("2001-01-01 00:00:00").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
    bloomQ.collect()
    sb.append("\n## runtime bloom-filter join pruning (no-broadcast, no-DPP case)\n\n")
    sb.append("When the dim is too big to broadcast and the fact is not\n")
    sb.append("partitioned on the join key, InjectRuntimeFilter builds a bloom\n")
    sb.append("filter over the FILTERED dim keys and probes it on the fact scan\n")
    sb.append("side before the shuffle (thresholds zeroed here so the rewrite\n")
    sb.append("engages at sf0.01; production gates on scan sizes):\n\n```\n")
    bloomQ.queryExecution.executedPlan.toString.split("\n")
      .filter(l => l.contains("Scan parquet") || l.contains("Join") ||
        l.contains("Exchange") || l.contains("Filter") || l.contains("ObjectHashAggregate"))
      .take(24)
      .map(l => l.replaceAll("#\\d+L?", "").trim.take(240))
      .foreach(l => sb.append(l).append("\n"))
    sb.append("```\n")
    // z-order layout: measured two-dimensional row-group pruning
    // (ZOrderSpec pins the same inequalities as assertions)
    val ((sortA, sortB), (zA, zB)) = graft.etl.ZOrder.zorderPruneStats(spark, dir)
    sb.append("\n## z-order write layout (two-column row-group pruning)\n\n")
    sb.append("Same 1/16th-range probe on each key over two layouts of lineitem\n")
    sb.append("(32 KB row groups, sf0.01). Sorting by l_partkey alone leaves\n")
    sb.append("l_suppkey ranges unprunable; the Morton-interleaved layout bounds\n")
    sb.append("every row group's rectangle in BOTH keys:\n\n")
    sb.append(s"- sorted by l_partkey: partkey-range scan emits **$sortA** rows,\n")
    sb.append(s"  suppkey-range scan emits **$sortB** (no pruning)\n")
    sb.append(s"- z-ordered (l_partkey, l_suppkey): partkey-range **$zA**,\n")
    sb.append(s"  suppkey-range **$zB** — both dimensions prune\n")

    // the composed 100 TB read path: DPP over directories + z-slab
    // file/row-group stats in ONE plan (SourcesSpec pins the same
    // numbers as assertions at sf0.001)
    {
      // undo the bloom section's broadcast kill-switch — DPP prunes by
      // REUSING the dim broadcast (reuseBroadcastOnly default), so with
      // broadcasts disabled the runtime numPartitions metric reads 30/30
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtimeFilter.number.threshold")
        .foreach(spark.conf.unset)
      val (factDir, dimDir) = graft.sources.LayoutOps.partitionedZorderLayout(spark, dir)
      val q = graft.sources.LayoutOps.weekendUserStar(spark, factDir, dimDir)
      q.collect()
      val scans = graft.plans.PlanScans.fileScans(q.queryExecution.executedPlan)
        .filter(_.relation.partitionSchema.nonEmpty)
      val partsRead = scans.head.metrics("numPartitions").value
      val scanned = scans.map(_.metrics("numOutputRows").value).sum
      val weekendRows = graft.Tables(spark, dir, "events")
        .filter(org.apache.spark.sql.functions.dayofweek(
          col("ts").cast("date")).isin(1, 7)).count()
      val totalRows = graft.Tables(spark, dir, "events").count()
      sb.append("\n## s9b composed layout — BOTH pruning layers in one scan\n\n")
      sb.append("events partitioned by event_date AND z-ordered (user_id, value)\n")
      sb.append("within each directory. The weekend star with `user_id < 10`:\n")
      sb.append("DPP prunes the directory layer, z-slab min/max stats prune the\n")
      sb.append("file/row-group layer INSIDE the surviving directories:\n\n")
      sb.append(s"- directories read: **$partsRead of 30** (dynamicpruning# filter)\n")
      sb.append(s"- fact scan emits **$scanned** rows of $weekendRows weekend rows\n")
      sb.append(s"  ($totalRows total) — the user predicate pruned inside the\n")
      sb.append("  weekend directories via the z-clustered statistics\n\n```\n")
      q.queryExecution.executedPlan.toString.split("\n")
        .filter(l => l.contains("Scan parquet") || l.contains("Join") ||
          l.contains("Exchange") || l.contains("HashAggregate"))
        .take(12)
        .map { raw =>
          val l = raw.replaceAll("#\\d+L?", "").trim
          val i = l.indexOf("PartitionFilters:")
          if (i >= 0 && l.contains("dynamicpruning"))
            l.take(math.min(150, i)) + "… " + l.substring(i).take(280)
          else l.take(240)
        }
        .foreach(l => sb.append(l).append("\n"))
      sb.append("```\n")
    }

    // manifest-based file pruning: the metadata layer ABOVE row groups
    {
      val (_, manifestDir) = graft.sources.LayoutOps.manifestLayout(spark, dir)
      val total = spark.read.parquet(manifestDir).count()
      val picked = graft.sources.LayoutOps.manifestSelect(spark, manifestDir, 100L, 500L)
      sb.append("\n## k9 manifest pruning (file-level scan planning)\n\n")
      sb.append("Per-file (min,max,rows) manifest over the range-partitioned\n")
      sb.append("lineitem layout; the l_orderkey BETWEEN 100 AND 500 probe\n")
      sb.append(s"selects **${picked.length} of $total** data files from the\n")
      sb.append("manifest alone — footers of the other files are never opened.\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("[audit] wrote PLANS.md")
    spark.stop()
  }
}
