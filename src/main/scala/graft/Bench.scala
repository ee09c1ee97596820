package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dead-session scratch orphans are deleted DIRECTLY (they are dead
    // files, not GC-pending references — the r14 sweep died at rc 124
    // GC-spinning on 31 GB of exactly this), then the surviving dirs are
    // marked foreign so settle only ever gauges THIS session's debris.
    // Must run before the SparkSession exists. SPARK_GRAFT_PURGE=0 skips
    // the purge (concurrent-session paranoia; staleness already guards).
    graft.tools.Reclaim.beforeSession(
      purge = sys.env.getOrElse("SPARK_GRAFT_PURGE", "1") == "1")
    val spark = Session.local()
    // stderr, never stdout: stdout carries only the result JSON lines
    def warn(what: String, e: Throwable): Unit =
      System.err.println(s"# $what ${e.getClass.getSimpleName}: ${e.getMessage}")
    // Warm the session (shuffle machinery, codegen, parquet footers) so
    // the first timed query doesn't absorb one-time JVM startup cost, and
    // touch every bench table once so footer reads + OS page cache aren't
    // charged to whichever query alphabetically happens to scan it first.
    try SparkEntry.entry(spark).count()
    catch { case NonFatal(e) => warn("session warm-up failed", e) }
    graft.Tables.names.foreach { t =>
      try graft.Tables(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => warn(s"touching table $t failed", e) }
    }
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // Fixed (name-sorted) query order so per-round timings are comparable.
    // A failed query records JSON null (not a fake duration) so breakage is
    // visible in the bench output instead of silently deflating the total.
    // Optional comma-separated subset filter for local profiling runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty).map(_.split(",").toSet)
    // Time each query `reps` times and keep the minimum. The default is 2:
    // single-shot in-suite timings carry 3-5 s of JIT/GC warmup noise on
    // whichever queries sort first or follow the heavy dedup family
    // (measured round 4: a10 5.88 s single-shot vs 0.95 s isolated
    // min-of-3; dd6 10.16 vs 3.62), so a one-shot total overstates the
    // true suite cost by ~25%. min-of-2 separates plan cost from warmup
    // while keeping the wall-clock affordable; SPARK_GRAFT_REPS overrides
    // for deeper profiling runs.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // Warm-up rep (default ON): one UNTIMED execution of each query before
    // its timed reps, its duration recorded to stderr beside the timed
    // readings. Motivation (COVERAGE.md bench notes, rounds 4-7): in-suite
    // single-query readings repeatedly ran 2-6× their isolated reps=3
    // numbers (j5 8.59 vs 0.97, k7 6.92 vs 3.13, a10c 5.82 vs 0.92) —
    // first-touch JIT/GC/code-cache noise charged to whichever query hit
    // it, burning a re-adjudication every round. The warm-up rep absorbs
    // that cost outside the timing window; the explicit System.gc() after
    // each query stops one query's garbage from inflating the next's
    // readings (the other suite-ordering mechanism). SPARK_GRAFT_WARMUP=0
    // restores the bare protocol for comparisons.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
    // --- Sentinel protocol (round 12, verdict #6): three fixed cheap
    // queries timed at sweep START and END. Their ratio to PINNED
    // reference times turns ambient machine drift into a number the
    // round-over-round diff divides out — rounds 10-11 each needed an
    // adjudication essay for 1.2-1.7× ambient swings this makes
    // mechanical. The trio spans the three cost archetypes: scan+agg
    // (q1), shuffle join (j1), shuffle agg (v1); start vs end also
    // exposes drift DURING the sweep itself.
    val sentinelNames = Seq("tpch_q1", "j1_hash_join", "v1_voxelize")
    // Pinned reference: this machine class, sf0.1, min-of-2 after a
    // warm-up rep (the values measured when the protocol landed).
    // Re-pin whenever the sentinel protocol or machine class changes.
    val sentinelRef = Map(
      "tpch_q1" -> 1.05, "j1_hash_join" -> 0.46, "v1_voxelize" -> 0.55)
    def timeSentinels(): Map[String, Double] = sentinelNames.flatMap { n =>
      SparkEntry.queries.get(n).map { fn =>
        def run(): Double = {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case NonFatal(e) =>
            warn(s"sentinel $n failed", e)
            return Double.NaN
          }
          (System.nanoTime() - t0) / 1e9
        }
        run() // warm-up, unrecorded
        n -> (1 to 2).map(_ => run()).min
      }
    }.toMap
    // --- Between-query reclamation (round 14, verdict #2). The sf100
    // campaign's dd2/dd6 WARM-UP runs died on `No space left on device`
    // while PRIOR queries' shuffle debris awaited the ContextCleaner's
    // asynchronous post-GC deletion and /tmp/graft_root accumulated
    // store versions — the numbers survived only by retry on a cleaner
    // disk (SCALING.md §three-decade item 2). After each query: drop
    // the view registrations (so the scratch wipe can never strand a
    // pinned view relation), wipe the per-user scratch root (store
    // versions, staged corpora — the next query that needs a store
    // restages in its own UNTIMED warm-up, so timed reps are
    // unaffected), and give the cleaner a bounded settle window
    // whenever shuffle debris exceeds a size that matters. Timing
    // semantics of the timed reps are unchanged at every scale; only
    // inter-query disk pressure is. Default is SCALE-GATED (round 15,
    // verdict #1c): disk pressure only exists when a single run's
    // shuffle is disk-scale, so the path engages when the corpus is
    // ≥1 GB (sf10's 2 GB and sf100's 21 GB yes; sf0.1's 17 MB no —
    // the driver's sf0.1 sweep keeps the r13 shape that completes in
    // budget, and store-using queries stop restaging every warm-up).
    // SPARK_GRAFT_RECLAIM=1/0 forces either side. Not for use
    // concurrently with a test-suite run (the scratch root is
    // per-user, shared).
    def dirBytes(p: String): Long = {
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      du(new java.io.File(p))
    }
    val reclaim = sys.env.get("SPARK_GRAFT_RECLAIM") match {
      case Some("1") => true
      case Some("0") => false
      case _ => dirBytes(sfDir) >= (1L << 30)
    }
    def reclaimScratch(): Unit = if (reclaim) {
      graft.plans.MvRegistry.clear()
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_${System.getProperty("user.name")}")
      def rm(f: java.io.File): Unit = {
        val ch = if (java.nio.file.Files.isSymbolicLink(f.toPath)) null
          else f.listFiles()
        if (ch != null) ch.foreach(rm)
        f.delete(): Unit
      }
      Option(root.listFiles()).getOrElse(Array.empty).foreach(rm)
      // bucketed staging tables are warehouse-persisted memos (g1b's
      // sf100 table is 6.8 GB); drop CATALOG-AWARE so entry and files
      // go together — the next user restages in its own untimed warm-up
      try spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_trade_edges_b"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      catch { case NonFatal(e) => warn("dropping staged tables failed", e) }
      settleIfLarge()
    }
    // Trigger/drain split (round-14 campaign measurement): dd2's sf100
    // warm-up still hit ENOSPC with an 8 GB settle FLOOR — its own
    // single-run shuffle nearly fills the free disk, so up to 8 GB of
    // inherited debris is exactly the failure margin. Settle engages
    // only above the 8 GB trigger (so ~200 toy-scale queries never pay
    // GC spins) but then drains to 2 GB.
    def settleIfLarge(): Unit =
      if (reclaim && graft.tools.Reclaim.debrisBytes() > (8L << 30))
        graft.tools.Reclaim.settle(floorBytes = 2L << 30, maxWaitMs = 60000): Unit
    val sfIs01 = sfDir.contains("sf0.1")
    val sentStart = if (sfIs01) timeSentinels() else Map.empty[String, Double]
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Mid-sweep sentinel pass (round 14, verdict #3): the r13 driver and
    // builder sweeps of the SAME code disagreed 29% normalized — more
    // than the round-over-round deltas being judged — because two
    // sentinel pairs (start/end) cannot see contention that moves only
    // the middle of a ~200-query sweep. A third pass halves the
    // ambient-sampling gap; the scale becomes the geomean of up to NINE
    // readings. The measured same-code spread under this protocol is
    // pinned in COVERAGE.md's bench notes with the adopted mover band.
    val midAt = picked.size / 2
    var sentMid = Map.empty[String, Double]
    val results = picked.zipWithIndex.map { case ((name, fn), qi) =>
      if (sfIs01 && picked.size > 8 && qi == midAt) sentMid = timeSentinels()
      val warmDt = if (!warmup) -1.0 else {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(e) =>
          // visible, not swallowed — a warm-up failure usually predicts
          // the timed reps failing too (fatal Errors propagate)
          warn(s"$name: WARMUP FAILED", e)
        }
        // timestamp BEFORE the cache clear + GC: the recorded figure is
        // the query's first-touch cost, not the housekeeping after it
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        // the warm-up's own debris must not sink rep 1 (dd2 at sf100
        // writes ~40 GB of shuffle per run); scratch stores are NOT
        // wiped here — that would change the timed reps' semantics
        settleIfLarge()
        dt
      }
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // noop write executes the FULL physical plan (including top-level
        // sorts, which a bare .count() lets EliminateSorts drop) without
        // materializing output.
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case NonFatal(e) => warn(s"$name: FAILED", e); false }
        val dt = (System.nanoTime() - t0) / 1e9
        // Operators that cache intermediates (dedup cliques) would otherwise
        // leave them resident and skew every later query's timing via memory
        // pressure (measured: x5 7.3 s clean vs 24.6 s after dd2's cache).
        spark.catalog.clearCache()
        if (warmup) System.gc()
        (dt, ok)
      }
      if (reps > 1 || warmup) System.err.println(
        s"# $name: ${runs.map(r => f"${r._1}%.2f").mkString(" ")}" +
          (if (warmup) f" (warmup $warmDt%.2f)" else ""))
      reclaimScratch() // between queries, never between a query's reps
      (name, runs.map(_._1).min, runs.forall(_._2))
    }
    val total = results.collect { case (_, t, true) => t }.sum
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) f2(v) else "null") }
      .mkString("{", ",", "}")
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    // Sentinel end pass + ambient scale: geometric mean of measured/ref
    // across the six readings (3 queries × start/end). scale > 1 ⇒ the
    // machine ran that much slower than the pinned reference session;
    // norm_total = total / scale is the ambient-corrected figure.
    val sentEnd = if (sfIs01) timeSentinels() else Map.empty[String, Double]
    val sentRatios = (sentStart.toSeq ++ sentMid.toSeq ++ sentEnd.toSeq).collect {
      case (n, t) if sentinelRef.contains(n) && !t.isNaN && t > 0 =>
        t / sentinelRef(n)
    }
    val sentScale =
      if (sentRatios.isEmpty) Double.NaN
      else math.exp(sentRatios.map(math.log).sum / sentRatios.size)
    // Round-15 spread measurement (two same-code sweeps back-to-back):
    // per-query raw medians agreed to 1.6% while the GEOMEAN scale read
    // 2.58 vs 1.61 — the start pass runs minutes after JVM birth and its
    // residual JIT/page-cache inflation (measured 2.5–4.6× vs 1.2–1.3×
    // at mid/end) drags a mean of logs far more than a median. The
    // MEDIAN of the same nine ratios is the robust companion reading —
    // emitted beside the geomean (never instead: round-over-round
    // comparability of `sentinel_scale`/`norm_total` is preserved);
    // COVERAGE.md's round-15 bench note adopts the median for
    // adjudication.
    val sentScaleMed =
      if (sentRatios.isEmpty) Double.NaN
      else {
        val s = sentRatios.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    val sentJson = sentinelNames.flatMap(n =>
      for { s <- sentStart.get(n); e <- sentEnd.get(n) }
        yield sentMid.get(n) match {
          case Some(m) => s""""$n":[${f2(s)},${f2(m)},${f2(e)}]"""
          case None => s""""$n":[${f2(s)},${f2(e)}]"""
        }).mkString("{", ",", "}")
    // Movers vs the COMMITTED previous sweep (bench_prev.json, written by
    // the builder at each round close): per-query normalized deltas
    // (each side divided by its own sweep's sentinel scale), reported
    // when the normalized change is both >0.3 s and >1.25× — the verdict
    // reads regressions off this table instead of re-adjudicating.
    val prevTxt = try Some(scala.io.Source.fromFile("bench_prev.json").mkString)
      catch { case NonFatal(e) => warn("no previous sweep to diff", e); None }
    val prevScale = prevTxt.flatMap(t =>
      """"sentinel_scale":([0-9.]+)""".r.findFirstMatchIn(t).map(_.group(1).toDouble))
      .getOrElse(1.0)
    val resultNames = results.map(_._1).toSet
    val prevQ: Map[String, Double] = prevTxt.map { t =>
      val inner = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(t).map(_.group(1)).getOrElse("")
      """"([A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(inner)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter { case (n, _) => resultNames.contains(n) }.toMap
    }.getOrElse(Map.empty)
    val scaleNow = if (sentScale.isNaN) 1.0 else sentScale
    val movers = results.collect {
      case (n, t, true) if prevQ.contains(n) =>
        val curN = t / scaleNow
        val prevN = prevQ(n) / prevScale
        (n, prevN, curN)
    }.filter { case (_, p, c) =>
      math.abs(c - p) > 0.3 && (c > p * 1.25 || p > c * 1.25)
    }.sortBy { case (_, p, c) => -math.abs(c - p) }.take(12)
    val moversJson = movers.map { case (n, p, c) =>
      s""""$n":[${f2(p)},${f2(c)}]""" }.mkString("{", ",", "}")
    movers.foreach { case (n, p, c) =>
      System.err.println(f"# mover: $n norm ${p}%.2f -> ${c}%.2f") }
    // The driver captures only the LAST ~2000 bytes of output (and sbt's
    // own "[success] Total time ..." line lands after ours inside that
    // window). Rounds 1-3 all lost the score because the final line carried
    // the full per-query map (~2.3 KB at 96 queries) and was head-truncated
    // mid-line. So: the FULL map goes (a) to bench_full.json on disk and
    // (b) to stdout as its own earlier line (fine if the tail cuts it),
    // while the final line is a guaranteed-small (<1 KB) JSON object that
    // still carries every contract key (metric/value/unit/queries/sf) —
    // "queries" holds the fixed headline subset per the Bench contract
    // ("runs headline queries"), not all 90+.
    val sentScaleJson = if (sentScale.isNaN) "null" else f2(sentScale)
    val sentScaleMedJson = if (sentScaleMed.isNaN) "null" else f2(sentScaleMed)
    val normMedJson =
      if (sentScaleMed.isNaN || sentScaleMed <= 0) "null"
      else f2(total / sentScaleMed)
    val fullLine =
      s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$qs,""" +
        s""""sentinel":$sentJson,"sentinel_scale":$sentScaleJson,""" +
        s""""sentinel_scale_med":$sentScaleMedJson,"norm_total_med":$normMedJson,""" +
        s""""norm_total":${f2(total / scaleNow)},"movers":$moversJson,"sf":$sfNum}"""
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullLine) finally w.close()
    } catch { case NonFatal(e) => warn("writing bench_full.json failed", e) }
    println(fullLine)
    val headline = Seq(
      "tpch_q1", "tpch_q3", "tpch_q6", "v4_triplet_join", "v1_voxelize",
      "j1_hash_join", "dd2_minhash_lsh", "dd6_dedup_clusters",
      "pipe1_clean_corpus", "nn3_ivf_ann", "x9_decontaminate", "t11_lut_color")
    val byName = results.map { case (k, v, ok) => k -> (if (ok) f2(v) else "null") }.toMap
    val hqs = headline.flatMap(n => byName.get(n).map(v => "\"" + n + "\":" + v))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$hqs,"n_queries":${results.size},"sentinel_scale":$sentScaleJson,"norm_total":${f2(total / scaleNow)},"n_movers":${movers.size},"queries_full":"bench_full.json","sf":$sfNum}""")
    spark.stop()
  }
}
