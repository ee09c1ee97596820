package graft

import graft.quality.DedupOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the oracle-free sketch operators: planted near-duplicates
  * must surface, estimates must track exact Jaccard, identical docs must
  * collide exactly.
  */
class DedupSpec extends AnyFunSuite with SparkSuite {

  /** Write a tiny documents table with planted near/exact duplicates. */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val base = (0 until 40).map { i =>
      val rng = new scala.util.Random(i)
      val words = Seq.fill(60)(s"w${rng.nextInt(500)}")
      (i.toLong, words.mkString(" "), "en", s"src$i", 0L)
    }
    // 100: exact copy of 0; 200+i: near-copy of i (1 word changed,
    // token-set jaccard ≈ 0.967) for i in 1..10. Banded LSH is a RECALL
    // device, not a guarantee: for any fixed (corpus, hash family) a
    // given plant either collides in some band or deterministically
    // doesn't, and at j ≈ 0.97 the per-pair miss probability over the
    // family choice is ~1% (all ≥4 mismatching minhashes landing one per
    // band). One planted pair makes the test a lottery over the family
    // constant; ten planted pairs with a ≥9/10 recall assertion is
    // robust (P[≥2 misses] ≈ 0.4%) and states the operator's actual
    // contract.
    val near = (100L, base(0)._2, "en", "srcA", 0L) +: (1 to 10).map { i =>
      val w = base(i)._2.split(" ").toVector.updated(10, s"zzz$i")
      (200L + i, w.mkString(" "), "en", s"srcN$i", 0L)
    }
    val dir = java.nio.file.Files.createTempDirectory("planted").toString
    (base ++ near).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("minhash LSH finds planted exact and near duplicates") {
    val pairs = DedupOps.minhashPairs(spark, plantedDir, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.contains((0L, 100L)), s"exact dup not found in ${pairs.toSeq}")
    assert(m((0L, 100L)) == 1.0)
    val found = (1 to 10).map(i => (i.toLong, 200L + i)).filter(m.contains)
    assert(found.size >= 9, s"recall ${found.size}/10; pairs ${pairs.toSeq}")
    // near-dup true token-set jaccard ≈ 59/61 ≈ 0.967; estimates from 32
    // minhashes should land within ±0.25
    found.foreach(k => assert(math.abs(m(k) - 0.97) < 0.25, s"$k est ${m(k)}"))
    // unrelated docs (disjoint-ish random vocab) must not flood the output
    assert(pairs.length < 60)
  }

  test("over-cap buckets are enumerated chunked, not dropped: identical pair set") {
    import spark.implicits._
    // A dense near-dup family: 60 docs sharing a 50-token base plus 5
    // unique tokens each (pairwise J ≈ 0.83) — signatures distinct, and
    // per band roughly half the family lands in one bucket, far above the
    // shrunk expansion threshold below.
    val rng = new scala.util.Random(7)
    val baseTok = Seq.fill(50)(s"b${rng.nextInt(3000)}")
    val fam = (0 until 60).map { i =>
      (i.toLong, (baseTok ++ (0 until 5).map(j => s"u${i}_$j")).mkString(" "),
        "en", s"fam$i", 0L)
    }
    val dir = java.nio.file.Files.createTempDirectory("densefam").toString
    fam.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cliques = DedupOps.minhashCliques(spark, dir).cache()
    try {
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val direct = DedupOps.repPairs(cliques, 0.5, 1).collect().map(key).toSet
      val chunked = DedupOps.repPairs(cliques, 0.5, 1, expandCap = 8, chunk = 5)
        .collect().map(key).toSet
      assert(direct.nonEmpty, "planted dense family produced no candidate pairs")
      // the shrunk-threshold run must have actually exercised the chunked
      // path — at least one bucket above expandCap — or this test is vacuous
      val maxBucket = DedupOps.bandedSigs(
        cliques.select(element_at(col("ids"), 1).as("doc_id"), col("sig")))
        .groupBy("band", "bkey").count().agg(max("count")).head().getLong(0)
      assert(maxBucket > 8,
        s"family too sparse to exceed the shrunk expansion threshold: max bucket $maxBucket")
      assert(chunked == direct,
        s"chunked enumeration diverged: only-direct=${(direct -- chunked).take(5)} " +
          s"only-chunked=${(chunked -- direct).take(5)}")
    } finally cliques.unpersist(blocking = false)
  }

  test("minhash estimate tracks exact token-set jaccard on real docs") {
    val exact = quality.TextOps.qs.find(_.name == "dd4_ngram_jaccard").get
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = DedupOps.minhashPairs(spark, sf, minEstJaccard = 0.7)
      .filter(col("a") < 200 && col("b") < 200)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val common = exact.keySet.intersect(est.keySet)
    assert(common.nonEmpty)
    val errs = common.toSeq.map(k => math.abs(exact(k) - est(k)))
    assert(errs.sum / errs.size < 0.15, f"mean |exact-est| = ${errs.sum / errs.size}%.3f")
  }

  test("simhash block-LSH: finds all hamming≤3 pairs (pigeonhole) and the planted dup") {
    val sh = DedupOps.simhashes(spark, plantedDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sh.keys.toSeq.sorted
    // clique representative = min doc id per identical signature
    val repOf = ids.groupBy(sh).flatMap { case (_, g) => g.map(_ -> g.min) }
    val bruteClose = (for (a <- ids; b <- ids if a < b;
        h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3) yield (a, b)).toSet
    // the two-tier output canonicalizes cross-clique pairs to (rep, rep)
    // and within-clique pairs to (rep, member) — expand the brute set the
    // same way (dd2's accepted contract)
    val expected = bruteClose.map { case (a, b) =>
      val (ra, rb) = (repOf(a), repOf(b))
      if (ra == rb) (ra, math.max(a, b)) else (math.min(ra, rb), math.max(ra, rb))
    }
    val blocked = DedupOps.simhashPairs(spark, plantedDir, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == expected) // pigeonhole guarantee at hamming ≤ 3
    val wide = DedupOps.simhashPairs(spark, plantedDir, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((0L, 100L))) // planted exact dup, hamming 0
  }

  test("a >1000-doc identical clique survives the bucket cap (linear pair emission)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val cliqueText = Seq.fill(50)(s"c${rng.nextInt(400)}").mkString(" ")
    val docs = (0 until 1600).map(i => (i.toLong, cliqueText, "en", "dup", 0L)) ++
      (1600 until 1650).map { i =>
        (i.toLong, Seq.fill(50)(s"u${rng.nextInt(100000)}").mkString(" "), "en", "uniq", 0L)
      }
    val dir = java.nio.file.Files.createTempDirectory("bigclique").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.simhashPairs(spark, dir, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every clique member pairs with the representative — none dropped
    val cliquePairs = pairs.filter(p => p._1 == 0L && p._3 == 0L)
    assert(cliquePairs.length == 1599, s"got ${cliquePairs.length} of 1599 clique pairs")
    // and the cap audit shows nothing silently dropped
    assert(DedupOps.simhashDroppedBuckets(spark, dir).isEmpty)
  }

  test("dd6 releases the clique cache after the member join") {
    spark.catalog.clearCache()
    assert(DedupOps.dedupClusters(spark, sf, minEstJaccard = 0.9).count() > 0)
    // If the clique cache lingered, the cache manager would swap this
    // identical fresh plan for an InMemoryRelation.
    val fresh = DedupOps.minhashCliques(spark, sf)
    assert(!fresh.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
      "clique cache not released after dedupClusters")
  }

  test("dd9: incremental dedup drops B∩A dups and collapses B-only dups internally") {
    import spark.implicits._
    // PRIOR snapshot: 20 distinct random docs (ids 0..19)
    val prior = (0 until 20).map { i =>
      val rng = new scala.util.Random(1000 + i)
      (i.toLong, Seq.fill(60)(s"w${rng.nextInt(500)}").mkString(" "), "en", s"a$i", 0L)
    }
    // NEW snapshot: 100 = exact copy of prior 0; 201..205 = near-copies of
    // prior 1..5 (1 of 60 words changed, j ≈ 0.967); 300+301 identical
    // NEW-only text; 302 unique.
    val nearPlants = (1 to 5).map { i =>
      val w = prior(i)._2.split(" ").toVector.updated(20, s"zzz$i")
      (200L + i, w.mkString(" "), "en", s"n$i", 0L)
    }
    val rngNew = new scala.util.Random(77)
    val newOnly = Seq.fill(60)(s"b${rngNew.nextInt(500)}").mkString(" ")
    val uniq = Seq.fill(60)(s"u${rngNew.nextInt(100000)}").mkString(" ")
    val fresh = Seq((100L, prior.head._2, "en", "copyA", 0L)) ++ nearPlants ++
      Seq((300L, newOnly, "en", "dupB", 0L), (301L, newOnly, "en", "dupB", 0L),
        (302L, uniq, "en", "uniqB", 0L))
    val priorDf = prior.toDF("doc_id", "text", "lang", "source", "n_chars")
    val freshDf = fresh.toDF("doc_id", "text", "lang", "source", "n_chars")

    // persist the store and dedup against the READ-BACK copy — the
    // cross-run artifact is what the operator is about
    val storeDir = java.nio.file.Files.createTempDirectory("dd9store").toString
    DedupOps.writeFingerprintStore(spark, priorDf, storeDir)
    val (ex, sg, bd) = DedupOps.readFingerprintStore(spark, storeDir)
    val out = DedupOps.incrementalVerdicts(spark, freshDf, ex, sg, bd)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

    assert(out.size == fresh.size, s"one verdict per new doc: $out")
    assert(out(100L) == (("exact_prior", 0L)), s"exact B∩A dup: ${out(100L)}")
    // banded LSH + 29/32 agreement is a recall device (see the planted
    // minhash test's lottery note) — require ≥4/5 near plants caught,
    // each pointing at its true prior source
    val caught = (1 to 5).map(i => 200L + i)
      .filter(id => out(id) == (("near_prior", id - 200L)))
    assert(caught.size >= 4, s"near recall ${caught.size}/5: $out")
    assert(out(300L) == (("kept", -1L)), s"B-only keeper: ${out(300L)}")
    assert(out(301L) == (("dup_new", 300L)), s"B-only dup collapses: ${out(301L)}")
    assert(out(302L) == (("kept", -1L)), s"unique doc kept: ${out(302L)}")
  }

  test("dd9 store roll-forward: kept docs join the store; replaying the same snapshot is a no-op") {
    import spark.implicits._
    val prior = (0 until 10).map { i =>
      val rng = new scala.util.Random(3000 + i)
      (i.toLong, Seq.fill(60)(s"p${rng.nextInt(500)}").mkString(" "), "en", s"a$i", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val rng = new scala.util.Random(99)
    val fresh = Seq(
      (100L, Seq.fill(60)(s"q${rng.nextInt(500)}").mkString(" "), "en", "b0", 0L),
      (101L, Seq.fill(60)(s"r${rng.nextInt(500)}").mkString(" "), "en", "b1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (ex0, sg0, bd0) = DedupOps.fingerprintStore(spark, prior)
    val verdicts = DedupOps.incrementalVerdicts(spark, fresh, ex0, sg0, bd0)
    val keptIds = verdicts.filter(col("status") === "kept").select("doc_id")
    val kept = fresh.join(keptIds, "doc_id")
    val (ex1, sg1, bd1) = DedupOps.updatedFingerprintStore(spark, kept, ex0, sg0, bd0)
    assert(ex1.count() == ex0.count() + kept.count(), "exact store did not grow by kept docs")
    assert(sg1.count() == sg0.count() + kept.count())
    // the rolled-forward store now catches the same snapshot as exact dups
    val replay = DedupOps.incrementalVerdicts(spark, fresh, ex1, sg1, bd1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replay.values.forall(_ == "exact_prior"),
      s"replayed snapshot not fully suppressed by the updated store: $replay")
    // and rolling forward with those (now-dup) docs is idempotent on ALL
    // THREE tables — same hash keeps the ORIGINAL ref, and the sig/band
    // sides must not gain duplicate rows (they would inflate band-bucket
    // counts toward the cap and silently drop near-dup candidates)
    val (ex2, sg2, bd2) = DedupOps.updatedFingerprintStore(spark, kept, ex1, sg1, bd1)
    assert(ex2.count() == ex1.count(), "re-adding identical content grew the exact store")
    assert(sg2.count() == sg1.count(), "replayed roll-forward duplicated sig rows")
    assert(bd2.count() == bd1.count(), "replayed roll-forward duplicated band rows")
  }

  test("dd9 dropped-bucket audit: empty on the corpus store; a planted over-cap bucket is reported") {
    // the verdict path silently skips candidates from over-cap store
    // buckets (ambient boilerplate, by design) — the audit function is
    // how a pipeline notices when that starts swallowing genuine dups
    val docs = spark.read.parquet(s"$plantedDir/documents.parquet")
    val (_, _, bands) = DedupOps.fingerprintStore(spark, docs)
    assert(DedupOps.dd9DroppedBuckets(bands).isEmpty,
      "planted corpus store unexpectedly has over-cap band buckets")
    // plant a bucket one over the cap: 1001 prior docs sharing one band
    // key — every probe through (3, 424242) would silently find nothing
    val dense = spark.range(0, DedupOps.IncrementalBucketCap + 1)
      .select(col("id").as("doc_id"), lit(3).as("band"), lit(424242L).as("bkey"))
    val rows = DedupOps.dd9DroppedBuckets(bands.unionByName(dense)).collect()
    assert(rows.length == 1, s"expected exactly the planted bucket, got ${rows.toSeq}")
    assert(rows(0).getInt(0) == 3 && rows(0).getLong(1) == 424242L
      && rows(0).getLong(2) == DedupOps.IncrementalBucketCap + 1L,
      s"planted over-cap bucket misreported: ${rows(0)}")
  }

  test("dd9 store maintenance: k8-style compaction shrinks files, verdicts unchanged") {
    import spark.implicits._
    def mk(ids: Range, seedBase: Int, tag: String) = ids.map { i =>
      val rng = new scala.util.Random(seedBase + i)
      (i.toLong, Seq.fill(60)(s"$tag${rng.nextInt(500)}").mkString(" "), "en", s"$tag$i", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // explicit file:-scheme URI: the whole maintenance protocol must run
    // through the Hadoop FileSystem API (the store lives on HDFS/object
    // storage at corpus scale), and a scheme-carrying path catches any
    // java.io.File leftover immediately
    val storeDir = "file:" + java.nio.file.Files.createTempDirectory("dd9maint")
    // each round's store write is an 8-task job (the production shape —
    // one file per writer task per round is where small files come from)
    def writeStore(ex: org.apache.spark.sql.DataFrame, sg: org.apache.spark.sql.DataFrame,
        bd: org.apache.spark.sql.DataFrame): Unit = {
      ex.repartition(8).write.mode("overwrite").parquet(s"$storeDir/exact")
      sg.repartition(8).write.mode("overwrite").parquet(s"$storeDir/sigs")
      bd.repartition(8).write.mode("overwrite").parquet(s"$storeDir/bands")
      // production writers commit the stage marker after the tables land
      // (writeFingerprintStore does this internally) — readers refuse
      // marker-less stores as possible half-stages
      graft.etl.StoreFs.commitMarker(
        graft.etl.StoreFs.fs(spark, storeDir), storeDir, "")
    }
    val t0 = DedupOps.fingerprintStore(spark, mk(0 until 15, 5000, "p"))
    writeStore(t0._1, t0._2, t0._3)
    // three crawl rounds: read the persisted store back, verdict a new
    // snapshot, roll the store forward with the kept docs, re-persist
    for (r <- 1 to 3) {
      val (ex, sg, bd) = DedupOps.readFingerprintStore(spark, storeDir)
      val snap = mk(100 * r until 100 * r + 10, 6000 + r, s"s$r")
      val kept = snap.join(DedupOps.incrementalVerdicts(spark, snap, ex, sg, bd)
        .filter(col("status") === "kept").select("doc_id"), "doc_id")
      val (ex1, sg1, bd1) = DedupOps.updatedFingerprintStore(spark, kept, ex, sg, bd)
      writeStore(ex1.localCheckpoint(true), sg1.localCheckpoint(true),
        bd1.localCheckpoint(true)) // V1 cannot overwrite a path it also reads
    }
    // probe with one exact copy of a stored round-1 doc plus fresh docs,
    // so the parity check covers a non-trivial verdict mix
    val stored = mk(100 until 110, 6001, "s1").filter($"doc_id" === 100L)
      .withColumn("doc_id", lit(900L))
    val probe = mk(910 until 915, 9000, "q").unionByName(stored)
    def verdicts(): Seq[String] = {
      val (ex, sg, bd) = DedupOps.readFingerprintStore(spark, storeDir)
      DedupOps.incrementalVerdicts(spark, probe, ex, sg, bd)
        .collect().map(_.toString).toSeq.sorted
    }
    val before = verdicts()
    assert(before.exists(_.contains("exact_prior")),
      s"probe should hit the store: $before")
    val shrunk = DedupOps.compactFingerprintStore(spark, storeDir)
    shrunk.foreach { case (t, (nBefore, nAfter)) =>
      assert(nAfter < nBefore, s"$t: $nBefore -> $nAfter files (no shrink)")
    }
    assert(verdicts() == before, "verdicts changed across store compaction")
  }

  test("dd13: staged eval store gives verdicts identical to the in-plan store; restage skipped per process") {
    import spark.implicits._
    def doc(i: Int): String = {
      val rng = new scala.util.Random(7700 + i)
      Seq.fill(25)(s"c${rng.nextInt(500)}").mkString(" ")
    }
    val eval = (0 until 15).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    // train: 5 exact copies of eval docs + 10 fresh
    val train = ((100 until 105).map(i => (i.toLong, doc(i - 100))) ++
      (200 until 210).map(i => (i.toLong, doc(i)))).toDF("doc_id", "text")
    def strs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val inPlan = strs(DedupOps.contaminationVerdicts(spark, train, eval))
    assert(inPlan.exists(_.contains("exact_contam")), s"fixture must contaminate: $inPlan")
    val path = graft.etl.ScratchDirs.freshKeyed("dd13_spec_store", sf)
    val stagedDf = DedupOps.contaminationVerdicts(spark, train, eval, Some(path))
    val staged = strs(stagedDf)
    assert(staged == inPlan, "staged store changed the verdicts")
    // stage-once semantics, keyed on corpus IDENTITY: a second call with
    // the SAME eval corpus must not restage (the version's marker
    // fingerprint matches — only the probe runs)...
    val fsys = graft.etl.StoreFs.fs(spark, path)
    def versionDirs(): Seq[org.apache.hadoop.fs.Path] =
      fsys.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
        .map(_.getPath).filter(_.getName.startsWith("eval-"))
    val v1 = versionDirs() match {
      case Seq(d) => d
      case ds => fail(s"expected one staged version, got $ds")
    }
    def markerMtime(): Long = fsys.getFileStatus(
      new org.apache.hadoop.fs.Path(v1, graft.etl.StoreFs.Marker))
      .getModificationTime
    val t0 = markerMtime()
    assert(strs(DedupOps.contaminationVerdicts(spark, train, eval, Some(path))) == staged)
    assert(markerMtime() == t0, "same eval corpus unexpectedly restaged the store")
    // ...while a DIFFERENT eval corpus at the same path must RESTAGE,
    // not silently return verdicts against the stale staged store (the
    // easy decontamination misuse the identity check exists to stop)
    val otherEval = (50 until 55).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val inPlanOther = strs(DedupOps.contaminationVerdicts(spark, train, otherEval))
    val again = strs(DedupOps.contaminationVerdicts(spark, train, otherEval, Some(path)))
    assert(again == inPlanOther,
      "changed eval corpus did not restage — verdicts against a stale eval store")
    assert(again != staged, "fixture too weak: both eval corpora give identical verdicts")
    // ...and the restage lands in a SIBLING version, never in place:
    // the first version's files are untouched, so verdict DataFrames
    // handed out before the eval change stay fully readable (an
    // in-place overwrite deleted their part files out from under them)
    assert(versionDirs().size == 2,
      s"changed eval corpus should stage a sibling version: ${versionDirs()}")
    assert(markerMtime() == t0, "restage of a NEW eval corpus touched the old version")
    assert(strs(stagedDf) == staged,
      "pre-change verdict DataFrame no longer readable after restage")
    // VERSIONED MAINTENANCE composes with eval staging: compact the
    // first eval store's subdir into v1 and prune its now-inert flat
    // tables — the next probe must serve the compacted version WITHOUT
    // restaging. (Pre-fix, the completeness check probed the FLAT
    // layout while readers resolved the version: pruning the flat
    // tables triggered a useless flat restage on every run, served to
    // no one — the review scenario this pins.)
    DedupOps.compactFingerprintStoreVersioned(spark, v1.toString)
    val pruned = DedupOps.pruneStoreVersions(spark, v1.toString, keepLast = 1)
    assert(pruned.exists(_.endsWith("/sigs")), s"flat tables not reclaimed: $pruned")
    val v1live = DedupOps.resolveStoreRoot(fsys, v1.toString)
    assert(v1live == s"$v1/v1")
    def liveMarkerMtime(): Long = fsys.getFileStatus(
      new org.apache.hadoop.fs.Path(v1live, graft.etl.StoreFs.Marker))
      .getModificationTime
    val tc = liveMarkerMtime()
    assert(strs(DedupOps.contaminationVerdicts(spark, train, eval, Some(path))) == staged,
      "verdicts changed across versioned compaction + flat prune of the eval store")
    assert(liveMarkerMtime() == tc,
      "probe restaged a complete versioned eval store instead of serving it")
  }

  test("partial eval store (marker deleted) is never silently probed: read fails, verdict path restages") {
    import spark.implicits._
    def doc(i: Int): String = {
      val rng = new scala.util.Random(8800 + i)
      Seq.fill(25)(s"m${rng.nextInt(500)}").mkString(" ")
    }
    val eval = (0 until 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val train = ((100 until 103).map(i => (i.toLong, doc(i - 100))) ++
      (200 until 205).map(i => (i.toLong, doc(i)))).toDF("doc_id", "text")
    val path = "file:" + java.nio.file.Files.createTempDirectory("dd13partial")
    def strs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val staged = strs(DedupOps.contaminationVerdicts(spark, train, eval, Some(path)))
    // simulate the cross-process crash window another JVM would observe:
    // tables present, but the stage-commit marker missing — a writer
    // died between the table writes and the commit (or a cleaner pruned
    // the dir). The raw read must FAIL LOUDLY, never probe the maybe-
    // partial tables...
    val fsys = graft.etl.StoreFs.fs(spark, path)
    val vp = fsys.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .map(_.getPath).filter(_.getName.startsWith("eval-")) match {
      case Seq(d) => d
      case ds => fail(s"expected one staged version, got $ds")
    }
    assert(fsys.delete(new org.apache.hadoop.fs.Path(vp, graft.etl.StoreFs.Marker), false))
    val ex = intercept[IllegalStateException] {
      DedupOps.readFingerprintStore(spark, vp.toString)
    }
    assert(ex.getMessage.contains(graft.etl.StoreFs.Marker))
    // ...and the verdict path recovers by RESTAGING (marker recommitted,
    // same verdicts) rather than failing or probing the unmarked store
    assert(strs(DedupOps.contaminationVerdicts(spark, train, eval, Some(path))) == staged)
    assert(graft.etl.StoreFs.readMarker(fsys, vp.toString).isDefined,
      "restage did not recommit the stage marker")
    // converse half-death: a table dir pruned externally (tmp cleaner)
    // while the marker SURVIVED. Marker-only restage checking left this
    // state permanently unreadable; the completeness check self-heals it
    graft.etl.StoreFs.deleteRecursive(fsys, s"$vp/sigs")
    assert(strs(DedupOps.contaminationVerdicts(spark, train, eval, Some(path))) == staged,
      "store with pruned table dir did not self-heal")
    assert(graft.etl.StoreFs.exists(fsys, s"$vp/sigs"),
      "self-heal restage did not rebuild the pruned table")
  }

  test("compaction self-heals a crash between the swap renames (live missing, _old present)") {
    import spark.implicits._
    val docs = (0 until 20).map(i =>
      (i.toLong, s"selfheal doc $i body " + (s"w$i " * 5))).toDF("doc_id", "text")
    // file:-scheme URI — the heal path must run through the Hadoop FS API
    val dirPath = "file:" + java.nio.file.Files.createTempDirectory("dd9selfheal")
    DedupOps.writeFingerprintStore(spark, docs, dirPath)
    def sigIds(): Seq[Long] = spark.read.parquet(s"$dirPath/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val ids0 = sigIds()
    // simulate the crash window: the live→_old aside-rename completed,
    // the tmp→live swap did not — no `sigs` directory remains
    assert(graft.etl.StoreFs.rename(graft.etl.StoreFs.fs(spark, dirPath),
      s"$dirPath/sigs", s"$dirPath/sigs_old"))
    DedupOps.compactFingerprintStore(spark, dirPath) // must not throw
    assert(sigIds() == ids0,
      "self-healed store must carry the complete previous sigs table")
  }

  test("versioned compaction (object-store path): no rename, marker-commit flip, old version immutable") {
    import spark.implicits._
    val docs = (0 until 30).map(i =>
      (i.toLong, s"versioned doc $i body " + (s"v$i " * 8))).toDF("doc_id", "text")
    val probe = (100 until 106).map(i =>
      (i.toLong, s"versioned doc ${i - 100} body " + (s"v${i - 100} " * 8)))
      .toDF("doc_id", "text")
    val path = "file:" + java.nio.file.Files.createTempDirectory("dd9versioned")
    val fsys = graft.etl.StoreFs.fs(spark, path)
    // many-task write = the small-file state compaction exists for
    // (written table-by-table so each table really is 8 files — the
    // production writer shape; writeFingerprintStore's own job can
    // AQE-coalesce to fewer at fixture size)
    val (ex0, sg0, bd0) = DedupOps.fingerprintStore(spark, docs)
    ex0.repartition(8).write.mode("overwrite").parquet(s"$path/exact")
    sg0.repartition(8).write.mode("overwrite").parquet(s"$path/sigs")
    bd0.repartition(8).write.mode("overwrite").parquet(s"$path/bands")
    graft.etl.StoreFs.commitMarker(fsys, path, "corpus-v0")
    def verdicts(): Seq[String] = {
      val (ex, sg, bd) = DedupOps.readFingerprintStore(spark, path)
      DedupOps.incrementalVerdicts(spark, probe, ex, sg, bd)
        .collect().map(_.toString).toSeq.sorted
    }
    val before = verdicts()
    def files(dir: String): Seq[String] =
      graft.etl.StoreFs.parquetFiles(fsys, dir).map(_._1).sorted
    val flatSigs = files(s"$path/sigs")
    val shrunk = DedupOps.compactFingerprintStoreVersioned(spark, path)
    // marker commit flipped the live root to v1, files shrank, verdicts identical
    assert(DedupOps.resolveStoreRoot(fsys, path) == s"$path/v1")
    shrunk.foreach { case (t, (n0, n1)) =>
      assert(n1 < n0, s"$t: $n0 -> $n1 files (no shrink)") }
    assert(graft.etl.StoreFs.readMarker(fsys, s"$path/v1").contains("corpus-v0"),
      "new version must carry the live store's identity payload")
    assert(verdicts() == before, "verdicts changed across versioned compaction")
    // the flat v0 layout is untouched — a reader that resolved before
    // the flip keeps a complete, immutable store (no rename, no delete)
    assert(files(s"$path/sigs") == flatSigs,
      "versioned compaction must not touch the previous version's files")
    // crash window: a debris next-version dir with NO marker (the
    // commit never happened) must be invisible to readers and
    // overwritten by the next run
    docs.limit(3).write.mode("overwrite").parquet(s"$path/v2/sigs")
    assert(verdicts() == before, "uncommitted debris version must not be read")
    DedupOps.compactFingerprintStoreVersioned(spark, path)
    assert(DedupOps.resolveStoreRoot(fsys, path) == s"$path/v2")
    assert(graft.etl.StoreFs.readMarker(fsys, s"$path/v2").contains("corpus-v0"))
    assert(verdicts() == before, "verdicts changed after debris overwrite + flip")
    // the in-place compactor composes with a versioned store: it
    // resolves the live version and compacts INSIDE it
    DedupOps.compactFingerprintStore(spark, path)
    assert(verdicts() == before, "in-place compaction on a versioned store broke verdicts")
    // RESTAGE on a versioned store: the writer must resolve the same
    // protocol the readers do — a new crawl snapshot stages v3 and the
    // marker commit flips it; a flat-root rewrite here would be
    // invisible behind the committed versions forever
    val docs2 = (0 until 30).map(i =>
      (i.toLong, s"restaged doc $i body " + (s"r$i " * 8))).toDF("doc_id", "text")
    DedupOps.writeFingerprintStore(spark, docs2, path, identity = "corpus-v1")
    assert(DedupOps.resolveStoreRoot(fsys, path) == s"$path/v3")
    assert(graft.etl.StoreFs.readMarker(fsys, s"$path/v3").contains("corpus-v1"))
    val after = verdicts()
    assert(after != before, "restaged store must serve the NEW snapshot's verdicts")
    assert(after.forall(_.contains("kept")),
      "no probe text exists in the restaged corpus — every verdict must be kept")
    // RETENTION: v1/v2/v3 committed, flat tables inert. Plant markerless
    // debris on BOTH sides of the live version: below (crashed leftover,
    // prunable) and above (an in-flight writer's next version — must
    // survive). keepLast=2 keeps v2+v3, reclaims v1 + flat + low debris.
    docs.limit(2).write.mode("overwrite").parquet(s"$path/v0/sigs")
    docs.limit(2).write.mode("overwrite").parquet(s"$path/v4/sigs")
    val reclaimed = DedupOps.pruneStoreVersions(spark, path, keepLast = 2)
    assert(reclaimed.toSet ==
      Set(s"$path/v1", s"$path/v0", s"$path/exact", s"$path/sigs",
        s"$path/bands", s"$path/${graft.etl.StoreFs.Marker}"),
      s"unexpected reclaim set: $reclaimed")
    assert(!graft.etl.StoreFs.exists(fsys, s"$path/v1"))
    assert(graft.etl.StoreFs.exists(fsys, s"$path/v2"), "retention window must survive")
    assert(graft.etl.StoreFs.exists(fsys, s"$path/v4/sigs"),
      "debris above the live version is an in-flight writer — never pruned")
    assert(DedupOps.resolveStoreRoot(fsys, path) == s"$path/v3")
    assert(verdicts() == after, "pruning must not change served verdicts")
    // CLAIM AGE GATE: a markerless dir below live whose _CLAIM is fresh
    // is a slow writer mid-stage (it will commit shadowed — legal), NOT
    // debris; pruning it would let the writer's later parquet tasks
    // recreate the dir and publish a committed-but-incomplete version.
    // Only once the claim ages past the grace window is it reclaimable.
    assert(graft.etl.StoreFs.claimVersion(fsys, s"$path", 1, "slowWriter"),
      "re-claiming the reclaimed v1 number for the fixture must win")
    docs.limit(2).write.mode("overwrite").parquet(s"$path/v1/sigs")
    val spared = DedupOps.pruneStoreVersions(spark, path, keepLast = 2)
    assert(!spared.contains(s"$path/v1") &&
      graft.etl.StoreFs.exists(fsys, s"$path/v1/sigs"),
      "a fresh-claimed in-flight stage below live must survive the prune")
    val aged = DedupOps.pruneStoreVersions(spark, path, keepLast = 2,
      claimGraceMs = -1L) // every claim is "old" — the abandoned case
    assert(aged.contains(s"$path/v1") &&
      !graft.etl.StoreFs.exists(fsys, s"$path/v1"),
      "an aged-out claimed dir is abandoned debris and must be reclaimed")
  }

  test("concurrent writers on a versioned store: atomic claims, one winner, zero partial reads") {
    import spark.implicits._
    val docs = (0 until 24).map(i =>
      (i.toLong, s"claim doc $i body " + (s"c$i " * 8))).toDF("doc_id", "text")
    val probe = (100 until 106).map(i =>
      (i.toLong, s"claim doc ${i - 100} body " + (s"c${i - 100} " * 8)))
      .toDF("doc_id", "text")
    val path = "file:" + java.nio.file.Files.createTempDirectory("dd9claims")
    val fsys = graft.etl.StoreFs.fs(spark, path)
    DedupOps.writeFingerprintStore(spark, docs, path, identity = "snap0")
    DedupOps.compactFingerprintStoreVersioned(spark, path) // → versioned, live=v1
    assert(DedupOps.resolveStoreRoot(fsys, path) == s"$path/v1")
    def verdictsOf(ex: org.apache.spark.sql.DataFrame,
        sg: org.apache.spark.sql.DataFrame,
        bd: org.apache.spark.sql.DataFrame): Seq[String] =
      DedupOps.incrementalVerdicts(spark, probe, ex, sg, bd)
        .collect().map(_.toString).toSeq.sorted
    def servedVerdicts(): Seq[String] = {
      val (ex, sg, bd) = DedupOps.readFingerprintStore(spark, path)
      verdictsOf(ex, sg, bd)
    }
    val before = servedVerdicts()
    // protocol level: both writers resolve live=v1, then race the v2
    // claim — the create-exclusive file admits exactly one
    assert(graft.etl.StoreFs.claimVersion(fsys, path, 2, "writerA"),
      "first claim of v2 must win")
    assert(!graft.etl.StoreFs.claimVersion(fsys, path, 2, "writerB"),
      "second claim of the SAME version must lose")
    assert(graft.etl.StoreFs.claimNextVersion(fsys, path, 2, "writerB") == 3,
      "the loser must move to the next free number, not share v2")
    // claims alone are invisible: no marker, so readers still serve v1
    assert(DedupOps.resolveStoreRoot(fsys, path) == s"$path/v1")
    assert(servedVerdicts() == before,
      "claimed-but-unstaged versions must not change served verdicts")
    // end-to-end: two REAL writers restage different snapshots
    // concurrently through the public API (claims v4/v5 — v2/v3 are
    // burned above; numbers are never reused, that is the point)
    val snapA = (0 until 24).map(i =>
      (i.toLong, s"writerA doc $i body " + (s"a$i " * 8))).toDF("doc_id", "text")
    val snapB = (0 until 24).map(i =>
      (i.toLong, s"writerB doc $i body " + (s"b$i " * 8))).toDF("doc_id", "text")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(("snapA", snapA), ("snapB", snapB)).map { case (id, df) =>
      new Thread(() =>
        try DedupOps.writeFingerprintStore(spark, df, path, identity = id)
        catch { case t: Throwable => errs.add(t): Unit })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent restage failed: ${errs.peek()}")
    val vs = graft.etl.StoreFs.committedVersions(fsys, path)
    assert(vs.size == 3 && vs.distinct == vs && vs.max >= 5,
      s"both writers must commit DISTINCT new versions, got $vs")
    // the winner (highest claim) serves, and its store is internally
    // consistent: identity names one writer and the verdicts parity-match
    // a from-scratch in-memory store of that writer's snapshot — an
    // interleaved table mix would break this
    val live = DedupOps.resolveStoreRoot(fsys, path)
    val id = graft.etl.StoreFs.readMarker(fsys, live).get
    assert(Set("snapA", "snapB").contains(id), s"unexpected winner identity $id")
    val (wex, wsg, wbd) =
      DedupOps.fingerprintStore(spark, if (id == "snapA") snapA else snapB)
    assert(servedVerdicts() == verdictsOf(wex, wsg, wbd),
      "winner's served store must parity-match a single-writer stage of its snapshot")
    // the shadowed loser is complete too (committed marker + all tables)
    val loser = vs.filter(v => s"$path/v$v" != live).max
    assert(Seq("exact", "sigs", "bands").forall(t =>
      graft.etl.StoreFs.exists(fsys, s"$path/v$loser/$t")),
      "the shadowed writer's version must still be a complete store")
  }

  test("concurrent writers across TWO JVMs: disjoint claims, one winner, store stays readable") {
    import spark.implicits._
    val docs = (0 until 24).map(i =>
      (i.toLong, s"race doc $i body " + (s"base$i " * 8))).toDF("doc_id", "text")
    val path = "file:" + java.nio.file.Files.createTempDirectory("dd9race")
    val fsys = graft.etl.StoreFs.fs(spark, path)
    DedupOps.writeFingerprintStore(spark, docs, path, identity = "base")
    DedupOps.compactFingerprintStoreVersioned(spark, path) // → versioned, live=v1
    // fork a REAL second JVM staging the same path: same classpath and
    // module flags as this (forked) test JVM, so Spark boots identically
    val jvm = System.getProperty("java.home") + "/bin/java"
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cmd = Seq(jvm) ++ flags ++ Seq("-Xmx2g", "-cp",
      System.getProperty("java.class.path"),
      "graft.tools.StoreRaceProbe", path, "otherJvm", "theirs")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // race it from THIS process while the child boots and stages
    DedupOps.writeFingerprintStore(spark,
      (0 until 24).map(i => (i.toLong, s"race doc $i body " + (s"ours$i " * 8)))
        .toDF("doc_id", "text"),
      path, identity = "thisJvm")
    val out = new String(proc.getInputStream.readAllBytes,
      java.nio.charset.StandardCharsets.UTF_8)
    assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      "second JVM did not finish")
    assert(proc.exitValue() == 0, s"second JVM failed:\n${out.takeRight(4000)}")
    val theirVersion = out.linesIterator.find(_.startsWith("RACE_COMMITTED"))
      .map(_.split(" ")(1).trim).getOrElse(fail(s"no RACE_COMMITTED line:\n$out"))
    assert(theirVersion.nonEmpty && !theirVersion.contains(","),
      s"child must commit exactly one version, got '$theirVersion'")
    // both processes committed, to DISTINCT versions (v1 + two new)
    val vs = graft.etl.StoreFs.committedVersions(fsys, path)
    assert(vs.size == 3 && vs.distinct == vs,
      s"expected v1 + one version per process, got $vs")
    val ourVersion = vs.find(v => graft.etl.StoreFs
      .readMarker(fsys, s"$path/v$v").contains("thisJvm"))
      .getOrElse(fail(s"this JVM's commit missing from $vs"))
    assert(ourVersion.toString != theirVersion,
      s"both processes claimed v$ourVersion — the cross-process race")
    // the resolved store is one winner's COMPLETE stage, never a mix:
    // its identity names one process and every table dir exists
    val live = DedupOps.resolveStoreRoot(fsys, path)
    val id = graft.etl.StoreFs.readMarker(fsys, live).get
    assert(Set("thisJvm", "otherJvm").contains(id), s"unexpected winner $id")
    val (ex, sg, bd) = DedupOps.readFingerprintStore(spark, path)
    val probe = Seq((100L, "race doc 0 body " +
      (s"${if (id == "thisJvm") "ours" else "theirs"}0 " * 8))).toDF("doc_id", "text")
    val verdict = DedupOps.incrementalVerdicts(spark, probe, ex, sg, bd)
      .select("status").collect().map(_.getString(0))
    assert(verdict.sameElements(Array("exact_prior")),
      s"winner's store must serve the winner's corpus, got ${verdict.toSeq}")
  }

  test("simhash: identical docs collide, near-dups are close, hamming symmetric") {
    val sh = DedupOps.simhashes(spark, plantedDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(100L))
    val hammingNear = java.lang.Long.bitCount(sh(1L) ^ sh(201L))
    assert(hammingNear <= 12, s"near-dup hamming $hammingNear")
    // unrelated docs should be far: median pairwise hamming over a sample
    val ids = sh.keys.filter(_ < 40).toSeq.sorted.take(10)
    val far = for (a <- ids; b <- ids if a < b) yield java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(far.sum.toDouble / far.size > 12.0)
  }

  test("simhash_sig kernel matches the explode+aggregate form bit-for-bit") {
    // round-15 law: the per-row codegen kernel (no explode, no exchange)
    // must reproduce the 64-parallel-sum aggregate form exactly — same
    // PolyHash31 codes, same affine seeds, same sign pack — on the
    // planted fixture AND the corpus (empty-text and near-dup edges).
    for (d <- Seq(plantedDir, sf)) {
      val kernel = DedupOps.simhashes(spark, d).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val agg = DedupOps.simhashesAgg(spark, d).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(kernel === agg, s"kernel/aggregate simhash drift at $d")
    }
  }

  test("dd11: content-defined boundaries re-synchronize after a prefix insertion") {
    import spark.implicits._
    // the CDC selling point vs dd8's fixed segmentation: shift every
    // byte with an inserted prefix and all chunks except the first
    // one(s) must come out content-identical, because boundaries are a
    // function of local content, not offset
    val doc = Tables(spark, sf, "documents")
      .orderBy(desc("n_chars")).select("text").head().getString(0) * 3
    val pair = Seq((1L, doc), (2L, "INSERTED-PREFIX-XYZ " + doc))
      .toDF("doc_id", "text")
    val chunks = quality.TextOps.cdcChunkTable(pair).collect()
    val a = chunks.filter(_.getLong(0) == 1L).map(_.getString(2)).toSeq
    val b = chunks.filter(_.getLong(0) == 2L).map(_.getString(2)).toSet
    assert(a.size >= 3, s"fixture produced only ${a.size} chunks")
    val shared = a.count(b.contains)
    assert(shared >= a.size - 2,
      s"only $shared of ${a.size} chunks survived the shifted prefix — " +
        "boundaries did not re-synchronize")
  }

  test("dd12: bloom never misses an exact dup; a saturated tiny filter shows false positives") {
    import spark.implicits._
    def doc(i: Int): String = {
      val rng = new scala.util.Random(9000 + i)
      Seq.fill(30)(s"b${rng.nextInt(2000)}").mkString(" ")
    }
    val prior = (0 until 30).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    // fresh: 10 exact copies of prior docs + 20 genuinely new texts
    val fresh = ((100 until 110).map(i => (i.toLong, doc(i - 100))) ++
      (200 until 220).map(i => (i.toLong, doc(i)))).toDF("doc_id", "text")

    // Tiny m = 64 bits with 30×4 set attempts saturates the filter, so
    // unseen texts collide — the false-positive regime made visible.
    val tiny = DedupOps.bloomVerdicts(spark, prior, fresh, mBits = 64).collect()
    val missed = tiny.filter(r => r.getBoolean(2) && !r.getBoolean(1))
    assert(missed.isEmpty, s"false NEGATIVES are impossible by construction: ${missed.toSeq}")
    assert(tiny.exists(r => r.getBoolean(1) && !r.getBoolean(2)),
      "64-bit filter over 30 docs should produce at least one false positive")

    // Default m on the same corpus: still no false negatives, and the
    // sparse filter lets most genuinely-new texts through.
    val big = DedupOps.bloomVerdicts(spark, prior, fresh).collect()
    assert(big.filter(r => r.getBoolean(2) && !r.getBoolean(1)).isEmpty)
    val newTexts = big.filter(_.getLong(0) >= 200)
    assert(newTexts.count(!_.getBoolean(1)) >= 18,
      "4096-bit filter should pass nearly all of the 20 new texts as definitely-new")
  }

  test("pair_explode law: generator == retained transform form, both modes, fixture AND corpus") {
    import spark.implicits._
    // round-16 law: the bucket-expansion generator must emit EXACTLY the
    // pair multiset of the HOF form it replaced (within-array i<j pairs
    // and the chunked cross product)
    val fx = Seq(
      (1, Seq(10L, 20L, 30L, 40L)),
      (2, Seq(7L, 8L)),
      (3, Seq(5L)),           // singleton: no pairs
      (4, Seq.empty[Long])    // empty: no pairs
    ).toDF("k", "ids")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val gen = sorted(fx.selectExpr(
      "pair_explode(ids, CAST(NULL AS ARRAY<BIGINT>)) AS (a, b)"))
    val hof = sorted(fx
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
        )).as("p")).select("p.a", "p.b"))
    assert(gen == hof, s"within-array mode diverged:\n$gen\nvs\n$hof")
    assert(gen.count(_._1 == 10L) == 3) // 4-element bucket → 6 pairs total
    val cross = Seq((Seq(1L, 2L), Seq(3L, 4L, 5L))).toDF("la", "lb")
    val genX = sorted(cross.selectExpr("pair_explode(la, lb) AS (a, b)"))
    val hofX = sorted(cross
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          "flatten(transform(la, x -> transform(lb, y -> struct(x AS a, y AS b))))"
        )).as("p")).select("p.a", "p.b"))
    assert(genX == hofX && genX.size == 6, s"cross mode diverged:\n$genX\nvs\n$hofX")
    // corpus law: the full candidate population is unchanged (this is
    // the surface dd2/dd6/pipe1 consume)
    val cand = DedupOps.minhashCandidates(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(cand.nonEmpty && cand == cand.distinct, "candidates must be distinct")
    assert(cand.forall { case (a, b) => a != b }, "no self-pairs")
  }
}
