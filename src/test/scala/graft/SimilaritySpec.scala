package graft

import graft.quality.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkSuite {

  test("brute-force kNN: ranks dense, cosines in [-1,1], self excluded") {
    val knn = SimilarityOps.knnBrute(spark, sf, nQueries = 10, k = 3).collect()
    assert(knn.length == 30)
    val byQ = knn.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L))
      rows.foreach { r =>
        assert(r.getLong(1) != q)
        val c = r.getDouble(3)
        assert(c >= -1.0001 && c <= 1.0001)
      }
      // descending by cosine
      val cs = rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(cs == cs.sorted.reverse)
    }
  }

  test("LSH ANN returns true cosines and overlaps the brute-force top-k") {
    val brute = SimilarityOps.knnBrute(spark, sf, nQueries = 10, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.knnLsh(spark, sf, nQueries = 10, k = 3).collect()
    assert(lsh.nonEmpty)
    // every LSH hit's cosine must equal the exact cosine (same arithmetic)
    val bruteCos = SimilarityOps.knnBrute(spark, sf, nQueries = 10, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-12))
    }
    // recall is approximate by design; require non-trivial overlap
    val hit = lsh.map(r => (r.getLong(0), r.getLong(1))).count(brute.contains)
    assert(hit >= 3, s"LSH recalled only $hit of ${brute.size} brute-force pairs")
  }

  test("MIPS ANN scores raw inner products and overlaps the exact MIPS top-k") {
    // exact all-pairs inner products for the 10 query rows (small table;
    // the spec's ground truth, not a query path)
    val base = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val allIp = base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        SimilarityOps.dot(col("qemb"), col("embedding")).as("ip"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // (seq first — flatMap over a Map of pair-seqs would re-collapse
    // the (qid, cid) tuples into a one-entry-per-qid Map)
    val exactTop = allIp.toSeq.groupBy(_._1._1).values.flatMap { g =>
      g.sortBy { case ((_, cid), ip) => (-ip, cid) }.take(3).map(_._1)
    }.toSet
    val mips = SimilarityOps.knnMips(spark, sf, nQueries = 10, k = 3).collect()
    assert(mips.nonEmpty)
    // every reported score must be the exact raw inner product — the
    // augmentation affects only candidate generation, never the score
    mips.foreach { r =>
      val ip = allIp((r.getLong(0), r.getLong(1)))
      assert(math.abs(ip - r.getDouble(3)) < 1e-12)
    }
    // recall is approximate by design; require non-trivial overlap with
    // the true MIPS top-k
    val hit = mips.map(r => (r.getLong(0), r.getLong(1))).count(exactTop.contains)
    assert(hit >= 3, s"MIPS LSH recalled only $hit of ${exactTop.size} exact pairs")
  }

  test("Gaussian and rational keypoint kernels agree on the argmax keypoint") {
    val rational = SparkEntry.queries("v5_keypoint_score")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gauss = SparkEntry.queries("v5b_keypoint_gauss")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rational == gauss) // both kernels are monotone in d²
  }

  test("IVF ANN probes centroid lists and overlaps the brute-force top-k") {
    val brute = SimilarityOps.knnBrute(spark, sf, nQueries = 10, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.knnIvf(spark, sf, nQueries = 10, k = 3).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      val cs = rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(cs == cs.sorted.reverse)
    }
    // One Lloyd refinement round lifted recall from the seed-centroid
    // baseline to 28/30 on this corpus; 80% leaves margin for a
    // regenerated corpus without letting a refinement regression hide.
    val hit = ivf.map(r => (r.getLong(0), r.getLong(1))).count(brute.contains)
    info(s"IVF recall: $hit of ${brute.size}")
    assert(hit >= (brute.size * 8) / 10,
      s"IVF recalled only $hit of ${brute.size} brute-force pairs")
  }

  test("PQ ANN: dense ranks, ascending non-negative ADC, non-trivial exact-L2 overlap") {
    import org.apache.spark.sql.expressions.Window
    val pq = SimilarityOps.knnPq(spark, sf, nQueries = 3, k = 10).collect()
    assert(pq.length == 30)
    pq.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to 10L))
      val ds = rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(ds == ds.sorted, s"ADC not ascending: $ds")
      ds.foreach(d => assert(d >= 0.0))
    }
    // ADC is an 8-centroid/subspace approximation — recall against the
    // exact squared-L2 top-10 is inherently partial; require it beats a
    // random baseline by a wide margin (10/499 expected ≈ 0.6 of 30).
    val e = Tables(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d2", SimilarityOps.l2sq(col("qemb"), col("embedding")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id").asc)))
      .filter(col("rnk") <= 10).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = pq.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    info(s"PQ recall: $hit of ${exact.size}")
    assert(hit >= 6, s"PQ recalled only $hit of ${exact.size} exact-L2 pairs")
    // the Lloyd round must not LOSE recall vs the raw seed codebook (the
    // whole point of refining — k-means strictly reduces quantization
    // error, which is what ADC ranks by)
    val pqSeed = SimilarityOps.knnPq(spark, sf, nQueries = 3, k = 10, refined = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    info(s"PQ recall seed codebook: $pqSeed, refined: $hit")
    assert(hit >= pqSeed,
      s"Lloyd-refined codebook recalled $hit < seed codebook's $pqSeed")
  }

  test("IVF-PQ ANN: dense ranks, ascending ADC, residual frame beats random by a wide margin") {
    import org.apache.spark.sql.expressions.Window
    val ivfpq = SimilarityOps.knnIvfPq(spark, sf, nQueries = 3, k = 10).collect()
    assert(ivfpq.length == 30)
    ivfpq.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to 10L))
      rows.foreach(r => assert(r.getLong(1) != q))
      val ds = rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(ds == ds.sorted, s"ADC not ascending: $ds")
      ds.foreach(d => assert(d >= 0.0))
    }
    // Exact-L2 top-10 recall. Probing 4 of 16 lists caps what's reachable,
    // but residual-frame codes quantize far finer than nn5's raw-vector
    // codes: measured 10/30 here vs nn5's 6-7/30 at both sf0.001 and
    // sf0.01 (random baseline ≈ 0.6 of 30). Bound at 6 — nn5's own bar —
    // so a broken residual frame (which collapses recall toward random)
    // fails loudly while a regenerated corpus passes.
    val e = Tables(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d2", SimilarityOps.l2sq(col("qemb"), col("embedding")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id").asc)))
      .filter(col("rnk") <= 10).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = ivfpq.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    info(s"IVF-PQ recall: $hit of ${exact.size}")
    assert(hit >= 6, s"IVF-PQ recalled only $hit of ${exact.size} exact-L2 pairs")
    // nn6b refine: exact-L2 re-rank of the ADC top-30 can only move true
    // neighbors UP within the candidate set, so its top-10 recall is ≥
    // the unrefined ADC top-10's — the FAISS refine contract
    val refined = SimilarityOps.knnIvfPqRefined(spark, sf, nQueries = 3, k = 10, rerank = 30)
      .collect()
    assert(refined.length == 30)
    refined.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ds = rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(ds == ds.sorted && ds.forall(_ >= 0.0), s"refined d2 not ascending: $ds")
    }
    val refinedHit = refined.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    info(s"IVF-PQ refined recall: $refinedHit of ${exact.size}")
    assert(refinedHit >= hit,
      s"refine stage LOST recall: $refinedHit < unrefined $hit")
  }

  test("power-iteration PC1 variance dominates every single coordinate axis") {
    // λ_max ≥ every diagonal entry of the covariance, so the projection
    // variance onto the (converged) top component must be ≥ the best
    // single-axis variance; 0.95 head-room absorbs the fixed-10-iteration
    // truncation. Also pins determinism: two runs are bit-identical.
    val pc = SimilarityOps.powerPca(spark, sf).collect()
    val scores = pc.map(_.getDouble(1))
    val n = scores.length.toDouble
    val mean = scores.sum / n
    val pcVar = scores.map(x => (x - mean) * (x - mean)).sum / n
    val perAxis = Tables(spark, sf, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("p", "v")))
      .groupBy("p").agg(var_pop(col("v").cast("double")).as("av"))
      .agg(max("av")).collect()(0).getDouble(0)
    assert(pcVar >= 0.95 * perAxis,
      s"PC1 variance $pcVar below best axis $perAxis")
    val again = SimilarityOps.powerPca(spark, sf).collect().map(_.getDouble(1))
    assert(scores.sameElements(again), "power iteration is not deterministic")
  }

  test("SemDeDup drops a planted exact duplicate and matches the pairwise rule exactly") {
    // plant an exact copy of vector 42 under a HIGHER id: same embedding
    // → same cluster, cosine 1.0 ≥ any τ → the copy must verdict 'dup'
    // and the original 'keep'
    val dir = java.nio.file.Files.createTempDirectory("semdedup")
    val planted = 9042L
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    base.unionAll(base.filter(col("vec_id") === 42L)
        .withColumn("vec_id", lit(planted)))
      .coalesce(1).write.parquet(dir.resolve("d").toString)
    val src = java.nio.file.Files.list(dir.resolve("d"))
      .filter(f => f.toString.endsWith(".parquet")).findFirst().get()
    val fixDir = java.nio.file.Files.createTempDirectory("semdedup_sf")
    java.nio.file.Files.copy(src, fixDir.resolve("embeddings.parquet"))
    val verdict = SimilarityOps.semDedup(spark, fixDir.toString)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(verdict(planted) == "dup", s"planted copy not dropped: ${verdict(planted)}")
    assert(verdict(42L) == "keep", s"original dropped: ${verdict(42L)}")
    // independent recomputation of the pairwise rule on the REAL fixture:
    // dup(i) ⇔ max cosine to any lower-id same-cluster vector ≥ τ,
    // via a groupBy-max plan instead of the distinct-join the operator uses
    val b = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        SimilarityOps.l2norm(col("embedding")).as("nrm"))
    val cents = SimilarityOps.ivfRefinedCentroids(spark, sf, 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("csim").desc, col("cent").asc)
    val assigned = b.crossJoin(broadcast(cents))
      .withColumn("csim", SimilarityOps.centSim(
        col("embedding"), col("nrm"), col("cemb"), col("cnrm")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent"))
    val l = assigned.select(col("cent"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val r = assigned.select(col("cent"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val expectedDups = l.join(r, Seq("cent")).filter(col("a") < col("b"))
      .groupBy(col("b"))
      .agg(max(SimilarityOps.dot(col("ea"), col("eb")) /
        (col("na") * col("nb"))).as("mx"))
      .filter(col("mx") >= 0.35)
      .collect().map(_.getLong(0)).toSet
    val got = SimilarityOps.semDedup(spark, sf)
      .collect().map(r2 => r2.getLong(0) -> r2.getString(2)).toMap
    assert(got.filter(_._2 == "dup").keySet == expectedDups,
      "operator verdict disagrees with the independent pairwise-max rule")
    assert(expectedDups.nonEmpty, "fixture produced no duplicates at τ=0.35")
  }

  // Round-16 law: the one-pass covariance-moments kernel (CovMomentsAgg)
  // must be BIT-FOR-BIT the retained round-15 explode+decimal-sum plan —
  // n, every per-position count, μ sums and all d² outer-product sums.
  // Exact == on doubles deliberately: the kernel's whole claim is that
  // its scaled-long arithmetic IS Spark's cast(DECIMAL(38,12)) sum.
  private def covKernel(df: org.apache.spark.sql.DataFrame) = df
    .agg(org.apache.spark.sql.functions.udaf(graft.quality.CovMomentsAggImpl)
      .apply(col("embedding").cast("array<double>")).as("cm"))
    .select(col("cm.n"), col("cm.nvec"), col("cm.msum"), col("cm.psum"))
    .collect()(0)

  private def assertMomentsLaw(df: org.apache.spark.sql.DataFrame): Unit = {
    val k = covKernel(df)
    val e = RetainedForms.covMomentsByExplode(df).collect()(0)
    assert(k.getLong(0) == e.getLong(0), "total row count differs")
    val cnts = e.getSeq[Long](1)
    assert(cnts.forall(_ == k.getLong(1)),
      s"per-position counts $cnts != kernel nvec ${k.getLong(1)}")
    assert(k.getSeq[Double](2) == e.getSeq[Double](2), "mu sums differ")
    assert(k.getSeq[Double](3) == e.getSeq[Double](3), "outer-product sums differ")
    assert(k.getSeq[Double](3).length ==
      k.getSeq[Double](2).length * k.getSeq[Double](2).length)
  }

  test("covariance kernel == retained explode form, bit-for-bit, on the corpus") {
    assertMomentsLaw(Tables(spark, sf, "embeddings"))
  }

  test("covariance kernel == retained explode form on a null-row fixture; ragged throws") {
    import spark.implicits._
    // floats whose double images have long decimal expansions (0.1f →
    // 0.10000000149011612) exercise the HALF_UP rounding path, and the
    // null array row must count toward n but contribute nothing
    val fx = Seq(
      (1L, Option(Seq(0.1f, -0.3f, 0.125f))),
      (2L, Option(Seq(0.7f, 0.2f, -0.55f))),
      (3L, Option.empty[Seq[Float]]),
      (4L, Option(Seq(-0.42f, 0.61f, 0.33f)))
    ).toDF("vec_id", "embedding")
    assertMomentsLaw(fx)
    val k = covKernel(fx)
    assert(k.getLong(0) == 4L && k.getLong(1) == 3L)
    // ragged dimensions corrupt row-major d² indexing downstream — the
    // kernel must fail LOUDLY, not degrade (ADVICE r15)
    val ragged = Seq(
      (1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] { covKernel(ragged) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e2 => Option(e2.getMessage).toSeq ++ messages(e2.getCause))
    assert(messages(ex).exists(_.contains("uniform embedding dimension")),
      s"unexpected failure: $ex")
  }

  test("powerPca rejects iters < 1 (sequence(1, 0) would run two steps)") {
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.powerPca(spark, sf, iters = 0)
    }
    assert(ex.getMessage.contains("iters must be >= 1"))
  }
}
