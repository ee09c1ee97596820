package graft.quality

import graft.{OpModule, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`Array[Float]` cells):
  * brute-force cosine top-k as the exactness baseline, ranked most-similar
  * pairs, the keypoint radial-score operator (SURVEY.md §2.9 V5), and an
  * LSH-bucketed ANN variant as the 100 TB scale path.
  *
  * Dot products / norms fold inside codegen'd higher-order functions with
  * DecimalType accumulators, so scores hash-match the relational DuckDB
  * oracle exactly (see [[graft.Dec]]). The brute-force paths broadcast the
  * (small) query side — a broadcast nested-loop with no shuffle of the
  * candidate table.
  */
object SimilarityOps extends OpModule {

  /** Dot product of two float-array columns — the codegen'd
    * [[graft.tensor.FloatDot]] kernel. Deterministic: a left-to-right
    * double fold over the array order of a single row (no shuffle), the
    * same arithmetic as DuckDB's `list_sum(list_transform(...))` —
    * verified bit-exact — so oracle parity holds without decimal
    * accumulators. `float_dot` reaches every [[graft.Session]] through
    * [[graft.plans.GraftExtensions]].
    */
  def dot(a: Column, b: Column): Column = call_function("float_dot", a, b)

  /** L2 norm (same fold contract, codegen'd). */
  def l2norm(a: Column): Column = call_function("float_norm", a)

  /** Brute-force cosine top-k: query rows broadcast against all candidates. */
  def knnBrute(s: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("qn"))
    base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", dot(col("qemb"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("cos_sim"))
      .orderBy("qid", "rnk")
  }

  /** The 8 seeded sign-random-projection hyperplanes shared by the
    * [[knnLsh]] plan and its DuckDB oracle. Float literals: Scala's
    * `Float.toString` prints the shortest decimal that round-trips, so
    * interpolating them into SQL and `CAST(... AS FLOAT)` reproduces the
    * exact same float32 planes in DuckDB.
    */
  private val NPlanes = 8
  private val planes: Seq[Array[Float]] = {
    val rng = new scala.util.Random(7)
    Seq.fill(NPlanes)(Array.fill(64)(rng.nextGaussian().toFloat))
  }

  /** Sign-random-projection LSH ANN: 8 hyperplanes → 256 buckets; queries
    * multi-probe their own bucket plus all hamming-1 neighbors. Candidates
    * meet queries through an equi-join on the bucket id — no cross
    * product, shuffle keyed on a 1-byte signature. Planes are seeded
    * literals shared with the oracle SQL, so the query is fully
    * deterministic AND DuckDB-oracled; SimilaritySpec additionally pins
    * its recall against [[knnBrute]].
    */
  def knnLsh(s: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    // float planes so the codegen float_dot kernel applies end-to-end
    def sig(emb: Column): Column =
      planes.zipWithIndex.map { case (p, j) =>
        val pc = array(p.toIndexedSeq.map(lit): _*).cast("array<float>")
        when(dot(emb, pc) > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)

    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"),
        sig(col("embedding")).as("sig"))
    val probes = (0 until NPlanes).map(p => col("sig").bitwiseXOR(lit(1 << p))) :+ col("sig")
    val q = base.filter(col("vec_id") < nQueries)
      .withColumn("probe", explode(array(probes: _*)))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qn"), col("probe").as("sig"))
    base.join(q, Seq("sig"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", dot(col("qemb"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("cos_sim"))
      .orderBy("qid", "rnk")
  }

  /** HOF cosine against a double-array centroid (seed embeddings cast
    * exactly; refined means are double already): a left-to-right double
    * fold per row, the same arithmetic as the oracle's list_sum fold.
    */
  private[graft] def centSim(emb: Column, nrm: Column, cemb: Column, cnrm: Column): Column =
    aggregate(zip_with(emb, cemb, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x) / (nrm * cnrm)

  /** Collapse a (tiny) centroid table to ONE row holding the array of
    * (cent, cemb, cnrm) structs — the broadcast side of a SHUFFLE-FREE
    * per-row assignment (see [[nearestCentsCol]]).
    */
  private def centArrayRow(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(
      struct(col("cent"), col("cemb"), col("cnrm")))).as("cl"))

  /** Per-row top-`keep` centroids WITHOUT a shuffle: score every centroid
    * in the broadcast `cl` array with the same HOF cosine, sort the
    * (csim, -cent) structs descending and slice. The lexicographic struct
    * order reproduces the former `row_number() OVER (ORDER BY csim DESC,
    * cent ASC)` winner and tiebreak EXACTLY — but as a pure map-side
    * expression, where the window form shuffled the full table on vec_id.
    * At 100 TB that window exchange was the dominant cost of every
    * assignment pass; this is the same arithmetic with zero exchanges.
    * (`collect_list` above is made order-free by the sort_array wrap;
    * scoring is order-independent anyway, so the array order only has to
    * be deterministic, not meaningful.)
    */
  private def nearestCentsCol(keep: Int): Column =
    slice(reverse(array_sort(transform(col("cl"), c => struct(
      centSim(col("embedding"), col("nrm"),
        c.getField("cemb"), c.getField("cnrm")).as("csim"),
      (-c.getField("cent")).as("negc"))))), 1, keep)

  /** One Lloyd (k-means) refinement round over the seed centroids: assign
    * every vector to its nearest seed, then take the per-cluster
    * element-wise mean as the refined centroid (cent, cemb: array<double>,
    * cnrm). Seed centroids are the first `nCentroids` vectors — good
    * enough plumbing, but recall at scale depends on centroid quality
    * (VERDICT r3 #6), hence the refinement.
    *
    * Scale + determinism shape: the assignment is one broadcast of the
    * tiny seed table and a per-row argmax over it ([[nearestCentsCol]] —
    * no shuffle); the mean is a posexplode → (cent, pos) aggregation
    * whose accumulator is DECIMAL(38,12) — exact and order-free, so the
    * refined centroids are bit-identical under any partitioning AND
    * reproducible by DuckDB's decimal sum (a double sum would depend on
    * shuffle arrival order). 64·nCentroids groups; nothing driver-bound.
    * Further Lloyd rounds are this same function composed.
    */
  def ivfRefinedCentroids(s: SparkSession, dir: String, nCentroids: Int): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val seeds = base.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent"), col("embedding").cast("array<double>").as("cemb"),
        col("nrm").as("cnrm"))
    val assigned = base
      .crossJoin(broadcast(centArrayRow(seeds)))
      .withColumn("best", nearestCentsCol(1).getItem(0))
      .select((-col("best").getField("negc")).as("cent"), col("embedding"))
    val means = assigned
      .select(col("cent"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy("cent", "pos")
      .agg((sum(col("val").cast("double")
        .cast(org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")
        / count(lit(1))).as("mean"))
    means.groupBy("cent")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        x => x.getField("mean")).as("cemb"))
      .withColumn("cnrm", sqrt(aggregate(transform(col("cemb"), x => x * x),
        lit(0.0), (acc, x) => acc + x)))
  }

  /** IVF-bucketed ANN: vectors are assigned to their nearest of
    * `nCentroids` Lloyd-refined centroids (the inverted file); a query
    * scans only its `nProbe` closest centroid lists. One broadcast of the
    * (tiny) centroid table for assignment — a per-row argmax, no shuffle
    * ([[nearestCentsCol]]) — then an equi-join on the centroid id:
    * candidate work is |probed lists|, not |table|.
    */
  def knnIvf(s: SparkSession, dir: String, nQueries: Int, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    // localCheckpoint (eager) truncates the centroid lineage: the Lloyd
    // round's full-table pass runs ONCE, and the two consumers below
    // (assignment + probes) broadcast the 16 materialized rows instead
    // of each re-executing the whole training subplan inside their own
    // broadcast subtree — the dd9 shared-subplan lesson applied here.
    val cents = ivfRefinedCentroids(s, dir, nCentroids).localCheckpoint()
    val centRow = broadcast(centArrayRow(cents))
    def nearestCents(df: DataFrame, keep: Int): DataFrame = df
      .crossJoin(centRow)
      // explode_outer, never explode: InferFiltersFromGenerate would
      // infer size(arr) > 0 for the non-outer form and re-inline the
      // scored-array expression below the projection (the x9 trap); the
      // slice is never empty, so outer is lossless.
      .withColumn("sel", explode_outer(nearestCentsCol(keep)))
      .filter(col("sel").isNotNull)
      .withColumn("cent", -col("sel").getField("negc"))
      .drop("cl", "sel")
    val assigned = nearestCents(base, 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent"))
    val probes = nearestCents(base.filter(col("vec_id") < nQueries), nProbe)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qn"), col("cent"))
    assigned.join(probes, Seq("cent"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", dot(col("qemb"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("cos_sim"))
      .orderBy("qid", "rnk")
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster the
    * corpus with the nn3 IVF coarse quantizer (one Lloyd round), then
    * mark a vector a duplicate iff some SAME-cluster vector with a lower
    * id is cosine-similar above `tau`. Candidate pairs never cross a
    * cluster boundary — the paper's point and the 100 TB shape: pair
    * work is Σ|cluster|², controlled by the centroid count, never N².
    * Priority inside an ε-ball is the deterministic id order (the paper
    * ranks by centroid distance — a keep-quality heuristic, not a
    * semantics change; id order keeps the verdict reproducible and the
    * oracle exact). One verdict row per vector.
    *
    * Plan shape: the assignment is the shuffle-free per-row argmax over
    * the broadcast centroid array ([[nearestCentsCol]]), materialized
    * ONCE (localCheckpoint) because three consumers read it — the pair
    * join's two sides and the verdict — and would each re-execute the
    * full argmax subplan otherwise (the dd9 shared-subtree lesson; a
    * production run persists the assignment table). The pair join
    * shuffles keyed on the cluster id; the verdict join is keyed on
    * vec_id against the (small) distinct drop set.
    */
  def semDedup(s: SparkSession, dir: String, nCentroids: Int = 16,
      tau: Double = 0.35): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
    val cents = ivfRefinedCentroids(s, dir, nCentroids).localCheckpoint()
    val assigned = base
      .crossJoin(broadcast(centArrayRow(cents)))
      .withColumn("sel", explode_outer(nearestCentsCol(1)))
      .filter(col("sel").isNotNull)
      .withColumn("cent", -col("sel").getField("negc"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent"))
      .localCheckpoint()
    val l = assigned.select(col("cent"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val r = assigned.select(col("cent"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dropped = l.join(r, Seq("cent"))
      .filter(col("a") < col("b") &&
        dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= tau)
      .select(col("b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.select("vec_id", "cent")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent"),
        when(col("is_dup"), lit("dup")).otherwise(lit("keep")).as("status"))
      .orderBy("vec_id")
  }

  /** Top principal component by POWER ITERATION (nn7) — the dimension-
    * reduction pass an embedding pipeline runs before whitening or
    * low-dim indexing. Shape at 100 TB: ONE distributed pass builds the
    * d×d covariance — the [[CovMomentsAggImpl]] kernel accumulates the
    * row count, per-position decimal sums and all d² outer-product
    * decimal sums per task buffer (round 16; it replaced a count scan, a
    * posexplode μ pass and a d²-per-row explode + (p,q) shuffle — see
    * the kernel scaladoc for the bit-exactness law), so the matrix is
    * bit-identical under any partitioning. The `iters` fixed iterations
    * that follow touch ONLY the d²-row C and a d-row v (O(d²) work,
    * independent of N, each matvec dot and norm summed in DECIMAL →
    * order-free, engine-exact trajectory); the final per-vector
    * projection (x−μ)·v is a sequential per-row fold against the
    * broadcast component. The uniform positive start vector (0.125 per
    * coordinate, same on both engines) pins the sign;
    * convergence is irrelevant to parity — the oracle unrolls the same
    * `iters` steps.
    */
  def powerPca(s: SparkSession, dir: String, iters: Int = 10): DataFrame = {
    // sequence(1, 0) auto-DESCENDS ([1, 0] — two steps, not zero), so an
    // iters < 1 fold would silently run the wrong trajectory (ADVICE r15)
    require(iters >= 1, s"powerPca: iters must be >= 1, got $iters")
    val emb = Tables(s, dir, "embeddings")
    // ONE kernel pass: n (all rows), nvec (non-null rows = the per-
    // position posexplode count on the uniform-d corpus — the kernel
    // throws on ragged input, so the equality is enforced, not assumed),
    // msum = per-position DECIMAL(38,12) sums as double, psum = row-major
    // d² outer-product DECIMAL(38,12) sums as double. Derivations below
    // are term-identical to the old plan: m = msum/nvec is the same
    // double division sum/count, cv = psum/n − ma·mb the same double
    // expression over the same decimal-exact sums.
    val cm = emb.agg(udaf(CovMomentsAggImpl)
      .apply(col("embedding").cast("array<double>")).as("cm"))
    // The `iters` matvec+normalize steps run over a SINGLE ROW holding C
    // row-major as `carr` (d² doubles) — round 15, optimization guide
    // §1.2 step 1 (fewer passes/jobs): the former per-iteration
    // DataFrame loop paid 3 driver-synchronized jobs per step (join+agg,
    // norm broadcast, localCheckpoint) ≈ 30 jobs of pure scheduling
    // latency for O(d²) arithmetic, serialized between stages on any
    // cluster just the same — and the warm-up's ~30 checkpointed
    // RDDs/broadcasts per execution made the ContextCleaner churn that
    // inverted nn7's bench readings (sweep-1 baseline: warm-up 5.5 s,
    // timed reps 25.9/14.0 s). The whole iteration is now ONE
    // `aggregate(sequence(1, iters), v0, step)` fold: iterative
    // evaluation of a fixed-size expression tree (a per-step Project
    // chain was tried first and REVERTED — the optimizer inlined the
    // w/nv/v′ columns into each other and the shared subtrees
    // re-evaluated exponentially, 2^iters matvecs). Per-step
    // intermediates bind ONCE via single-element transform arrays:
    // w = the matvec, nv = its norm, each evaluated one time per step.
    //
    // Arithmetic is TERM-IDENTICAL to the loop: each matvec coordinate
    // sums the 12-fraction-digit decimal image of c·v exactly, the norm
    // squares in the same decimal, the division stays double — so every
    // w/nv double, and pc1, is bit-for-bit the loop's (and the
    // oracle's, which unrolls the same steps as CTE w_i/n_i/v_i).
    // Accumulator typing: the loop summed in Sum's internal
    // DECIMAL(38,12); a HOF lambda must return EXACTLY the zero's type,
    // and Add((38,12),(38,12)) hits the precision cap and drops to
    // scale 11 — so the fold runs at DECIMAL(30,12): the add is (31,12)
    // (lossless — scale preserved, precision grows) and the re-cast to
    // (30,12) is exact for any value < 10¹⁸ (unit-scale covariance sums
    // over d ≤ 64 terms). Each TERM rounds to the same 12 fractional
    // digits as before and decimal addition is exact.
    val dec30 = "CAST(0 AS DECIMAL(30,12))"
    def matvec(v: String): String =
      s"""transform(sequence(0, d - 1), p ->
         |  CAST(aggregate(sequence(0, d - 1), $dec30, (acc, q) ->
         |    CAST(acc + CAST(element_at(carr, p * d + q + 1)
         |              * element_at($v, q + 1) AS DECIMAL(30,12))
         |      AS DECIMAL(30,12)))
         |    AS DOUBLE))""".stripMargin
    val normOfW =
      s"""sqrt(CAST(aggregate(w, $dec30, (acc, x) ->
         |  CAST(acc + CAST(x * x AS DECIMAL(30,12)) AS DECIMAL(30,12)))
         |  AS DOUBLE))""".stripMargin
    val step =
      s"""element_at(transform(array(${matvec("v")}), w ->
         |  element_at(transform(array($normOfW), nv ->
         |    transform(w, x -> x / nv)), 1)), 1)""".stripMargin
    // carr density is guaranteed by the kernel (uniform d or it throws),
    // so the row-major element_at indexing in the fold cannot shift.
    //
    // marr/d/carr BIND ONCE as one-element-transform lambda variables —
    // the same binding trick the fold's per-step w/nv already use. A
    // withColumn chain here was tried first and REVERTED (round-16 A/B:
    // 79 s vs 2.2 s at sf0.1): CollapseProject inlines marr into carr
    // into the fold, so each of the fold's ~iters·d² element_at(carr, …)
    // calls re-evaluates the ENTIRE d² carr expression (and its marr
    // subtree) — ~2·10¹⁰ ops of silent re-evaluation, the exact
    // shared-subtree pathology the round-15 failure journal records for
    // the per-step Project chain. The old code dodged it by accident:
    // carr/marr were Aggregate outputs, and Aggregate is a hard
    // inlining boundary; kernel-derived Project columns are not.
    val marrSql = "transform(msum, x -> x / CAST(nvec AS DOUBLE))"
    val carrOf = // marr, d in scope from the enclosing lambdas
      """transform(psum, (x, i) -> x / CAST(n AS DOUBLE)
        |  - element_at(marr, CAST(i div d AS INT) + 1)
        |  * element_at(marr, (i % d) + 1))""".stripMargin
    val vfinSql =
      s"""element_at(transform(array($marrSql), marr ->
         |  element_at(transform(array(size(marr)), d ->
         |    element_at(transform(array($carrOf), carr ->
         |      aggregate(sequence(1, $iters),
         |        CAST(transform(marr, m -> CAST(0.125 AS DOUBLE)) AS ARRAY<DOUBLE>),
         |        (v, i) -> $step)), 1)), 1)), 1)""".stripMargin
    val iterated = cm.select(
        col("cm.n").as("n"), col("cm.nvec").as("nvec"),
        col("cm.msum").as("msum"), col("cm.psum").as("psum"))
      .select(expr(marrSql).as("marr"), expr(vfinSql).as("vfin"))
    // ONE broadcast carries both arrays — a second broadcast of the same
    // one-row plan would re-execute the covariance pass (projection-
    // different exchanges never reuse).
    val vm = broadcast(iterated.select(col("vfin").as("varr"), col("marr")))
    // The component v is BIT-stable across engines: each iteration's
    // DECIMAL(38,12) quantization snaps sub-quantum drift, and power
    // iteration contracts input perturbations geometrically (measured:
    // v10 identical to an exact-decimal emulation). μ is NOT: DuckDB's
    // double→DECIMAL cast occasionally lands one 1e-12 quantum off the
    // exact half-up value Spark's BigDecimal cast produces (measured: one
    // flipped cast in 500 → 2e-15 on a mean), and that drift enters the
    // projection linearly. Rounding the emitted score to 9 decimals
    // absorbs it on both sides — the v5b precedent, same caveat.
    emb.crossJoin(vm)
      .select(col("vec_id"),
        round(aggregate(zip_with(
          zip_with(col("embedding"), col("marr"), (x, m) => x.cast("double") - m),
          col("varr"), (c, vv) => c * vv),
          lit(0.0), (acc, x) => acc + x), 9).as("pc1"))
      .orderBy("vec_id")
  }

  /** DuckDB twin of [[powerPca]]: the same covariance (per-term double
    * products, DECIMAL(38,12) sums), the same fixed start vector, and
    * the same `iters` matvec+normalize steps UNROLLED as CTE triples
    * (w/n/v per step — recursive CTEs cannot aggregate over their own
    * recursive reference, and unrolling is exactly what "fixed
    * iteration count" means). Multi-referenced CTEs are MATERIALIZED:
    * DuckDB otherwise INLINES a CTE at each reference, and each w_i is
    * referenced twice (n_i, v_i), so the covariance subtree would be
    * re-evaluated 2^iters times — measured as a runaway, not a
    * slowdown.
    */
  private def powerPcaOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""w$i AS MATERIALIZED (SELECT c.p, CAST(sum(CAST(c.cv * v.val AS DECIMAL(38,12))) AS DOUBLE) AS wv
         |        FROM cov c JOIN v${i - 1} v ON v.p = c.q GROUP BY c.p),
         |n$i AS (SELECT sqrt(CAST(sum(CAST(wv * wv AS DECIMAL(38,12))) AS DOUBLE)) AS nv FROM w$i),
         |v$i AS MATERIALIZED (SELECT p, wv / nv AS val FROM w$i, n$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH cnt AS (SELECT count(*) AS n FROM embeddings),
       |pv AS MATERIALIZED (SELECT vec_id, u.p AS p, u.v AS v FROM (
       |         SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
       |           i -> {'p': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
       |         FROM embeddings)),
       |mu AS MATERIALIZED (SELECT p, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
       |       FROM pv GROUP BY p),
       |xy AS (SELECT a.p AS p, b.p AS q,
       |         CAST(sum(CAST(a.v * b.v AS DECIMAL(38,12))) AS DOUBLE) AS sxy
       |       FROM pv a JOIN pv b USING (vec_id) GROUP BY a.p, b.p),
       |cov AS MATERIALIZED (SELECT xy.p, xy.q,
       |          sxy / CAST(n AS DOUBLE) - ma.m * mb.m AS cv
       |        FROM xy CROSS JOIN cnt
       |        JOIN mu ma ON ma.p = xy.p JOIN mu mb ON mb.p = xy.q),
       |v0 AS (SELECT p, 0.125 AS val FROM mu),
       |$steps,
       |vc AS (SELECT list(val ORDER BY p) AS varr FROM v$iters),
       |mc AS (SELECT list(m ORDER BY p) AS marr FROM mu)
       |SELECT vec_id,
       |  round(list_sum(list_transform(range(1, len(embedding) + 1),
       |    i -> (CAST(embedding[i] AS DOUBLE) - marr[i]) * varr[i])), 9) AS pc1
       |FROM embeddings, vc, mc ORDER BY vec_id""".stripMargin
  }

  /** Shared oracle CTE chain for every IVF-assignment consumer (nn3,
    * dd10): seeds → one Lloyd round in the same DECIMAL(38,12) exact
    * accumulator as the Spark side → refined centroids → full-table
    * nearest-centroid assignment. Ends at `asg` (vec_id, embedding,
    * nrm, cent). The dot product is the same sequential double-widened
    * fold as the codegen float_dot kernel.
    */
  private def ivfAssignCtes: String =
    """WITH n AS (SELECT vec_id, embedding,
      |             sqrt(list_sum(list_transform(embedding,
      |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings),
      |c0 AS (SELECT vec_id AS cent, embedding AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
      |s0 AS (SELECT n.vec_id, n.embedding, c0.cent,
      |         list_sum(list_transform(list_zip(n.embedding, c0.cemb),
      |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (n.nrm * c0.cnrm) AS csim
      |       FROM n, c0),
      |a0 AS (SELECT vec_id, embedding, cent FROM (
      |         SELECT vec_id, embedding, cent,
      |                row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent ASC) AS crn
      |         FROM s0) WHERE crn = 1),
      |pe AS (SELECT cent, unnest(list_transform(range(1, len(embedding) + 1),
      |         i -> {'pos': i, 'val': embedding[i]})) AS u FROM a0),
      |m AS (SELECT cent, u.pos AS pos,
      |        CAST(sum(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
      |          / count(*) AS mean
      |      FROM pe GROUP BY cent, u.pos),
      |cr AS (SELECT cent, list(mean ORDER BY pos) AS cemb FROM m GROUP BY cent),
      |c AS (SELECT cent, cemb,
      |        sqrt(list_sum(list_transform(cemb, x -> x * x))) AS cnrm FROM cr),
      |sim AS (SELECT n.vec_id, n.embedding, n.nrm, c.cent,
      |          list_sum(list_transform(list_zip(n.embedding, c.cemb),
      |            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (n.nrm * c.cnrm) AS csim
      |        FROM n, c),
      |rk AS (SELECT vec_id, embedding, nrm, cent,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent ASC) AS crn
      |       FROM sim),
      |asg AS (SELECT vec_id, embedding, nrm, cent FROM rk WHERE crn = 1)""".stripMargin

  /** DuckDB twin of [[knnIvf]] (nQueries=10, k=3, nCentroids=16,
    * nProbe=4, one Lloyd round): the shared [[ivfAssignCtes]] assignment,
    * then probing keeps ranks 1–4 for the query rows and candidates meet
    * through the centroid id exactly as the Spark equi-join does.
    */
  private def knnIvfOracleSql: String =
    s"""$ivfAssignCtes,
      |prb AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qn, cent
      |        FROM rk WHERE vec_id < 10 AND crn <= 4),
      |cand AS (SELECT p.qid, a.vec_id AS cid,
      |           list_sum(list_transform(list_zip(p.qemb, a.embedding),
      |             q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) / (p.qn * a.nrm) AS cos_sim
      |         FROM asg a JOIN prb p USING (cent) WHERE a.vec_id <> p.qid)
      |SELECT qid, cid, rnk, cos_sim FROM (
      |  SELECT qid, cid, cos_sim,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS BIGINT) AS rnk
      |  FROM cand) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** DuckDB twin of [[semDedup]] (nCentroids=16, τ=0.35): the shared
    * [[ivfAssignCtes]] assignment, then a vector is a duplicate iff some
    * LOWER-id vector in the SAME cluster is cosine-similar above τ —
    * the same within-cluster pair join as the Spark side.
    */
  private def semDedupOracleSql: String =
    s"""$ivfAssignCtes,
      |drp AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
      |          ON a.cent = b.cent AND a.vec_id < b.vec_id
      |        WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.35)
      |SELECT g.vec_id, g.cent,
      |       CASE WHEN d.vec_id IS NULL THEN 'keep' ELSE 'dup' END AS status
      |FROM asg g LEFT JOIN drp d USING (vec_id) ORDER BY vec_id""".stripMargin

  /** DuckDB twin of [[knnLsh]] (nQueries=10, k=3): the plane literals are
    * printed into a VALUES table, signatures are the same sign-of-dot bit
    * sums, and the multiprobe set is sig plus its 8 hamming-1 neighbors.
    */
  private def knnLshOracleSql: String = {
    val planeRows = planes.zipWithIndex.map { case (p, j) =>
      s"($j, [${p.mkString(", ")}]::FLOAT[])"
    }.mkString(",\n  ")
    s"""WITH planes(j, pvec) AS (VALUES
       |  $planeRows),
       |n AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(embedding,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings),
       |s AS (SELECT vec_id,
       |        CAST(sum(CASE WHEN list_sum(list_transform(list_zip(embedding, pvec),
       |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0
       |          THEN 1 << j ELSE 0 END) AS INTEGER) AS sig
       |      FROM n, planes GROUP BY vec_id),
       |base AS (SELECT n.vec_id, n.embedding, n.nrm, s.sig FROM n JOIN s USING (vec_id)),
       |qprobe AS (SELECT b.vec_id AS qid, b.embedding AS qemb, b.nrm AS qn,
       |             CASE WHEN p = 8 THEN b.sig ELSE CAST(xor(b.sig, 1 << p) AS INTEGER) END AS sig
       |           FROM base b, range(0, 9) r(p) WHERE b.vec_id < 10),
       |cand AS (SELECT q.qid, b.vec_id AS cid,
       |           list_sum(list_transform(list_zip(q.qemb, b.embedding),
       |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (q.qn * b.nrm) AS cos_sim
       |         FROM base b JOIN qprobe q USING (sig) WHERE b.vec_id <> q.qid)
       |SELECT qid, cid, rnk, cos_sim FROM (
       |  SELECT qid, cid, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS BIGINT) AS rnk
       |  FROM cand) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    // Brute-force cosine top-3 for the first 10 query vectors. The oracle
    // mirrors the engine's sequential-fold arithmetic via list lambdas.
    Q("nn1_knn_brute", Some(
      """WITH n AS (SELECT vec_id, sqrt(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings),
        |d AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |        list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot
        |      FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |sc AS (SELECT qid, cid, d.dot / (nq.nrm * nc.nrm) AS cos_sim
        |       FROM d JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid)
        |SELECT qid, cid, rnk, cos_sim FROM (
        |  SELECT qid, cid, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS BIGINT) AS rnk
        |  FROM sc) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
      (s, dir) => knnBrute(s, dir, nQueries = 10, k = 3)),

    // Ranked most-similar pairs within a bounded id block (near-dup audit
    // by embedding cosine): top-50 pairs, always non-empty, no threshold
    // sensitivity to the scale factor.
    Q("dd5_embedding_neardup", Some(
      """WITH e AS (SELECT vec_id, embedding,
        |             sqrt(list_sum(list_transform(embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |           FROM embeddings WHERE vec_id < 300),
        |sc AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos_sim
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT a, b, rnk, cos_sim FROM (
        |  SELECT a, b, cos_sim,
        |         CAST(row_number() OVER (ORDER BY cos_sim DESC, a ASC, b ASC) AS BIGINT) AS rnk
        |  FROM sc) WHERE rnk <= 50 ORDER BY rnk""".stripMargin),
      (s, dir) => {
        val base = Tables(s, dir, "embeddings").filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
        val l = base.select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
        val r = base.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
        // sort-limit (TakeOrderedAndProject) instead of a global window:
        // only 50 rows ever reach the driver-side rank attachment.
        l.join(broadcast(r), col("a") < col("b"))
          .withColumn("cos_sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .orderBy(col("cos_sim").desc, col("a").asc, col("b").asc)
          .limit(50)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("cos_sim").desc, col("a").asc, col("b").asc)).cast("long"))
          .select("a", "b", "rnk", "cos_sim")
          .orderBy("rnk")
      }),

    // dd5's 100 TB scale path: LSH-bucketed near-dup pairs over the FULL
    // table (no id block). Candidate pairs form only inside a shared
    // sign-random-projection bucket (the nn2 planes) — an equi-join on a
    // 1-byte signature, |pairs| ≈ N²/2·2^planes instead of N²/2 — then
    // exact cosine ranks the survivors. At 100 TB the plane count rises
    // with N to hold per-bucket cardinality; the shape (bucket equi-join,
    // no cross product, sort-limit top-k) is unchanged. Fully oracled:
    // the seeded plane literals replay in SQL exactly as nn2's do.
    Q("dd5b_embedding_lsh_neardup", Some {
      val planeRows = planes.zipWithIndex.map { case (p, j) =>
        s"($j, [${p.mkString(", ")}]::FLOAT[])"
      }.mkString(",\n  ")
      s"""WITH planes(j, pvec) AS (VALUES
         |  $planeRows),
         |n AS (SELECT vec_id, embedding,
         |        sqrt(list_sum(list_transform(embedding,
         |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings),
         |s AS (SELECT vec_id,
         |        CAST(sum(CASE WHEN list_sum(list_transform(list_zip(embedding, pvec),
         |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0
         |          THEN 1 << j ELSE 0 END) AS INTEGER) AS sig
         |      FROM n, planes GROUP BY vec_id),
         |base AS (SELECT n.vec_id, n.embedding, n.nrm, s.sig FROM n JOIN s USING (vec_id)),
         |sc AS (SELECT l.vec_id AS a, r.vec_id AS b,
         |         list_sum(list_transform(list_zip(l.embedding, r.embedding),
         |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (l.nrm * r.nrm) AS cos_sim
         |       FROM base l JOIN base r ON l.sig = r.sig AND l.vec_id < r.vec_id)
         |SELECT a, b, rnk, cos_sim FROM (
         |  SELECT a, b, cos_sim,
         |         CAST(row_number() OVER (ORDER BY cos_sim DESC, a ASC, b ASC) AS BIGINT) AS rnk
         |  FROM sc) WHERE rnk <= 50 ORDER BY rnk""".stripMargin
    },
      (s, dir) => {
        def sig(emb: Column): Column =
          planes.zipWithIndex.map { case (p, j) =>
            val pc = array(p.toIndexedSeq.map(lit): _*).cast("array<float>")
            when(dot(emb, pc) > 0, lit(1 << j)).otherwise(lit(0))
          }.reduce(_ + _)
        val base = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"),
            sig(col("embedding")).as("sig"))
        val l = base.select(col("sig"), col("vec_id").as("a"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val r = base.select(col("sig"), col("vec_id").as("b"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        // shuffle keyed on the signature; pairs never leave their bucket
        l.join(r, Seq("sig")).filter(col("a") < col("b"))
          .withColumn("cos_sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .orderBy(col("cos_sim").desc, col("a").asc, col("b").asc)
          .limit(50)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("cos_sim").desc, col("a").asc, col("b").asc)).cast("long"))
          .select("a", "b", "rnk", "cos_sim")
          .orderBy("rnk")
      }),

    // V5 — keypoint radial score (PrepKeypointData analog,
    // /root/reference/dlmerged2parquet.py:215-216): every point scored
    // against a small broadcast keypoint set, max score + argmax keypoint
    // kept. Radial kernel 1/(1+d²) on the leading 4 dims.
    Q("v5_keypoint_score", Some(
      """WITH e AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e0, CAST(embedding[2] AS DOUBLE) AS e1,
        |                  CAST(embedding[3] AS DOUBLE) AS e2, CAST(embedding[4] AS DOUBLE) AS e3
        |           FROM embeddings),
        |k AS (SELECT vec_id AS kp_id, e0 AS k0, e1 AS k1, e2 AS k2, e3 AS k3 FROM e WHERE vec_id < 5),
        |sc AS (SELECT e.vec_id, k.kp_id,
        |         1.0 / (1.0 + ((e0-k0)*(e0-k0) + (e1-k1)*(e1-k1) + (e2-k2)*(e2-k2) + (e3-k3)*(e3-k3))) AS score
        |       FROM e, k)
        |SELECT vec_id, kp_id, score FROM (
        |  SELECT vec_id, kp_id, score,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, kp_id ASC) AS rn
        |  FROM sc) WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        def dims(df: DataFrame, pre: String): DataFrame =
          df.select(col("vec_id") +:
            (0 until 4).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"$pre$i")): _*)
        val e = dims(Tables(s, dir, "embeddings"), "e")
        val k = dims(Tables(s, dir, "embeddings").filter(col("vec_id") < 5), "k")
          .withColumnRenamed("vec_id", "kp_id")
        // per-row argmax over the 5-struct broadcast array — same winner
        // and kp_id tiebreak as the former vec_id window, zero shuffles
        // on the scored table (the nearestCentsCol pattern)
        val kl = broadcast(k.agg(sort_array(collect_list(struct(
          col("kp_id"), col("k0"), col("k1"), col("k2"), col("k3")))).as("kl")))
        def d2(kp: Column) =
          (col("e0") - kp.getField("k0")) * (col("e0") - kp.getField("k0")) +
          (col("e1") - kp.getField("k1")) * (col("e1") - kp.getField("k1")) +
          (col("e2") - kp.getField("k2")) * (col("e2") - kp.getField("k2")) +
          (col("e3") - kp.getField("k3")) * (col("e3") - kp.getField("k3"))
        e.crossJoin(kl)
          .withColumn("best", array_max(transform(col("kl"), kp => struct(
            (lit(1.0) / (lit(1.0) + d2(kp))).as("score"),
            (-kp.getField("kp_id")).as("negk")))))
          .select(col("vec_id"), (-col("best").getField("negk")).as("kp_id"),
            col("best").getField("score").as("score"))
          .orderBy("vec_id")
      }),

    // LSH-bucketed ANN (scale path). Fully oracled: the seeded plane
    // literals are interpolated into the SQL, so DuckDB recomputes the
    // same signatures, multiprobe set, and candidate join; SimilaritySpec
    // additionally pins recall vs the brute-force baseline.
    Q("nn2_lsh_ann", Some(knnLshOracleSql),
      (s, dir) => knnLsh(s, dir, nQueries = 10, k = 3)),

    // IVF-bucketed ANN (the other scale path). Centroids are the first 16
    // data vectors — pure data-derived arithmetic, so the whole inverted-
    // file pipeline (assignment, 4-probe, candidate join, top-3) is
    // reproduced by the oracle SQL.
    Q("nn3_ivf_ann", Some(knnIvfOracleSql),
      (s, dir) => knnIvf(s, dir, nQueries = 10, k = 3)),

    // Embedding-cluster dedup: cosine near-dup edges over a bounded id
    // block → distributed connected components → one cluster id (minimum
    // member) per vector. The embedding-space completion of the dedup
    // family: dd6 clusters by token sketches, dd7 by embedding geometry.
    // The oracle replays the edges arithmetically and the components with
    // a recursive min-reachability CTE — independently checking the
    // pointer-jumping CC a second time on a different graph.
    Q("dd7_embedding_clusters", Some(
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE vec_id < 300),
        |edges AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.95),
        |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |reach(id, r) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |SELECT e.vec_id, coalesce(c.comp, e.vec_id) AS cluster_rep
        |FROM e LEFT JOIN comp c ON c.id = e.vec_id
        |ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val base = Tables(s, dir, "embeddings").filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
        val l = base.select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
        val r = base.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
        val edges = l.join(broadcast(r), col("a") < col("b"))
          .filter(dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= 0.95)
          .select("a", "b")
        // dedupe=false (round 15): the a<b join emits each edge exactly
        // once; the distinct was a wasted shuffle (the dd6 change, same
        // rationale — DedupOps.dedupClusters)
        val comp = graft.ops.GraphOps.connectedComponents(edges, dedupe = false)
        base.select(col("vec_id"))
          .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("cluster_rep"))
          .orderBy("vec_id")
      }),

    // Embedding int8 quantization audit — the storage-shrink step an ANN
    // index at 100 TB runs before anything else (4 bytes → 1 byte per
    // dim). Per-vector symmetric scale 127/max|v|; rounding is spelled
    // floor(x + 0.5) on BOTH engines (plain `round` differs across
    // engines on .5 ties). Output is the per-vector reconstruction audit
    // (max abs error, MSE) rather than the int8 array itself (the driver
    // compare cannot hash array cells); errors fold sequentially per row,
    // so parity needs no decimal accumulators.
    Q("nn4_int8_quant", Some(
      """WITH e AS (SELECT vec_id, embedding,
        |             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |           FROM embeddings),
        |q AS (SELECT vec_id, embedding, 127.0 / mx AS scale FROM e WHERE mx > 0),
        |r AS (SELECT vec_id, scale,
        |        list_transform(embedding, x ->
        |          abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * scale + 0.5) / scale)) AS errs
        |      FROM q)
        |SELECT vec_id, scale, list_max(errs) AS max_abs_err,
        |       list_sum(list_transform(errs, x -> x * x)) / len(errs) AS mse
        |FROM r ORDER BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .withColumn("mx", array_max(transform(col("embedding"),
            x => abs(x.cast("double")))))
          .filter(col("mx") > 0)
          .withColumn("scale", lit(127.0) / col("mx"))
          .withColumn("errs", transform(col("embedding"),
            x => abs(x.cast("double") -
              floor(x.cast("double") * col("scale") + 0.5) / col("scale"))))
        emb.select(col("vec_id"), col("scale"),
          array_max(col("errs")).as("max_abs_err"),
          (aggregate(transform(col("errs"), x => x * x), lit(0.0), (a, x) => a + x)
            / size(col("errs"))).as("mse"))
          .orderBy("vec_id")
      }),

    // V5 with the reference's actual Gaussian kernel exp(−d²/σ²), σ=10
    // (/root/reference/dlmerged2parquet.py:232). libm exp() isn't
    // bit-identical across engines, so the argmax ranks on the RAW score
    // (ulp differences can't flip it — SimilaritySpec pins argmax
    // agreement with the rational twin) and the emitted score is rounded
    // to 9 decimals, which absorbs last-ulp exp() divergence and makes
    // the query fully oracled. CAVEAT: rounding shrinks, not eliminates,
    // the exposure — a score within ~1 ulp of a 0.5e-9 boundary could
    // still round apart across libm versions. If a future environment
    // flips a case, demote this score to rows-only; v5_keypoint_score
    // (rational kernel, no transcendentals) is the canonical oracle.
    Q("v5b_keypoint_gauss", Some(
      """WITH e AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e0, CAST(embedding[2] AS DOUBLE) AS e1,
        |                  CAST(embedding[3] AS DOUBLE) AS e2, CAST(embedding[4] AS DOUBLE) AS e3
        |           FROM embeddings),
        |k AS (SELECT vec_id AS kp_id, e0 AS k0, e1 AS k1, e2 AS k2, e3 AS k3 FROM e WHERE vec_id < 5),
        |sc AS (SELECT e.vec_id, k.kp_id,
        |         exp(-((e0-k0)*(e0-k0) + (e1-k1)*(e1-k1) + (e2-k2)*(e2-k2) + (e3-k3)*(e3-k3)) / 100.0) AS score
        |       FROM e, k)
        |SELECT vec_id, kp_id, round(score, 9) AS score FROM (
        |  SELECT vec_id, kp_id, score,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, kp_id ASC) AS rn
        |  FROM sc) WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      (s, dir) => {
      def dims(df: DataFrame, pre: String): DataFrame =
        df.select(col("vec_id") +:
          (0 until 4).map(i => element_at(col("embedding"), i + 1).cast("double").as(s"$pre$i")): _*)
      val e = dims(Tables(s, dir, "embeddings"), "e")
      val k = dims(Tables(s, dir, "embeddings").filter(col("vec_id") < 5), "k")
        .withColumnRenamed("vec_id", "kp_id")
      // same shuffle-free per-row argmax as v5; ranks on the RAW exp
      // score (see the determinism caveat above), rounds only the output
      val kl = broadcast(k.agg(sort_array(collect_list(struct(
        col("kp_id"), col("k0"), col("k1"), col("k2"), col("k3")))).as("kl")))
      def d2(kp: Column) =
        (col("e0") - kp.getField("k0")) * (col("e0") - kp.getField("k0")) +
        (col("e1") - kp.getField("k1")) * (col("e1") - kp.getField("k1")) +
        (col("e2") - kp.getField("k2")) * (col("e2") - kp.getField("k2")) +
        (col("e3") - kp.getField("k3")) * (col("e3") - kp.getField("k3"))
      val sigma2 = 100.0 // σ = 10, as in the reference
      e.crossJoin(kl)
        .withColumn("best", array_max(transform(col("kl"), kp => struct(
          exp(-d2(kp) / sigma2).as("score"),
          (-kp.getField("kp_id")).as("negk")))))
        .select(col("vec_id"), (-col("best").getField("negk")).as("kp_id"),
          round(col("best").getField("score"), 9).as("score"))
        .orderBy("vec_id")
    }),

    // Product-quantization ANN (nn5) — the memory-scale path an ANN index
    // takes at 100 TB: each 64-dim float vector (256 B) compresses to m=4
    // one-byte codes by snapping each 16-dim subvector to its nearest of
    // 8 per-subspace centroids (seed subvectors of vectors 0..7 refined
    // by one Lloyd round — pqRefinedCodebook, nn3's pattern), and query
    // distance is the classic ADC sum of per-subspace lookup-table
    // entries. Spark shape: the 32-row codebook broadcasts as ONE row
    // holding a struct array, and encoding is a per-row struct-argmin
    // over it (pqCodeCol — zero shuffles; the former explode + keyed
    // argmin shuffled the 4×|table| subvector stream); ADC joins the
    // codes against the tiny broadcast per-query distance tables and
    // sums the m=4 entries in DECIMAL so the result is order-free and
    // oracle-exact.
    // Distances use the codegen float_l2sq kernel (same sequential-fold
    // contract as float_dot, bit-identical to the oracle's list lambdas).
    Q("nn5_pq_ann", Some(pqOracleSql),
      (s, dir) => knnPq(s, dir, nQueries = 3, k = 10))
  ) :+
    // IVF-PQ ANN (nn6) — the two scale paths COMPOSED the way a
    // production billion-vector index ships them (FAISS IVFPQ shape):
    // an IVF coarse quantizer partitions the corpus into inverted lists,
    // and within each list vectors are PQ-encoded as RESIDUALS from
    // their list centroid (residuals have ~cell-radius magnitude, so the
    // same 8-centroid codebook quantizes far finer than on raw vectors).
    // Search probes nProbe lists; the ADC tables are computed per
    // (query, probed list) against the query's OWN residual in that
    // list's frame. Scale shape: the 16-row coarse table and 32-row
    // codebook broadcast as one-row struct arrays; assignment and
    // encode are per-row struct-argmins over them (zero data-side
    // shuffles, zero windows); candidates only
    // ever meet the tiny broadcast distance tables through a
    // (cell, subspace, code) equi-join — work is |probed lists|, memory
    // is 4 code bytes per vector. Fully oracled: every step is the same
    // float subtract + sequential double fold as the codegen float_l2sq
    // kernel, replayed in SQL. Lloyd refinement is deliberately not
    // repeated here — nn3 (coarse) and nn5 (codebook) each prove it
    // independently; nn6 pins the composition.
    Q("nn6_ivfpq_ann", Some(ivfPqOracleSql),
      (s, dir) => knnIvfPq(s, dir, nQueries = 3, k = 10)) :+
    // nn6b — the refine/recheck stage production IVF-PQ ships with
    // (FAISS IndexRefineFlat): exact-L2 re-rank of the ADC top-3k
    // candidates against the raw vectors. See knnIvfPqRefined.
    Q("nn6b_ivfpq_refine", Some(ivfPqRefineOracleSql),
      (s, dir) => knnIvfPqRefined(s, dir, nQueries = 3, k = 10, rerank = 30)) :+
    // dd10 — SemDeDup: the embedding-space dedup production corpora
    // actually run (cluster first, then pairs only WITHIN a cluster —
    // never the all-pairs dd5 shape). τ=0.35 is fixture-calibrated: the
    // synthetic embeddings carry no true near-dups (max within-cluster
    // cosine ≈ 0.5), so a production τ≈0.95 would mark nothing at any
    // SF; the shape is threshold-independent. SimilaritySpec plants an
    // exact duplicate and pins it dropped.
    Q("dd10_semdedup", Some(semDedupOracleSql),
      (s, dir) => semDedup(s, dir, nCentroids = 16, tau = 0.35)) :+
    // nn7 — distributed PCA top component: one O(N·d²) covariance pass,
    // then O(d²) power iterations and a map-side projection. The whole
    // trajectory is decimal-summed, so the oracle replays it exactly.
    Q("nn7_pca_power", Some(powerPcaOracleSql(10)),
      (s, dir) => powerPca(s, dir, iters = 10)) :+
    // nn8 — maximum-inner-product search (retrieval scoring is raw
    // q·x, not cosine — recommendation / retrieval-augmented lookups):
    // sign-RP LSH hashes by ANGLE, so it cannot serve MIPS directly.
    // The classic norm-augmentation reduction (Shrivastava & Li's
    // asymmetric transform, simplified): lift every candidate to
    // x' = [x, √(M²−|x|²)] (M = max norm ⇒ |x'| = M for all), queries
    // to q' = [q, 0]; then q'·x' = q·x with all candidates equal-norm,
    // so angular LSH on the lifted space IS inner-product LSH.
    Q("nn8_mips_ann", Some(mipsOracleSql),
      (s, dir) => knnMips(s, dir, nQueries = 10, k = 3))

  /** Squared-L2 between two float-array columns — codegen'd
    * [[graft.tensor.FloatL2Sq]]; same fold/null contract as [[dot]].
    */
  def l2sq(a: Column, b: Column): Column = call_function("float_l2sq", a, b)

  /** 65-dim double hyperplanes for the LIFTED MIPS space: 64 data dims
    * plus the augmented coordinate. Doubles (not the float planes of
    * nn2): the augmented coordinate √(M²−|x|²) is born double, and
    * `Double.toString` round-trips through the oracle's SQL literals
    * exactly, so both engines hash with bit-identical planes.
    */
  // defs/lazy, not vals: the qs chain (declared ABOVE this point)
  // evaluates mipsOracleSql during object init, before later plain vals
  // are assigned — a val here would read as 0/null (measured the hard
  // way; object vals are NOT constant-inlined).
  private def MipsNPlanes = 8
  /** Multi-probe masks: hamming ≤ 2 (1 + 8 + 28 = 37 of 256 buckets).
    * DEEPER than nn2's hamming-1 on purpose: the augmented coordinate
    * adds a per-plane bias aug·p₆₄ to every CANDIDATE signature that
    * the aug=0 QUERY signature never sees, so lifted-space signatures
    * sit systematically farther from their query's than in the
    * symmetric cosine case — probe depth is the recall knob that
    * compensates (SimilaritySpec pins the resulting recall floor).
    */
  private def mipsProbeMasks: Seq[Int] =
    Seq(0) ++ (0 until MipsNPlanes).map(1 << _) ++
      (for { i <- 0 until MipsNPlanes; j <- i + 1 until MipsNPlanes }
        yield (1 << i) | (1 << j))
  private lazy val mipsPlanes: Seq[Array[Double]] = {
    val rng = new scala.util.Random(11)
    Seq.fill(MipsNPlanes)(Array.fill(65)(rng.nextGaussian()))
  }

  /** q·x with a plane's first 64 coords: left-to-right double fold,
    * the same arithmetic as the oracle's list_sum fold.
    */
  private def mipsPlaneDot(emb: Column, p: Array[Double]): Column =
    aggregate(zip_with(emb, array(p.take(64).toIndexedSeq.map(lit): _*),
      (x, y) => x.cast("double") * y), lit(0.0), (acc, x) => acc + x)

  /** MIPS top-k via the norm-augmentation reduction + sign-RP LSH (see
    * the nn8 Q): candidates hash the lifted vector (plane dot + aug ×
    * plane's 65th coord), queries hash with aug = 0 and multi-probe
    * hamming ≤ 2, pairs meet through the bucket equi-join, and the final
    * score is the RAW inner product (kernel fold). The augmented
    * coordinate never materializes as a 65-array — it contributes one
    * multiply-add per plane. Scale shape is knnLsh's: one tiny max-norm
    * broadcast, shuffle keyed on a 1-byte signature, sort-limit top-k.
    */
  def knnMips(s: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(
        Tables(s, dir, "embeddings")
          .agg(max(l2norm(col("embedding"))).as("mx"))))
      .withColumn("aug", sqrt(col("mx") * col("mx") - col("nrm") * col("nrm")))
    def sig(withAug: Boolean): Column =
      mipsPlanes.zipWithIndex.map { case (p, j) =>
        val d = mipsPlaneDot(col("embedding"), p) +
          (if (withAug) col("aug") * lit(p(64)) else lit(0.0))
        when(d > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    val cand = base.withColumn("sig", sig(withAug = true))
      .select("vec_id", "embedding", "sig")
    val probes = mipsProbeMasks.map(m => col("qsig").bitwiseXOR(lit(m)))
    val q = base.filter(col("vec_id") < nQueries)
      .withColumn("qsig", sig(withAug = false))
      .withColumn("probe", explode(array(probes: _*)))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("probe").as("sig"))
    cand.join(q, Seq("sig"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("ip", dot(col("qemb"), col("embedding")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ip").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("ip"))
      .orderBy("qid", "rnk")
  }

  /** DuckDB oracle for nn8: max-norm lift, plane signatures (aug term
    * for candidates, aug = 0 for queries), hamming ≤ 2 multi-probe, raw
    * inner-product ranking — plane coords and fold order identical to
    * the Spark plan.
    */
  private def mipsOracleSql: String = {
    def planeArr(p: Array[Double]): String =
      p.take(64).map(_.toString).mkString("[", ", ", "]")
    def sigExpr(withAug: Boolean): String =
      mipsPlanes.zipWithIndex.map { case (p, j) =>
        val aug = if (withAug) s" + aug * ${p(64)}" else ""
        s"""(CASE WHEN list_sum(list_transform(list_zip(embedding, ${planeArr(p)}),
           |z -> CAST(z[1] AS DOUBLE) * z[2]))$aug > 0 THEN ${1 << j} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
    val probeList = mipsProbeMasks
      .map(m => s"xor(qsig, $m)").mkString("[", ", ", "]")
    s"""WITH n AS (SELECT vec_id, embedding, sqrt(list_sum(list_transform(embedding,
       |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings),
       |m AS (SELECT max(nrm) AS mx FROM n),
       |a AS (SELECT vec_id, embedding, sqrt(mx * mx - nrm * nrm) AS aug FROM n, m),
       |c AS (SELECT vec_id, embedding, ${sigExpr(withAug = true)} AS sig FROM a),
       |q0 AS (SELECT vec_id, embedding, ${sigExpr(withAug = false)} AS qsig
       |       FROM a WHERE vec_id < 10),
       |q AS (SELECT vec_id AS qid, embedding AS qemb, unnest($probeList) AS sig FROM q0),
       |d AS (SELECT q.qid, c.vec_id AS cid,
       |        list_sum(list_transform(list_zip(q.qemb, c.embedding),
       |          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS ip
       |      FROM q JOIN c ON q.sig = c.sig AND c.vec_id <> q.qid)
       |SELECT qid, cid, rnk, ip FROM (
       |  SELECT qid, cid, ip,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY ip DESC, cid ASC) AS BIGINT) AS rnk
       |  FROM d) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  private val PqM = 4        // subspaces
  private val PqSubDim = 16  // dims per subspace (4 × 16 = 64)
  private val PqK = 8        // centroids per subspace

  /** Explode each vector into its `PqM` subvectors: (vec_id, s, subv).
    * posexplode_outer, not posexplode — the non-outer form would let
    * InferFiltersFromGenerate push an inferred `size(arr) > 0` below the
    * projection and re-inline the slice array (the x9 trap); the array is
    * a constant-shape 4-slice build, never empty, so outer is lossless.
    */
  private def pqSubspaces(df: DataFrame): DataFrame = df
    .select(col("vec_id"), posexplode_outer(array((0 until PqM).map(si =>
      slice(col("embedding"), si * PqSubDim + 1, PqSubDim)): _*)).as(Seq("s", "subv")))

  /** One Lloyd refinement round over the PQ seed codebook (parity with
    * nn3's refined IVF, closing VERDICT r4 #6): assign every subvector to
    * its nearest seed centroid within its subspace, then the
    * per-(subspace, cluster) element-wise means are the refined codebook.
    * The mean accumulates in DECIMAL(38,12) — exact, order-free,
    * DuckDB-replayable (the nn3 pattern) — and the refined centroid
    * rounds back to FLOAT so the hot encode path keeps the codegen
    * float_l2sq kernel; double→float is IEEE round-to-nearest on both
    * engines, so the oracle replays it with a plain CAST. Scale shape:
    * one broadcast of the 32-row seed table, one partial-aggregated
    * argmin, one keyed mean over 4·8·16 = 512 groups.
    */
  /** One-row broadcast of a PQ codebook (s, cid, cent) as a sorted
    * struct array — the shuffle-free encode side (the nearestCentsCol
    * pattern applied to subspace codebooks).
    */
  private def codebookRow(cb: DataFrame): DataFrame =
    cb.agg(sort_array(collect_list(struct(col("s"), col("cid"), col("cent")))).as("cb"))

  /** Per-row PQ code for subspace `si` of float-array column `arr`:
    * argmin over the broadcast `cb` array filtered to s = si, as the
    * lexicographic array_min of (d2, cid) structs — the SAME winner and
    * cid tiebreak as the former broadcast-join + partial-aggregated
    * `min(struct(d2, cid))`, but as a pure map-side expression: the old
    * shape still shuffled the 4×|table| exploded subvector stream into
    * its (vec_id, s) aggregate; this shuffles nothing. The l2sq kernel
    * implements nullSafeEval, so it evaluates inside the (interpreted)
    * HOF lambda with the same sequential-fold arithmetic the oracle
    * replays.
    */
  private def pqCodeCol(arr: Column, si: Int): Column = {
    val sub = slice(arr, si * PqSubDim + 1, PqSubDim)
    array_min(transform(
      filter(col("cb"), c => c.getField("s") === lit(si)),
      c => struct(l2sq(sub, c.getField("cent")).as("d2"), c.getField("cid").as("cid"))))
      .getField("cid")
  }

  private[graft] def pqRefinedCodebook(s: SparkSession, dir: String): DataFrame = {
    val seeds = pqSubspaces(Tables(s, dir, "embeddings").filter(col("vec_id") < PqK))
      .select(col("vec_id").as("cid"), col("s"), col("subv").as("cent"))
    // per-row encode (zero-shuffle), then the keyed mean over 512 groups
    val enc = Tables(s, dir, "embeddings")
      .crossJoin(broadcast(codebookRow(seeds)))
      .select(posexplode_outer(array((0 until PqM).map(si => struct(
        lit(si).as("s"), pqCodeCol(col("embedding"), si).as("cid"),
        slice(col("embedding"), si * PqSubDim + 1, PqSubDim).as("subv"))): _*))
        .as(Seq("i", "a")))
    enc
      .select(col("a.s").as("s"), col("a.cid").as("cid"),
        posexplode_outer(col("a.subv")).as(Seq("pos", "v")))
      .groupBy("s", "cid", "pos")
      .agg((sum(col("v").cast("double")
        .cast(org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")
        / count(lit(1))).as("mean"))
      .groupBy("s", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        x => x.getField("mean").cast("float")).as("cent"))
  }

  /** PQ encode + ADC top-k search. `refined = false` keeps the raw seed
    * codebook — only SimilaritySpec uses it, to pin that the Lloyd round
    * does not lose recall.
    */
  def knnPq(s: SparkSession, dir: String, nQueries: Int, k: Int,
      refined: Boolean = true): DataFrame = {
    // localCheckpoint: the codebook's own full-table Lloyd pass runs
    // once, not once per broadcast consumer (codes + dtab) — the same
    // lineage truncation as nn3's centroids
    val cents = (if (refined) pqRefinedCodebook(s, dir)
    else pqSubspaces(Tables(s, dir, "embeddings").filter(col("vec_id") < PqK))
      .select(col("vec_id").as("cid"), col("s"), col("subv").as("cent")))
      .localCheckpoint()
    // encode: per-row argmin over the broadcast codebook array
    // (pqCodeCol) — no exploded-stream shuffle
    val codes = Tables(s, dir, "embeddings")
      .crossJoin(broadcast(codebookRow(cents)))
      .select(col("vec_id"), posexplode_outer(array((0 until PqM).map(si => struct(
        lit(si).as("s"), pqCodeCol(col("embedding"), si).as("code"))): _*))
        .as(Seq("i", "a")))
      .select(col("vec_id"), col("a.s").as("s"), col("a.code").as("code"))
    // per-query subspace distance tables: nQueries × m × k rows — tiny
    val dtab = pqSubspaces(Tables(s, dir, "embeddings").filter(col("vec_id") < nQueries))
      .join(broadcast(cents), Seq("s"))
      .select(col("vec_id").as("qid"), col("s"), col("cid").as("code"),
        l2sq(col("subv"), col("cent")).as("d2q"))
    codes.join(broadcast(dtab), Seq("s", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("d2q").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
        .cast("double").as("adc"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("adc"))
      .orderBy("qid", "rnk")
  }

  /** IVF-PQ encode + probe + ADC search (see the nn6 query comment for
    * the design). `nCoarse` seed coarse centroids are the first vectors;
    * the PQ codebook seeds are the residual subvectors of the first
    * `PqK` NON-centroid vectors (centroid vectors' own residuals are
    * ~zero — useless seeds).
    */
  def knnIvfPq(s: SparkSession, dir: String, nQueries: Int, k: Int,
      nCoarse: Int = 16, nProbe: Int = 4): DataFrame =
    ivfPqAdc(s, dir, nQueries, nCoarse, nProbe)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("adc"))
      .orderBy("qid", "rnk")

  /** nn6b — the FAISS refine/recheck stage over [[knnIvfPq]]: ADC ranks
    * are 4-byte-code approximations, so the standard production index
    * (IndexRefineFlat) takes the ADC top-`rerank` candidates (3k here)
    * and re-ranks them by EXACT distance against the raw stored vectors
    * before returning top-k. Re-ranking uses the index's own metric —
    * exact squared L2, the metric the coarse quantizer and ADC
    * approximate — so every refine can only move a candidate toward its
    * true rank; recall against exact-L2 ground truth is ≥ the unrefined
    * nn6's by construction (SimilaritySpec pins it). Scale shape: the
    * candidate set is nQueries × rerank rows — BROADCAST to the raw
    * vector scan for a single shuffle-free equi-join on vec_id (at 100 TB
    * the full-fidelity vectors live on disk untouched by the ADC pass;
    * the refine reads exactly the candidate rows' pages) — then the tiny
    * query side joins broadcast and the exact l2sq fold re-ranks.
    */
  def knnIvfPqRefined(s: SparkSession, dir: String, nQueries: Int, k: Int,
      rerank: Int, nCoarse: Int = 16, nProbe: Int = 4): DataFrame = {
    val cand = ivfPqAdc(s, dir, nQueries, nCoarse, nProbe)
      .withColumn("arnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id").asc)))
      .filter(col("arnk") <= rerank)
      .select("qid", "vec_id")
    val base = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val qemb = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    base.join(broadcast(cand), "vec_id")
      .join(broadcast(qemb), "qid")
      .withColumn("d2", l2sq(col("qemb"), col("embedding")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("rnk"), col("d2"))
      .orderBy("qid", "rnk")
  }

  /** The shared IVF-PQ pipeline up to the per-candidate ADC sums:
    * (qid, vec_id, adc), one row per (query, probed candidate).
    */
  private def ivfPqAdc(s: SparkSession, dir: String, nQueries: Int,
      nCoarse: Int, nProbe: Int): DataFrame = {
    val base = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val coarse = base.filter(col("vec_id") < nCoarse)
      .select(col("vec_id").as("cell"), col("embedding").as("cemb"))
    def subspaces(df: DataFrame, arr: String, out: String): DataFrame = df
      .select(df.columns.filter(c => c != arr).map(col) :+
        posexplode_outer(array((0 until PqM).map(si =>
          slice(col(arr), si * PqSubDim + 1, PqSubDim)): _*)).as(Seq("s", out)): _*)
    // coarse assignment: per-row argmin over the broadcast centroid
    // array (the nearestCentsCol pattern, L2 flavor) — same (d2, cell)
    // winner and tiebreak as the former crossJoin + groupBy(vec_id)
    // struct-min, but zero shuffles and no argmin-then-rejoin; the
    // chosen centroid rides along in the struct so the residual needs
    // no second broadcast join
    val coarseRow = broadcast(coarse.agg(sort_array(collect_list(
      struct(col("cell"), col("cemb")))).as("cl")))
    val asg = base.crossJoin(coarseRow)
      .withColumn("best", array_min(transform(col("cl"), c => struct(
        l2sq(col("embedding"), c.getField("cemb")).as("d2c"),
        c.getField("cell").as("cell"), c.getField("cemb").as("cemb")))))
      .select(col("vec_id"), col("best").getField("cell").as("cell"),
        zip_with(col("embedding"), col("best").getField("cemb"),
          (x, y) => x - y).as("res"))
    // codebook seeds: residual subvectors of the first PqK non-centroid
    // vectors (filter BEFORE the subspace explode — it commutes and
    // prunes the scan); localCheckpoint so the 32 rows materialize once
    // for both consumers (codes + dtab)
    val book = subspaces(
      asg.filter(col("vec_id") >= nCoarse && col("vec_id") < nCoarse + PqK),
      "res", "subv")
      .select((col("vec_id") - nCoarse).as("cid"), col("s"), col("subv").as("cent"))
      .localCheckpoint()
    // encode: per-row argmin over the broadcast codebook (pqCodeCol) —
    // no exploded-stream shuffle
    val codes = asg.crossJoin(broadcast(codebookRow(book)))
      .select(col("vec_id"), col("cell"),
        posexplode_outer(array((0 until PqM).map(si => struct(
          lit(si).as("s"), pqCodeCol(col("res"), si).as("code"))): _*))
          .as(Seq("i", "a")))
      .select(col("vec_id"), col("cell"), col("a.s").as("s"), col("a.code").as("code"))
    // query side: nProbe nearest lists, residual per probed list
    val probes = base.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(coarse))
      .withColumn("d2c", l2sq(col("embedding"), col("cemb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2c").asc, col("cell").asc)))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cell"),
        zip_with(col("embedding"), col("cemb"), (x, y) => x - y).as("qres"))
    val dtab = subspaces(probes, "qres", "qsubv")
      .join(broadcast(book), Seq("s"))
      .select(col("qid"), col("cell"), col("s"), col("cid").as("code"),
        l2sq(col("qsubv"), col("cent")).as("d2q"))
    codes.join(broadcast(dtab), Seq("cell", "s", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("d2q").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
        .cast("double").as("adc"))
  }

  /** DuckDB twin of [[knnIvfPq]] (nQueries=3, k=10, 16 coarse cells,
    * 4 probes, m=4×16, 8 codebook centroids seeded from the residual
    * subvectors of vectors 16–23): `dc`/`asg` replay the coarse argmin,
    * `res`/`sub` the float residual subtraction and subvector slicing,
    * `book`/`codes` the residual-frame PQ encode, `prb`/`qres`/`dtab`
    * the per-(query, probed list) lookup tables, and `adc` the
    * DECIMAL(38,12) order-free sum. Float subtraction is correctly
    * rounded IEEE single precision on both engines, so the residuals are
    * bit-identical; every distance is the same sequential
    * subtract-square double fold as the float_l2sq kernel.
    */
  private def ivfPqOracleSql: String =
    s"""WITH ${ivfPqAdcCtes}
       |SELECT qid, cid, rnk, adc FROM (
       |  SELECT qid, cid, adc,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid ASC) AS BIGINT) AS rnk
       |  FROM adc) WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** DuckDB twin of [[knnIvfPqRefined]] (rerank=30): the shared ADC
    * CTEs, the top-30-by-ADC candidate cut, then the exact squared-L2
    * re-rank against the raw embeddings — the same sequential
    * subtract-square double fold as the float_l2sq kernel, so `d2` is
    * bit-identical cross-engine.
    */
  private def ivfPqRefineOracleSql: String = {
    val l2 = "list_sum(list_transform(list_zip(%s, %s), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
      "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    s"""WITH ${ivfPqAdcCtes},
       |cand AS (SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid ASC) AS arnk
       |    FROM adc) WHERE arnk <= 30),
       |ex AS (SELECT cn.qid, cn.cid, ${l2.format("q.embedding", "e.embedding")} AS d2
       |       FROM cand cn JOIN embeddings q ON q.vec_id = cn.qid
       |                    JOIN embeddings e ON e.vec_id = cn.cid)
       |SELECT qid, cid, rnk, d2 FROM (
       |  SELECT qid, cid, d2,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid ASC) AS BIGINT) AS rnk
       |  FROM ex) WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  /** Shared CTE prefix of the nn6/nn6b oracles, ending at `adc`
    * (qid, cid, adc) — see [[ivfPqOracleSql]]'s scaladoc for the replay
    * notes.
    */
  private def ivfPqAdcCtes: String = {
    val l2 = "list_sum(list_transform(list_zip(%s, %s), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
      "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    s"""c0 AS (SELECT vec_id AS cell, embedding AS cemb FROM embeddings WHERE vec_id < 16),
       |dc AS (SELECT e.vec_id, e.embedding, c.cell, c.cemb,
       |         ${l2.format("e.embedding", "c.cemb")} AS d2c
       |       FROM embeddings e, c0 c),
       |rk AS (SELECT vec_id, embedding, cell, cemb,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2c ASC, cell ASC) AS rn
       |       FROM dc),
       |res AS (SELECT vec_id, cell,
       |          list_transform(list_zip(embedding, cemb),
       |            p -> CAST(p[1] - p[2] AS FLOAT)) AS res
       |        FROM rk WHERE rn = 1),
       |sub AS (SELECT vec_id, cell, s, res[s*16+1 : s*16+16] AS subv
       |        FROM res, range(4) r(s)),
       |book AS (SELECT vec_id - 16 AS pcid, s, subv AS pcent FROM sub
       |         WHERE vec_id >= 16 AND vec_id < 24),
       |d AS (SELECT b.vec_id, b.cell, b.s, k.pcid, ${l2.format("b.subv", "k.pcent")} AS d2
       |      FROM sub b JOIN book k USING (s)),
       |codes AS (SELECT vec_id, cell, s, pcid AS code FROM (
       |    SELECT vec_id, cell, s, pcid,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, pcid ASC) AS rn
       |    FROM d) WHERE rn = 1),
       |qres AS (SELECT vec_id AS qid, cell,
       |           list_transform(list_zip(embedding, cemb),
       |             p -> CAST(p[1] - p[2] AS FLOAT)) AS qres
       |         FROM rk WHERE vec_id < 3 AND rn <= 4),
       |qsub AS (SELECT qid, cell, s, qres[s*16+1 : s*16+16] AS qsubv
       |         FROM qres, range(4) r(s)),
       |dtab AS (SELECT q.qid, q.cell, q.s, k.pcid AS code,
       |           ${l2.format("q.qsubv", "k.pcent")} AS d2q
       |         FROM qsub q JOIN book k USING (s)),
       |adc AS (SELECT t.qid, c.vec_id AS cid,
       |          CAST(sum(CAST(t.d2q AS DECIMAL(38,12))) AS DOUBLE) AS adc
       |        FROM codes c JOIN dtab t USING (cell, s, code) WHERE c.vec_id <> t.qid
       |        GROUP BY t.qid, c.vec_id)""".stripMargin
  }

  /** DuckDB twin of [[knnPq]] (nQueries=3, k=10, m=4×16 dims, 8
    * centroids/subspace, one Lloyd round): `sub` replays the subvector
    * explode with list slicing; `seed`/`d0`/`a0` the seed assignment with
    * the same subtract-square sequential fold as the float_l2sq kernel;
    * `pe`/`m`/`cent` the per-(subspace, cluster, position) DECIMAL(38,12)
    * mean rounded back to FLOAT (the refined codebook); then `d`/`codes`
    * the (d2, cid) argmin encode against the refined centroids, `dtab`
    * the query lookup tables, and `adc` the DECIMAL(38,12) order-free
    * per-candidate sum.
    */
  private def pqOracleSql: String = {
    val l2 = "list_sum(list_transform(list_zip(%s, %s), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
      "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    val dSub = l2.format("b.subv", "c.cent")
    s"""WITH sub AS (
       |  SELECT vec_id, s, embedding[s*16+1 : s*16+16] AS subv
       |  FROM embeddings, range(4) r(s)),
       |seed AS (SELECT vec_id AS cid, s, subv AS cent FROM sub WHERE vec_id < 8),
       |d0 AS (SELECT b.vec_id, b.s, b.subv, c.cid, ${l2.format("b.subv", "c.cent")} AS d2
       |       FROM sub b JOIN seed c USING (s)),
       |a0 AS (SELECT vec_id, s, subv, cid FROM (
       |         SELECT vec_id, s, subv, cid,
       |                row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
       |         FROM d0) WHERE rn = 1),
       |pe AS (SELECT s, cid, unnest(list_transform(range(1, len(subv) + 1),
       |         i -> {'pos': i, 'val': subv[i]})) AS u FROM a0),
       |m AS (SELECT s, cid, u.pos AS pos,
       |        CAST(sum(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
       |          / count(*) AS mean
       |      FROM pe GROUP BY s, cid, u.pos),
       |cent AS (SELECT s, cid, list_transform(list(mean ORDER BY pos),
       |           x -> CAST(x AS FLOAT)) AS cent
       |         FROM m GROUP BY s, cid),
       |d AS (SELECT b.vec_id, b.s, c.cid, $dSub AS d2
       |      FROM sub b JOIN cent c USING (s)),
       |codes AS (SELECT vec_id, s, cid AS code FROM (
       |    SELECT vec_id, s, cid,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
       |    FROM d) WHERE rn = 1),
       |dtab AS (SELECT b.vec_id AS qid, b.s, c.cid AS code, $dSub AS d2q
       |         FROM sub b JOIN cent c USING (s) WHERE b.vec_id < 3),
       |adc AS (SELECT t.qid, k.vec_id AS cid,
       |          CAST(sum(CAST(t.d2q AS DECIMAL(38,12))) AS DOUBLE) AS adc
       |        FROM codes k JOIN dtab t USING (s, code) WHERE k.vec_id <> t.qid
       |        GROUP BY t.qid, k.vec_id)
       |SELECT qid, cid, rnk, adc FROM (
       |  SELECT qid, cid, adc,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid ASC) AS BIGINT) AS rnk
       |  FROM adc) WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }
}
