package graft.quality

import graft.{OpModule, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at scale: MinHash + banded LSH and SimHash
  * over the `documents` table. These are the unbounded-scale complements
  * to the bounded-block exact Jaccard in [[TextOps]] (dd4).
  *
  * HASH FAMILY — plain integer arithmetic, not xxhash64: a token's code
  * is the classic polynomial rolling hash mod the Mersenne prime 2^31−1
  * (base 127, the same construction as [[TextOps]] winnowing), and the
  * i-th hash function is an affine map `(a_i·code + b_i) mod M` with
  * seeded constants. Every intermediate stays below 2^62, so the family
  * is ANSI-overflow-safe in Spark AND bit-reproducible by any SQL engine
  * — which is what upgrades the whole dd family (dd2/dd3/dd3b/dd6) from
  * rows-only to fully DuckDB-oracled: the oracle SQL interpolates the
  * same seed constants and recomputes signatures, banding, clique
  * collapse, and (for dd6) the connected components via a recursive CTE.
  *
  * Both signature kinds are computed in ONE aggregation pass over the
  * exploded token stream — no per-hash-function re-shuffle, fully
  * map-side partial-aggregated, which is what makes the pattern viable
  * at 100 TB. DedupSpec pins recall on planted near-duplicates and the
  * tracking of the MinHash estimate against exact token-set Jaccard.
  */
object DedupOps extends OpModule {

  private val NumHashes = 32
  // 4 bands of 8: tuned for jaccard ≥ ~0.85. Wide bands matter on
  // corpora with high ambient similarity (shared boilerplate/vocab):
  // narrow bands admit nearly every pair as a candidate and the
  // candidate join degenerates toward all-pairs.
  private val BandSize = 8
  private val NumBands = NumHashes / BandSize

  /** Mersenne prime 2^31 − 1: modulus of the token-code and affine hash
    * arithmetic (shared with [[TextOps.HashMod]]).
    */
  private val Mod = 2147483647L
  /** Multiplier of the band-key Horner fold (any odd constant ≪ 2^31). */
  private val BandP = 1000003L

  /** In-expression pair-expansion threshold on dd2/dd6's banded rep-LSH
    * buckets: a bucket up to this size expands its candidate pairs inside
    * one expression evaluation (≤ ~32k structs in one row). Buckets
    * DENSER than this are no longer dropped — round 11 measured that
    * dropping them cost 9.3% of shard-0's true candidate pairs at sf10
    * cross-copy density — they take the CHUNKED enumeration path instead
    * (see [[repPairs]]), which emits the IDENTICAL pair set with per-row
    * memory bounded at [[PairChunk]]² structs. The threshold is
    * therefore an execution boundary, not a semantic one: the result set
    * only depends on [[MinhashBucketHardCap]]. Lowered 1000 → 256 in
    * round 12: one ~990-member cross-copy bucket expanded inline is an
    * indivisible ~490k-pair task (an 8.4 s max-task straggler in the
    * sf10 stage profile), while the chunked path cuts it into ten
    * spreadable slice-pairs.
    */
  val MinhashBucketCap = 256

  /** Recall-preserving admit ceiling on dd2/dd6's rep buckets (one shared
    * constant for Spark and the oracle SQL — a drift would silently
    * de-synchronize candidate sets). Chunking bounds MEMORY per task, but
    * a bucket's pair count is inherently quadratic — n = 8192 is ~3.4e7
    * pairs, roughly the entire over-cap pair population measured at sf10
    * (26M across 18 buckets, max bucket 2474; SCALING.md §bucket-cap
    * recall recovered, round 12). Buckets
    * beyond the hard cap are degenerate template floods, not dup
    * families, and are surfaced by [[minhashDroppedBuckets]], the dd2 leg
    * of the no-silent-caps posture (simhash/dd9/er1 each have their own).
    */
  val MinhashBucketHardCap = 8192

  /** Chunk width of the over-cap pair enumeration: an over-cap bucket's
    * sorted member list is cut into `PairChunk`-wide slices and pairs are
    * enumerated per slice-pair, so no single expression evaluation
    * materializes more than PairChunk² ≈ 262k pair structs regardless of
    * bucket size.
    */
  private[graft] val PairChunk = 256

  /** Seeded affine constants (a in [1, M−1], b in [0, M−1]). */
  private def affineSeeds(n: Int, seed: Long): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)((1L + rng.nextInt((Mod - 1).toInt).toLong,
      rng.nextInt(Mod.toInt).toLong))
  }
  private val MinhashSeeds = affineSeeds(NumHashes, 13)
  private val SimhashSeeds = affineSeeds(64, 17)

  /** (doc_id, t) — one row per distinct token with its 31-bit polynomial
    * code, via the codegen'd [[graft.tensor.PolyHash31]] kernel (the HOF
    * fold `aggregate(sequence(...) ... ascii(substring(...)))` computes
    * the same value but runs interpreted per character — ~3× slower end
    * to end on the sketch queries).
    */
  private def tokenCodes(s: SparkSession, dir: String): DataFrame =
    tokenCodesOf(s, Tables(s, dir, "documents"))

  /** As [[tokenCodes]] but over an arbitrary (doc_id, text, …) frame —
    * the incremental-dedup path hashes snapshot slices, not whole tables.
    */
  private def tokenCodesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    // explode_OUTER + null filter on the GENERATED column, not plain
    // explode: InferFiltersFromGenerate would add a pushed-down
    // `size(array_distinct(split(...))) > 0` scan filter that tokenizes
    // every document a second time (the rule skips outer generators; the
    // x9 query comment documents the pathological form of the same trap).
    docs
      .select(col("doc_id"),
        explode_outer(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
      .filter(col("tok").isNotNull)
      .select(col("doc_id"), call_function("poly_hash31", col("tok")).as("t"))
  }

  private def affine(t: Column, seed: (Long, Long)): Column =
    (t * seed._1 + seed._2) % Mod

  /** (doc_id, sig: array<long>) MinHash signature table — one shuffle:
    * 32 affine mixes inline per (doc, token) row, reduced by 32 `min`
    * aggregates in one map-side-partial pass.
    *
    * The 32 minima are PACKED into a single array column at the
    * aggregation boundary. Downstream plan width matters more than it
    * looks: every AQE stage boundary re-optimizes the remaining plan on
    * the driver, and with 32 loose columns flowing through
    * cliques→bands→joins that replanning alone cost ~9 s per query at
    * sf0.1 (measured; the identical pipeline on one array column is ~4×
    * faster end to end). On a real cluster that driver stall serializes
    * between stages just the same.
    */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(s, Tables(s, dir, "documents"))

  /** As [[minhashSignatures]] but over an arbitrary (doc_id, text, …)
    * frame (snapshot slices in [[incrementalVerdicts]]).
    *
    * One codegen [[graft.tensor.MinHashSig]] kernel evaluation per
    * document — no explode, no aggregation, NO EXCHANGE: the former
    * explode → 32-min groupBy manufactured a (doc, token) row per token
    * just to reduce it straight back down, and its doc-keyed shuffle was
    * a full-corpus exchange the per-row kernel simply does not have.
    * Bit-identical output (same PolyHash31 codes, same affine seeds, in
    * seed order; DedupSpec pins the signature law), and the null-text
    * edge keeps the explode path's semantics: such docs are absent from
    * the signature table.
    */
  def minhashSignaturesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      call_function("minhash_sig",
        array_distinct(split(trim(col("text")), "\\s+")),
        array(MinhashSeeds.map(x => lit(x._1)): _*),
        array(MinhashSeeds.map(x => lit(x._2)): _*)).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Near-dup pairs via MinHash. Two tiers, both linear where the data is
    * degenerate:
    *
    * 1. Signature-identical cliques (common in web-scale corpora: exact
    *    and near-exact duplicates) are collapsed first — each clique
    *    emits (representative, member) pairs, LINEAR in clique size,
    *    where naive bucket pair-expansion would be quadratic (a 1.6k-doc
    *    clique = 1.3M pairs).
    * 2. Banded LSH runs over the distinct-signature representatives only;
    *    bucket pair expansion happens in-expression after a single
    *    shuffle, with a bucket-size cap as the residual skew guard.
    */
  /** @param minBands candidate pairs must collide in at least this many
    *   bands (the distinct becomes a count over the same shuffle). At
    *   high est-thresholds this prunes the signature join's input
    *   several-fold with negligible recall loss (P[≥2 of 4 bands] ≈ 0.89
    *   at j = 0.95).
    */
  /** (sig, ids) — documents grouped by identical full signature, member
    * ids sorted (ids[0] is the clique representative = min id).
    */
  def minhashCliques(s: SparkSession, dir: String): DataFrame =
    minhashSignatures(s, dir)
      .groupBy("sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))

  /** Band key: Horner fold of one 8-minhash slice (the band index is a
    * separate grouping column, so no salt is needed).
    */
  private def bandKeyExpr(b: Int): String =
    s"""aggregate(slice(sig, ${b * BandSize + 1}, $BandSize), CAST(0 AS BIGINT),
       |  (acc, x) -> (acc * $BandP + x) % $Mod)""".stripMargin

  /** Banded-LSH near-dup pairs between clique REPRESENTATIVES with the
    * minhash-agreement Jaccard estimate.
    *
    * Bucket pair enumeration is two-path by size, ONE pair set
    * (DedupSpec pins path equivalence by shrinking the thresholds):
    *
    *   - ≤ `expandCap` members (the overwhelmingly common case): the
    *     sorted member array expands triangularly inside one expression —
    *     no extra shuffle, fully codegen.
    *   - (`expandCap`, hard cap]: the member array is cut into
    *     [[PairChunk]]-wide slices; one row per slice-pair (ci ≤ cj) is
    *     exploded, hash-REPARTITIONED so a dense bucket's quadratic work
    *     spreads across the cluster instead of pinning one task, then
    *     expanded triangularly (ci = cj) or as a full cross product
    *     (ci < cj). Sortedness makes every emitted pair canonical
    *     (a < b) on both paths. The repartition's shuffle volume is
    *     slice-pair rows (~8 KB each), not pairs. This is what turns the
    *     bucket cap from a recall loss (9.3% of true sf10 candidates in
    *     round 11) into a pure memory/skew bound.
    */
  private[graft] def repPairs(cliques: DataFrame, minEstJaccard: Double, minBands: Int,
      expandCap: Int = MinhashBucketCap, hardCap: Int = MinhashBucketHardCap,
      chunk: Int = PairChunk): DataFrame = {
    val reps = cliques.select(element_at(col("ids"), 1).as("doc_id"), col("sig"))
    val cand = repCandidates(cliques, minBands, expandCap, hardCap, chunk)
    // NEVER sort-merge for the signature attachment: the pair side is
    // |pairs| rows and the SECOND join's input carries the first
    // signature (~0.5 KB/row), so a sort-merge plan must EXTERNALLY
    // SORT |pairs| × sig_bytes — ~75 GB of sort spill at sf100 (140 M
    // pairs), which exceeded the sandbox disk outright (round 13).
    // WHICH non-sorting join is size-gated (round 14, verdict #6): the
    // unconditional shuffle_hash hint foreclosed AQE's broadcast of the
    // small reps table at toy scale — the r13 sweep's one real mover
    // (dd2 sf0.1 norm 1.06 → 1.52, two avoidable pair-side exchanges).
    // Below the session broadcast threshold (by the optimizer's own
    // static estimate, the same input a static BHJ decision would use)
    // the reps side broadcasts and the pair side is never exchanged at
    // all; above it, hash-building the doc-count-sized signature table
    // streams the pair side with zero sorts — the right shape at every
    // large scale (huge probe side, bounded build side, no ordering
    // requirement). Measured round 14: the gate returns dd2 sf0.1 to
    // the broadcast plan (1.60 → 1.13 s, pair set bit-identical) and
    // leaves the sf1.0/sf10 shuffle-hash plans untouched (estimates
    // 1.7/17 MB vs the 10 MB threshold; sf10 17.8 s unchanged).
    val attach: DataFrame => DataFrame = {
      val est = reps.queryExecution.optimizedPlan.stats.sizeInBytes
      val thr = cliques.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (thr > 0 && est <= thr) broadcast _ else (df: DataFrame) => df.hint("shuffle_hash")
    }
    cand
      .join(attach(reps.select(col("doc_id").as("a"), col("sig").as("siga"))), "a")
      .join(attach(reps.select(col("doc_id").as("b"), col("sig").as("sigb"))), "b")
      .withColumn("est_jaccard",
        expr("aggregate(zip_with(siga, sigb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
          .cast("double") / NumHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("a", "b", "est_jaccard")
  }

  /** [[repPairs]] up to (and excluding) the signature-attachment joins —
    * the tier-2 candidate-pair population the verification stage takes
    * as input. Split out so probes can measure the candidate work unit
    * without the |pairs| × sig_bytes attachment shuffle (deployment-
    * trivial — ~70 MB per executor at sf100 across 1000 nodes — but
    * beyond a SINGLE node's disk; the candidate counts are in SCALING.md
    * §three-decade watchlist, round 13).
    */
  private[graft] def repCandidates(cliques: DataFrame, minBands: Int,
      expandCap: Int = MinhashBucketCap, hardCap: Int = MinhashBucketHardCap,
      chunk: Int = PairChunk): DataFrame = {
    val reps = cliques.select(element_at(col("ids"), 1).as("doc_id"), col("sig"))
    val buckets = bandKeysOf(reps)
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, hardCap)) // audited skew guard
    // EXPLICIT partition counts on both expansion inputs: the bucket
    // lists are BYTE-small (16 MB at sf10) but expand quadratically, and
    // AQE coalesces by bytes — it squeezed the agg exchange to 12
    // partitions and one task ate 26.5 s of the query's wall expanding
    // the dense buckets (sf10 stage profile, round 12). A pinned-count
    // repartition of ~8 KB rows is the cheapest possible insurance that
    // expansion work, not exchange bytes, sets the parallelism.
    // 4× the session shuffle parallelism for the expansion stages: a
    // partition's cost is the SUM of its buckets' quadratic expansions,
    // and at 32 partitions the bucket→partition hash assignment left one
    // task at 2× the mean (4.4 s of the sf10 stage wall, round-13
    // profile). Thinner partitions cap how much quadratic work one hash
    // bin can accumulate; the rows being spread are ~8 KB bucket lists,
    // so the extra exchange fan-out is noise.
    val shufN = cliques.sparkSession.sessionState.conf.numShufflePartitions * 4
    // pair_explode (round 16, guide §1.2 step 2): the expansion was the
    // single largest executor-time stage of dd6/pipe1 (sf1.0 profile:
    // 56–66 s of ~200, 4.5× task skew from per-pair constants) — the
    // HOF form allocated a sliced tail copy per anchor (O(n²) copies
    // per bucket), a struct per pair, and a flatten copy, all just to
    // feed explode. The generator emits each (a, b) row directly; the
    // pair MULTISET is identical by construction and pinned by
    // DedupSpec's law test against the retained transform form.
    val small = buckets.filter(size(col("ids")) <= expandCap)
      .repartition(shufN, col("band"), col("bkey"))
      .selectExpr("pair_explode(ids, CAST(NULL AS ARRAY<BIGINT>)) AS (a, b)")
    val nch = s"int(ceil(size(ids) / ${chunk}.0))"
    val big = buckets.filter(size(col("ids")) > expandCap)
      .select(col("band"), col("bkey"), explode(expr(
        s"""flatten(transform(sequence(0, $nch - 1), i ->
           |  transform(sequence(i, $nch - 1), j ->
           |    struct(i AS ci, j AS cj,
           |           slice(ids, i * $chunk + 1, $chunk) AS la,
           |           slice(ids, j * $chunk + 1, $chunk) AS lb))))""".stripMargin)).as("cp"))
      .repartition(shufN, col("band"), col("bkey"), col("cp.ci"), col("cp.cj"))
      .selectExpr(
        """pair_explode(cp.la,
          |  IF(cp.ci = cp.cj, CAST(NULL AS ARRAY<BIGINT>), cp.lb)) AS (a, b)""".stripMargin)
    small.unionByName(big)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("nbands"))
      .filter(col("nbands") >= minBands)
      .select("a", "b")
  }

  /** Tier-1 within-clique pairs plus the tier-2 rep-rep candidates —
    * dd2's full candidate population, the input row count of the
    * signature-verification stage (the µs/pair denominator at scales
    * where the verified population itself is probe-measurable only on
    * a cluster).
    */
  def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    val cliques = minhashCliques(s, dir)
    val tier1 = cliques
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "transform(slice(ids, 2, size(ids) - 1), x -> struct(ids[0] AS a, x AS b))")).as("p"))
      .select(col("p.a"), col("p.b"))
    tier1.unionByName(repCandidates(cliques, minBands = 1))
  }

  /** RETURN CONTRACT — canonicalized pairs, not the full edge list: every
    * emitted pair has a clique REPRESENTATIVE on at least one side. Edges
    * between two non-representative members of different cliques are
    * recoverable transitively (member → its rep via tier 1, rep → other
    * rep via tier 2) but are not enumerated — materializing them would be
    * quadratic in clique size, the exact blow-up tier 1 exists to avoid.
    * Consumers needing per-member edges should join through
    * [[minhashCliques]].
    *
    * The clique subtree feeds both tiers UNCACHED, deliberately: its
    * shuffle is deduplicated at runtime by AQE exchange reuse, while an
    * explicit `.cache()` forced an InMemoryRelation materialization that
    * benched ~2× slower end-to-end (and held executor memory for no
    * benefit). Callers running MANY derived queries off one clique table
    * should cache it themselves.
    */
  def minhashPairs(s: SparkSession, dir: String, minEstJaccard: Double,
      minBands: Int = 1): DataFrame = {
    val cliques = minhashCliques(s, dir)
    // tier 1: within-clique pairs, est = 1.0 (all minhashes agree)
    val cliquePairs = cliques
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "transform(slice(ids, 2, size(ids) - 1), x -> struct(ids[0] AS a, x AS b))")).as("p"))
      .select(col("p.a"), col("p.b"), lit(1.0).as("est_jaccard"))
    cliquePairs.union(repPairs(cliques, minEstJaccard, minBands)).orderBy("a", "b")
  }

  /** Full dedup-cluster assignment: connected components run over the
    * (tiny) representative graph only; members inherit their rep's
    * component through the clique map. One row per document with the
    * cluster's minimum doc id — the "keep one per cluster" table.
    *
    * Unlike [[minhashPairs]] (one execution — AQE exchange reuse shares
    * the clique subtree), this pipeline spans MULTIPLE executions: the
    * CC rounds checkpoint-materialize the rep graph, then the final
    * member join traverses cliques again. Exchange reuse cannot cross
    * executions, so here the clique table IS cached — and RELEASED before
    * returning: the member table (the cache's last consumer) is eagerly
    * localCheckpoint-materialized while the cache is hot, so the returned
    * plan reads only checkpointed data and a library caller running dd6
    * then other work does not hold the clique cache for the session.
    */
  def dedupClusters(s: SparkSession, dir: String, minEstJaccard: Double): DataFrame = {
    val cliques = minhashCliques(s, dir).cache()
    val rp = repPairs(cliques, minEstJaccard, minBands = 2).select("a", "b")
    // dedupe=false (round 15): repPairs' output is DISTINCT by
    // construction (its >=minBands filter is a groupBy(a, b)), so the
    // edge-list distinct was a pure full-edge shuffle + hash-agg +
    // checkpoint per query.
    val comp = graft.ops.GraphOps.connectedComponents(rp, dedupe = false)
      .withColumnRenamed("id", "rep")
    val members = cliques
      .select(element_at(col("ids"), 1).as("rep"), explode(col("ids")).as("doc_id"))
      .localCheckpoint() // eager — final read of the clique cache
    cliques.unpersist(blocking = false)
    members
      .join(comp, Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("rep")).as("cluster_rep"))
      .orderBy("doc_id")
  }

  /** (doc_id, simhash) — 64-bit SimHash: bit i is the sign of the ±1 sum
    * of hash-function-i parities over the token codes. One codegen
    * [[graft.tensor.SimHashSig]] kernel evaluation per document (round
    * 15) — no explode, no aggregation, NO EXCHANGE: the former explode →
    * 64-parallel-sum groupBy manufactured a (doc, token) row per distinct
    * token just to reduce it straight back down, and its doc-keyed
    * shuffle was dd3/dd3b's only corpus-sized exchange — the same shape
    * [[minhashSignaturesOf]] shed in round 12. Bit-identical output
    * (same PolyHash31 codes, same affine seeds, same sign pack; DedupSpec
    * pins the law against [[simhashesAgg]]); null-text docs are absent
    * from the table, as on the aggregate path.
    */
  def simhashes(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents").select(col("doc_id"),
      call_function("simhash_sig",
        array_distinct(split(trim(col("text")), "\\s+")),
        array(SimhashSeeds.map(x => lit(x._1)): _*),
        array(SimhashSeeds.map(x => lit(x._2)): _*)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** The pre-round-15 explode → 64-sum aggregate form of [[simhashes]] —
    * kept as the independent spelling DedupSpec pins the kernel against
    * (the same role the explode minhash form plays for minhash_sig).
    */
  private[graft] def simhashesAgg(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenCodes(s, dir)
    val bitSums: Seq[Column] = SimhashSeeds.zipWithIndex.map { case (ab, i) =>
      sum(affine(col("t"), ab).bitwiseAND(1) * 2 - 1).as(s"s$i")
    }
    val agg = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val hash: Column = (0 until 64).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), hash.as("simhash"))
  }

  /** Residual skew guard for tier-2 blocking: buckets holding more than
    * this many DISTINCT signatures are dropped (after clique collapse a
    * bucket this dense means >4096 distinct 64-bit sketches sharing one
    * 16-bit block — ambient-density noise, not a dup clique). Exposed so
    * [[simhashDroppedBuckets]] can audit the drop instead of it being
    * silent.
    */
  val SimhashBucketCap = 4096

  /** (simhash, ids) — documents grouped by identical signature, member
    * ids sorted (ids[0] is the clique representative = min id).
    * Identical texts ⇒ identical simhash, so exact-dup cliques collapse
    * here LINEARLY, before any pair expansion — the same tier-1 design as
    * [[minhashCliques]].
    */
  def simhashCliques(s: SparkSession, dir: String): DataFrame =
    simhashes(s, dir)
      .groupBy("simhash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))

  /** (blk, key, doc_id, simhash) — clique representatives exploded into
    * their four 16-bit pigeonhole block keys.
    */
  private def simhashBlocked(cliques: DataFrame): DataFrame = {
    val reps = cliques.select(element_at(col("ids"), 1).as("doc_id"), col("simhash"))
    val blocks = (0 until 4).map { b =>
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("key"))
    }
    reps
      .withColumn("bk", explode(array(blocks: _*)))
      .select(col("doc_id"), col("simhash"), col("bk.blk").as("blk"), col("bk.key").as("key"))
  }

  private def simhashBucketSizes(cliques: DataFrame): DataFrame =
    simhashBlocked(cliques).groupBy("blk", "key").agg(count(lit(1)).as("bsz"))

  /** Buckets the tier-2 cap would drop — audit surface for the "no silent
    * caps" posture (DedupSpec asserts this is empty on the corpus; a
    * pipeline at scale should alert on it).
    */
  def simhashDroppedBuckets(s: SparkSession, dir: String): DataFrame =
    simhashBucketSizes(simhashCliques(s, dir))
      .filter(col("bsz") > SimhashBucketCap)
      .select(col("blk"), col("key"), col("bsz").as("n_members"))

  /** SimHash near-dup pairs at unbounded scale, two tiers (mirroring the
    * MinHash design above):
    *
    * 1. Identical-signature cliques collapse to (rep, member) pairs —
    *    LINEAR in clique size, so a 1.6k-doc exact-dup clique emits 1.6k
    *    pairs, not 1.3M, and never reaches the blocked join at all.
    * 2. Pigeonhole blocking over distinct-signature REPRESENTATIVES only:
    *    the 64-bit signature splits into four 16-bit keys; any pair
    *    within hamming ≤ 3 shares at least one block, so candidates come
    *    from an equi-join on (block, key) — never an all-pairs scan.
    *    Larger hamming radii are best-effort recall, as with any blocked
    *    sketch. The hamming filter runs BEFORE the dedup `distinct` —
    *    hamming is functionally determined by (a, b), so the filter is
    *    semantics-preserving and shrinks the dedup shuffle to survivors.
    *
    * RETURN CONTRACT — canonicalized pairs, as in [[minhashPairs]]: every
    * pair has a clique representative on at least one side; member↔other
    * edges are recoverable transitively via [[simhashCliques]], not
    * enumerated. The clique subtree is shared across the two tiers via
    * AQE exchange reuse, uncached (see [[minhashPairs]]).
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    val cliques = simhashCliques(s, dir)
    // tier 1: within-clique pairs, hamming = 0 by construction
    val cliquePairs = cliques
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "transform(slice(ids, 2, size(ids) - 1), x -> struct(ids[0] AS a, x AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), lit(0L).as("hamming"))
    // tier 2: blocked pairs between representatives via a self-equi-join
    // on the block key — rows STREAM through the join (no collect_list
    // bucket rows, so no per-row memory spike however dense a bucket is);
    // the size cap is applied with a semi-join against per-bucket counts.
    val blocked = simhashBlocked(cliques)
    val admitted = blocked.join(
      simhashBucketSizes(cliques).filter(col("bsz").between(2, SimhashBucketCap)),
      Seq("blk", "key"), "left_semi")
    val l = admitted.select(col("blk"), col("key"), col("doc_id").as("a"), col("simhash").as("ha"))
    val r = admitted.select(col("blk"), col("key"), col("doc_id").as("b"), col("simhash").as("hb"))
    val repPairs = l.join(r, Seq("blk", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    cliquePairs.union(repPairs).orderBy("a", "b")
  }

  // --------------------------------------------------------------------
  // dd9 — cross-snapshot incremental dedup: dedup a NEW crawl snapshot
  // against the persisted fingerprint store of everything already kept.
  // Every single-corpus dedup above answers "which of these documents
  // duplicate each other"; the production crawl pipeline asks "which of
  // these NEW documents duplicate what we already have" — without ever
  // re-reading the prior corpus. The store is the prior snapshot reduced
  // to 32-byte content hashes + banded MinHash keys + 32-long signatures;
  // at 100 TB the store is ~10^-3 of corpus bytes and every probe is an
  // equi-join keyed on a hash (content md5 or band key) — never a scan of
  // prior text. The reference's single-corpus ancestor is its dedup-audit
  // invariant (`larvoxel_dataset.py:101-110`).
  // --------------------------------------------------------------------

  /** Minimum minhash agreements (of [[NumHashes]]) for a cross-snapshot
    * near-dup verdict: 29/32 ≈ est-Jaccard 0.9, compared as an INTEGER so
    * the boundary is bit-identical cross-engine (no float threshold).
    */
  val IncrementalMinAgree = 29

  /** Skew ceiling on the store's band buckets. Unlike dd2's in-expression
    * expansion, dd9's candidate side is an equi-JOIN — its output streams,
    * so the cap bounds candidate-VERIFICATION work (each candidate is one
    * sig_agree kernel evaluation), not task memory. Round 11 measured that
    * a tight 1000-cap drops true near-dup candidates under cross-copy
    * density (the dd2 9.3% finding; dd9 shares the band store shape), so
    * round 12 raised the admit ceiling to match [[MinhashBucketHardCap]]:
    * buckets beyond it are degenerate template floods whose members
    * multiply every probing doc's candidates past any verification
    * budget, and are surfaced by [[dd9DroppedBuckets]] rather than
    * silently skipped. Size-1 buckets stay admitted: one prior doc plus
    * one new doc is exactly the match the operator exists to find.
    */
  val IncrementalBucketCap = 8192

  /** Per-ROW MinHash signatures for the STREAMING path
    * ([[graft.streaming.IncrementalStream]] verdicts arriving docs
    * against a static store, where an explode+groupBy would be a
    * stateful streaming aggregation needing its own watermark). Since
    * round 12 this is the SAME [[graft.tensor.MinHashSig]] kernel the
    * batch scan runs — one implementation, so batch and stream cannot
    * compute different signatures against the same persisted band store
    * (the former interpreted HOF fold was a second spelling of the same
    * math). Null-text docs keep their row with a null sig here (the
    * stream decides how to verdict them); the batch path filters them.
    */
  def minhashSigsPerRow(s: SparkSession, docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      call_function("minhash_sig",
        array_distinct(split(trim(col("text")), "\\s+")),
        array(MinhashSeeds.map(x => lit(x._1)): _*),
        array(MinhashSeeds.map(x => lit(x._2)): _*)).as("sig"))
  }

  /** As [[bandKeysOf]] but KEEPING the signature column — the streaming
    * near-dup path needs (band, bkey) for the candidate equi-join and
    * `sig` for the agreement check in the SAME row, because a second
    * join back to the stream's own signatures would be stream-stream.
    */
  private[graft] def bandedSigs(sigs: DataFrame): DataFrame = {
    val bandKeys: Seq[Column] = (0 until NumBands).map { b =>
      struct(lit(b).as("band"), expr(bandKeyExpr(b)).as("bkey"))
    }
    sigs.withColumn("bk", explode(array(bandKeys: _*)))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** (doc_id, band, bkey) — banded LSH keys of each signature; ONE band
    * construction shared with the streaming path via [[bandedSigs]], so
    * batch and stream cannot compute different keys against the same
    * persisted band store.
    */
  private def bandKeysOf(sigs: DataFrame): DataFrame =
    bandedSigs(sigs).drop("sig")

  /** Band buckets over the dd2/dd6 clique REPRESENTATIVES that
    * [[MinhashBucketHardCap]] would drop — the dd2 audit surface
    * mirroring [[simhashDroppedBuckets]]/[[dd9DroppedBuckets]]: a bucket
    * past the HARD cap means genuine near-dups are no longer caught via
    * that band key. Since round 12, buckets merely past the expansion
    * threshold [[MinhashBucketCap]] are enumerated (chunked), not
    * dropped, so they no longer appear here — at sf10 this emptied the
    * audit entirely (max measured bucket 2474 ≪ 8192) and zeroed the
    * shard-0 subset-law losses. One groupBy over the fingerprint-sized
    * band table.
    */
  def minhashDroppedBuckets(s: SparkSession, dir: String): DataFrame =
    bandKeysOf(minhashCliques(s, dir)
      .select(element_at(col("ids"), 1).as("doc_id"), col("sig")))
      .groupBy("band", "bkey").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > MinhashBucketHardCap)
      .select(col("band"), col("bkey"), col("n_members"))

  /** Fingerprint store of one snapshot, three tables:
    *   - `exact`: (text_md5, ref_id) — min doc_id per distinct content
    *     hash (the 32-byte exact-dedup key, as in dd1);
    *   - `sigs`:  (doc_id, sig) — MinHash signatures (verification side);
    *   - `bands`: (doc_id, band, bkey) — banded keys (candidate side).
    *
    * `sigs` is EAGERLY materialized (localCheckpoint): both the returned
    * `sigs` and `bands` read it, and Spark re-executes a shared subtree
    * once per consumer — without truncation the tokenize+minhash pass
    * over the snapshot text runs twice per store build. The checkpoint
    * holds only (doc_id, 32 longs) — fingerprint-sized, never raw text.
    */
  def fingerprintStore(s: SparkSession, docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val exact = docs
      .select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy("text_md5").agg(min("doc_id").as("ref_id"))
    val sigs = minhashSignaturesOf(s, docs).localCheckpoint(true)
    (exact, sigs, bandKeysOf(sigs))
  }

  /** Persist a snapshot's fingerprint store as three parquet tables under
    * `path` — the artifact that survives between crawl runs. All store
    * filesystem traffic goes through the Hadoop `FileSystem` API
    * ([[graft.etl.StoreFs]]), so `path` may carry any scheme — at corpus
    * scale the store lives on HDFS/object storage, not a local disk.
    *
    * Commit protocol, matched to the layout [[resolveStoreRoot]] serves:
    *   - flat store (no committed versions): the
    *     [[graft.etl.StoreFs.Marker]] is DELETED before the table writes
    *     and re-committed (with `identity`, e.g. the staged corpus
    *     fingerprint) strictly after all three complete, so a reader in
    *     ANY process either sees a fully-staged store or refuses — a
    *     crash mid-stage can never be probed as if it were complete.
    *   - VERSIONED store ([[compactFingerprintStoreVersioned]] or a
    *     prior versioned restage has run): a restage never rewrites the
    *     live root under its readers — it stages a NEW immutable
    *     `v<N+1>` subdir and the marker commit is the atomic flip, so
    *     writers and readers resolve the same root before AND after
    *     (a flat rewrite here would be invisible behind the committed
    *     version forever). The version number is CLAIMED atomically
    *     ([[graft.etl.StoreFs.claimVersion]]) before staging, so
    *     concurrent restagers get disjoint dirs; a crashed claim's
    *     markerless debris keeps its number (claims are never reused)
    *     and is reclaimed by [[pruneStoreVersions]] once shadowed.
    */
  def writeFingerprintStore(s: SparkSession, docs: DataFrame, path: String,
      identity: String = ""): Unit = {
    val fsys = graft.etl.StoreFs.fs(s, path)
    val versions = graft.etl.StoreFs.committedVersions(fsys, path)
    // versioned layout: CLAIM the next number before staging — two
    // concurrent restagers each get a private version dir and the
    // higher claim wins at resolution (claim order, not commit order,
    // is the linearization: a slow lower-claim commit lands already
    // shadowed, never interleaved). Flat layout keeps its original
    // single-writer in-place protocol (the claim has nothing to
    // serialize there — the root itself is the target).
    val claimed: Option[Int] =
      if (versions.isEmpty) None
      else Some(graft.etl.StoreFs.claimNextVersion(fsys, path,
        versions.max + 1, graft.etl.StoreFs.ownerId()))
    val target = claimed.fold(path)(n => s"$path/v$n")
    if (target == path) // in-place flat stage: readers must refuse mid-write
      fsys.delete(new org.apache.hadoop.fs.Path(path, graft.etl.StoreFs.Marker),
        false): Unit
    val (exact, sigs, bands) = fingerprintStore(s, docs)
    // heartbeat the claim between table writes: a stage longer than the
    // prune grace stays visibly in-flight (claim mtime ≤ one table write
    // stale), so pruneStoreVersions can never age it out mid-write
    exact.write.mode("overwrite").parquet(s"$target/exact")
    claimed.foreach(graft.etl.StoreFs.touchClaim(fsys, path, _))
    sigs.write.mode("overwrite").parquet(s"$target/sigs")
    claimed.foreach(graft.etl.StoreFs.touchClaim(fsys, path, _))
    bands.write.mode("overwrite").parquet(s"$target/bands")
    graft.etl.StoreFs.commitMarker(fsys, target, identity)
  }

  /** Self-heal a compaction that crashed BETWEEN its two swap renames:
    * `live` missing but `live_old` complete → restore `_old`. Lives at
    * the READ layer (not only inside [[compactFingerprintStore]]) so
    * every store consumer — probe, roll-forward, compaction — recovers
    * without manual intervention; a healthy store is a no-op `exists`
    * check per table.
    */
  private def healCrashedSwap(fsys: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    Seq("exact", "sigs", "bands").foreach { t =>
      val live = s"$path/$t"
      val old = s"$path/${t}_old"
      if (!graft.etl.StoreFs.exists(fsys, live)
          && graft.etl.StoreFs.exists(fsys, old))
        require(graft.etl.StoreFs.rename(fsys, old, live),
          s"crash-recovery rename failed for $live")
    }

  /** The store's LIVE root: the highest COMMITTED `v<N>` version subdir
    * when any exists (a versioned store — a versioned restage or
    * [[compactFingerprintStoreVersioned]] has run), else the store path
    * itself (the flat layout every store starts in). "Committed" = the
    * version carries its [[graft.etl.StoreFs.Marker]], written strictly
    * after its tables — so the marker create IS the atomic version flip
    * (one new-small-object write, atomic on file:/HDFS/object stores
    * alike; see [[graft.etl.StoreFs.committedVersions]]). All store
    * consumers — probe, restage, roll-forward, both compactions —
    * resolve through this, so a commit retargets every one of them at
    * once: the minimal stand-in for a metastore pointer.
    */
  def resolveStoreRoot(fsys: org.apache.hadoop.fs.FileSystem,
      path: String): String =
    graft.etl.StoreFs.committedVersions(fsys, path) match {
      case Seq() => path
      case vs => s"$path/v${vs.max}"
    }

  def readFingerprintStore(s: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) = {
    val fsys = graft.etl.StoreFs.fs(s, path)
    val root = resolveStoreRoot(fsys, path)
    healCrashedSwap(fsys, root)
    // the stage-commit marker is the completeness proof: without it this
    // path may be a crashed half-stage from another process — fail loudly
    // (the caller restages) instead of silently probing a partial store
    if (graft.etl.StoreFs.readMarker(fsys, root).isEmpty)
      throw new IllegalStateException(
        s"fingerprint store at $root has no ${graft.etl.StoreFs.Marker} " +
          "marker — half-staged or deleted mid-stage; restage before probing")
    (s.read.parquet(s"$root/exact"),
      s.read.parquet(s"$root/sigs"),
      s.read.parquet(s"$root/bands"))
  }

  /** Store maintenance — k8's shuffle-free compaction
    * ([[graft.etl.SinkOps.compactSmallFiles]]) applied to the persisted
    * fingerprint store: each crawl round's [[updatedFingerprintStore]]
    * write is a many-task job, so after N rounds each table is N×tasks
    * small files and the next round's three probe joins pay a
    * file-listing + footer cost per file. Each table is merged to
    * ceil(bytes/target) files via `coalesce` — NO exchange, source
    * splits are glued onto output tasks — staged beside the live table
    * and swapped in by rename. The swap is last and per-table, so a
    * crash mid-compaction leaves each table either old or new, both
    * verdict-identical; at deployment scale the swap is a table-format /
    * metastore pointer flip instead of a filesystem rename. Returns
    * (files_before, files_after) per table so the caller can audit the
    * shrink; DedupSpec asserts verdict parity across the compaction.
    */
  def compactFingerprintStore(s: SparkSession, path: String,
      targetBytes: Long = 16L * 1024 * 1024): Map[String, (Int, Int)] = {
    val fsys = graft.etl.StoreFs.fs(s, path)
    val root = resolveStoreRoot(fsys, path) // compose with a versioned store
    healCrashedSwap(fsys, root) // a prior compaction may have crashed mid-swap
    Seq("exact", "sigs", "bands").map { t =>
      val live = s"$root/$t"
      val before = graft.etl.StoreFs.parquetFiles(fsys, live)
      val totalBytes = before.map(_._2).sum
      val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      val tmp = s"$root/${t}_compacting"
      val old = s"$root/${t}_old"
      s.read.parquet(live).coalesce(nOut).write.mode("overwrite").parquet(tmp)
      // swap via aside-rename, never delete-then-rename: at every
      // instant either `live` or `live_old` holds a complete table, so
      // a crash mid-swap is recoverable (the scaladoc's either-old-or-new
      // guarantee; a bare delete+rename has a window with NO live table).
      // The store marker stays COMMITTED throughout — this invariant is
      // what keeps it truthful — but it holds only where `rename` is
      // atomic (file:/HDFS); on an object store compact into a NEW
      // versioned store path and flip the pointer instead (StoreFs
      // scaladoc + SCALING.md).
      graft.etl.StoreFs.deleteRecursive(fsys, old) // debris from a prior crash
      require(graft.etl.StoreFs.rename(fsys, live, old),
        s"compaction aside-rename failed for $live")
      val renamed = graft.etl.StoreFs.rename(fsys, tmp, live)
      if (!renamed) { // restore the original table before failing
        require(graft.etl.StoreFs.rename(fsys, old, live),
          s"compaction rollback failed for $live")
        throw new IllegalStateException(s"compaction swap failed for $live")
      }
      graft.etl.StoreFs.deleteRecursive(fsys, old)
      t -> ((before.length, graft.etl.StoreFs.parquetFiles(fsys, live).length))
    }.toMap
  }

  /** The OBJECT-STORE-SAFE compaction: where `rename` is copy+delete
    * (s3a and friends), [[compactFingerprintStore]]'s aside-rename swap
    * loses its either-old-or-new guarantee — so this variant performs
    * ZERO renames of its own. It compacts the live tables into a fresh
    * immutable `v<N>` version subdir and commits that version's
    * [[graft.etl.StoreFs.Marker]] (carrying the live store's identity
    * payload) strictly after the writes — that single new-small-object
    * create IS the version flip (the commit every table format's
    * maintenance ultimately rests on; [[resolveStoreRoot]] serves the
    * highest committed version). Every store consumer resolves first, so
    * the commit retargets probes/restage/roll-forward/compaction
    * atomically; readers that already resolved keep their (immutable,
    * never-deleted-here) old version — the same
    * no-overwrite-under-a-reader posture as dd13's versioned eval
    * staging. Crash window: a crash before the marker leaves a
    * markerless debris dir — invisible to [[resolveStoreRoot]] and
    * served around; its claimed number is never reused (the next writer
    * claims a fresh one) and [[pruneStoreVersions]] reclaims the bytes
    * once the claim ages out. Old versions are inert; prune
    * them once no reader needs them. (Spark's own parquet task commits
    * go through the cluster's configured output committer — cloud
    * deployments use a manifest/"magic" committer there; this protocol
    * adds no renames on top of it.)
    */
  def compactFingerprintStoreVersioned(s: SparkSession, path: String,
      targetBytes: Long = 16L * 1024 * 1024): Map[String, (Int, Int)] = {
    val fsys = graft.etl.StoreFs.fs(s, path)
    // ONE versions listing decides both the live root and the next
    // version number — two reads could straddle a concurrent commit and
    // compact a stale root over a newer one
    val versions = graft.etl.StoreFs.committedVersions(fsys, path)
    val live = if (versions.isEmpty) path else s"$path/v${versions.max}"
    // the live root may be a crashed IN-PLACE compaction's mid-swap
    // state — every store consumer self-heals it (healCrashedSwap's
    // contract), including this one
    healCrashedSwap(fsys, live)
    val identity = graft.etl.StoreFs.readMarker(fsys, live).getOrElse(
      throw new IllegalStateException(
        s"fingerprint store at $live has no ${graft.etl.StoreFs.Marker} " +
          "marker — cannot compact an unstaged store"))
    // CLAIM the output version before writing a byte into it: two
    // concurrent compactors (or a compactor racing a restager) each own
    // a private immutable version dir instead of interleaving part
    // files under one shared v<N+1> (StoreFs.Claim scaladoc). Both
    // inputs compact the same resolved live root, so whichever claim is
    // higher serves — the loser's version is correct, merely shadowed.
    val claimedN = graft.etl.StoreFs.claimNextVersion(fsys, path,
      versions.lastOption.getOrElse(0) + 1, graft.etl.StoreFs.ownerId())
    val next = s"$path/v$claimedN"
    val counts = Seq("exact", "sigs", "bands").map { t =>
      val before = graft.etl.StoreFs.parquetFiles(fsys, s"$live/$t")
      val nOut = math.max(1L,
        (before.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
      s.read.parquet(s"$live/$t").coalesce(nOut)
        .write.mode("overwrite").parquet(s"$next/$t")
      // heartbeat per table (writeFingerprintStore's posture): a long
      // compaction stays visibly in-flight to the prune's age gate
      graft.etl.StoreFs.touchClaim(fsys, path, claimedN)
      t -> ((before.length,
        graft.etl.StoreFs.parquetFiles(fsys, s"$next/$t").length))
    }.toMap
    graft.etl.StoreFs.commitMarker(fsys, next, identity) // the flip
    counts
  }

  /** Retention for versioned stores — the lifecycle step the versioned
    * protocol's "old versions are inert; prune them" promise needs as
    * code. Deletes, oldest-first:
    *   - committed versions BELOW the newest `keepLast` (the retention
    *     window is the operator's promise to readers: a reader that
    *     resolved an old version keeps its files only while the version
    *     survives this window — size `keepLast` to the longest-running
    *     probe);
    *   - markerless debris dirs BELOW the live version (crashed
    *     maintenance leftovers — invisible to [[resolveStoreRoot]] but
    *     real bytes), ONLY once their writer is provably gone: the claim
    *     protocol legitimizes a slow lower-claim writer still staging
    *     under a number below the live one (it commits shadowed, which
    *     is correct), so a markerless dir whose `_CLAIM` file is newer
    *     than `claimGraceMs` is an IN-FLIGHT stage, not debris — deleting
    *     it mid-write would let the writer's later parquet tasks recreate
    *     the dir and publish a committed-but-incomplete version. Debris
    *     ABOVE the live version is NEVER touched: that is an in-flight
    *     writer's next version.
    *   - the flat v0 tables + marker once any committed version exists
    *     (resolution never serves the flat root again — its tables are
    *     the oldest inert version of all).
    * Returns the deleted paths so the caller can audit the reclaim (the
    * dd2/dd9 no-silent-action posture). The live version and the store
    * marker protocol are untouched; a no-op on flat stores.
    */
  /** @param claimGraceMs a markerless version whose `_CLAIM` is younger
    *   than this is treated as a live writer and skipped. Writers
    *   heartbeat their claim between table writes
    *   ([[graft.etl.StoreFs.touchClaim]]), so size this to the longest
    *   plausible SINGLE-TABLE write, not the whole stage (default 24 h —
    *   debris waits one extra prune cycle, a live writer is never yanked
    *   mid-stage; the delete re-stats the claim immediately before
    *   acting, shrinking the check-then-act window to one call pair).
    */
  def pruneStoreVersions(s: SparkSession, path: String,
      keepLast: Int = 2, claimGraceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fsys = graft.etl.StoreFs.fs(s, path)
    // ONE directory listing decides everything (the same single-read
    // posture as the versioned compactor): version dirs partitioned by
    // marker presence, so committed/debris can never disagree about
    // which listing they came from
    val vDirs = fsys.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.stripPrefix("v").toInt)
    val (versions, markerless) = vDirs.sorted.partition(n =>
      graft.etl.StoreFs.exists(fsys, s"$path/v$n/${graft.etl.StoreFs.Marker}"))
    if (versions.isEmpty) return Nil // flat store: nothing versioned to prune
    val liveN = versions.max
    val keep = versions.takeRight(keepLast).toSet
    val staleCommitted = versions.filterNot(keep).map(n => s"$path/v$n")
    // markerless debris strictly below the live version; above it is an
    // in-flight writer's next version — never touched. Below it, a
    // RECENT claim marks a slow writer still staging toward a shadowed
    // commit (legal under the claim protocol): age-gate on the claim's
    // mtime so the prune can never delete a stage out from under it. A
    // claim-less markerless dir has no live writer by construction (the
    // claim is created before any data lands) — reclaim immediately.
    val now = System.currentTimeMillis()
    val debrisN = markerless.filter(_ < liveN)
      .filter(n => graft.etl.StoreFs.claimMtime(fsys, path, n)
        .forall(m => now - m > claimGraceMs))
    val flat = Seq("exact", "sigs", "bands").map(t => s"$path/$t")
      .filter(graft.etl.StoreFs.exists(fsys, _)) ++
      (if (graft.etl.StoreFs.readMarker(fsys, path).isDefined)
         Seq(s"$path/${graft.etl.StoreFs.Marker}")
       else Nil)
    staleCommitted.foreach(graft.etl.StoreFs.deleteRecursive(fsys, _))
    flat.foreach(graft.etl.StoreFs.deleteRecursive(fsys, _))
    // debris deletes RE-STAT the claim immediately before acting: the
    // age decision above is check-then-act, and a writer heartbeating
    // its claim (StoreFs.touchClaim, one table write apart) between the
    // first stat and this delete means the stage is alive after all —
    // skip it this cycle. The residual window is one stat-to-delete
    // call pair, not the whole listing-to-delete span.
    val debris = debrisN.filter(n =>
        graft.etl.StoreFs.claimMtime(fsys, path, n)
          .forall(m => System.currentTimeMillis() - m > claimGraceMs))
      .map(n => s"$path/v$n")
    debris.foreach(graft.etl.StoreFs.deleteRecursive(fsys, _))
    staleCommitted ++ debris ++ flat
  }

  /** One verdict row per NEW-snapshot document, against a PRIOR store:
    *
    *   - `exact_prior` — content hash already in the store (anti-joined
    *     out of the survivor set); `ref_id` = the prior keeper.
    *   - `near_prior`  — shares a band key with a prior doc AND ≥
    *     `minAgree`/32 minhashes agree with it; `ref_id` = min such
    *     prior doc. Candidates come only from the band-key equi-join —
    *     never a scan of the prior corpus.
    *   - `dup_new`     — survivor whose content hash collapses within the
    *     new snapshot itself (dd1 applied to survivors); `ref_id` = the
    *     new keeper.
    *   - `kept`        — genuinely new content; `ref_id` = −1.
    *
    * Near-dup collapse WITHIN the new snapshot is deliberately not done
    * here: that is single-corpus dd2/dd6 run on the survivors — a separate
    * pass with its own thresholds, already covered above.
    *
    * Scale shape: three hash-keyed equi-joins (md5, band key, doc_id) and
    * one groupBy on md5 — no pair expansion outside store buckets, which
    * are capped at `bucketCap`. Nothing driver-side.
    */
  /** @param internalDedup also collapse exact duplicates WITHIN the new
    *   snapshot (dd9's `dup_new` verdicts — one extra md5-keyed groupBy
    *   + join over the survivors). Callers that only ask "does this doc
    *   match the PRIOR store" (dd13 decontamination, whose oracle never
    *   computes the internal stage either) pass false and skip that
    *   wide stage entirely: every survivor is `kept`.
    * @param broadcastStore the store's signature table fits one executor
    *   (dd13's posture by construction: eval suites are benchmark-sized,
    *   their fingerprints more so). The near tier then runs PAIR-SHUFFLE-
    *   FREE: band rows carry the probe's own sig, the store sig attaches
    *   via broadcast, and scoring + threshold-filter + partial-min all
    *   collapse inside the band join's codegen stage — candidate pairs
    *   exist only as loop iterations, never as shuffle rows. Duplicate
    *   pairs (k ≤ 4 band collisions) are rescored instead of
    *   distinct-ed, which the sig_agree kernel makes cheaper than the
    *   pair-table shuffle a distinct would cost (measured 11.8 → 7.2 s
    *   at sf1.0 and 212 → 10.9 s at sf10, COVERAGE.md §dd13).
    *   Identical verdicts either way —
    *   agreement is a pure function of the two sigs and the min-groupBy
    *   absorbs duplicates. False (dd9's fact-sized prior store) keeps
    *   the distinct-then-shuffle-join pipeline: a fact-sized sig table
    *   cannot broadcast, and the distinct then EARNS its shuffle by
    *   shrinking the two sig-attach shuffles behind it.
    */
  def incrementalVerdicts(s: SparkSession, newDocs: DataFrame,
      exactStore: DataFrame, sigStore: DataFrame, bandStore: DataFrame,
      minAgree: Int = IncrementalMinAgree,
      bucketCap: Int = IncrementalBucketCap,
      internalDedup: Boolean = true,
      broadcastStore: Boolean = false): DataFrame = {
    // `hashed`, `sigsNew` and `near` each feed two or more branches of
    // the verdict union, and Spark re-executes a shared subtree once per
    // consumer — without eager truncation the tokenize+minhash pass over
    // the new snapshot ran ~6× (45 s vs ~6 s at sf0.1). All three
    // checkpoints are fingerprint-sized (hashes and 32-long signatures,
    // ~10^-3 of corpus bytes), never raw text.
    val hashed = newDocs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .localCheckpoint(true)
    val exact = hashed.join(exactStore, "text_md5")
      .select(col("doc_id"), lit("exact_prior").as("status"), col("ref_id"))
    val rem1 = hashed.join(exactStore, Seq("text_md5"), "left_anti")

    val admitted = bandStore.join(
      bandStore.groupBy("band", "bkey").agg(count(lit(1)).as("n"))
        .filter(col("n") <= bucketCap),
      Seq("band", "bkey"), "left_semi")
    // Tokenize only the docs that survived exact dedup: the semi-join
    // runs BEFORE signature computation, so exact dups are never hashed.
    val sigsNew = minhashSignaturesOf(s,
        newDocs.join(rem1.select("doc_id"), Seq("doc_id"), "left_semi"))
      .localCheckpoint(true)
    val agree = expr(
      "aggregate(zip_with(siga, sigb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
    val nearScored =
      if (broadcastStore)
        // pair-shuffle-free: the band row carries sigb, the broadcast
        // attaches siga, and score/filter/partial-min stay in one stage.
        //
        // A dd2-style 4× expansion-spread repartition on (band, bkey)
        // was tried here (round 13, after the sf100 profile showed one
        // 32-partition stage carrying 86% of dd13's wall at 1.6×
        // max/mean task skew) and REVERTED with measurements: sf10
        // 9.67 → 22.28 s, sf100 neutral (112.5 → 123.7, inside the
        // ±noise band). Unlike dd2's expansion (8 KB bucket lists),
        // the rows being repartitioned HERE carry full signatures, and
        // the explicit exchange replaces the plan where the band join
        // needs NO shuffle of the sig side at all — the verification
        // stage's cost is its mean work (Σ bucket products / threads),
        // not its 1.6× skew, so the forced sig-row shuffle buys
        // nothing and costs a full exchange of the widest rows in the
        // query.
        bandedSigs(sigsNew).withColumnRenamed("sig", "sigb")
          .join(admitted.select(col("band"), col("bkey"), col("doc_id").as("a_id")),
            Seq("band", "bkey"))
          .join(broadcast(sigStore.select(col("doc_id").as("a_id"),
            col("sig").as("siga"))), "a_id")
          .withColumn("n_agree", agree)
          .filter(col("n_agree") >= minAgree)
      else {
        // fact-sized store: dedupe pairs first, then shuffle-join the sigs
        val cand = bandKeysOf(sigsNew)
          .join(admitted.select(col("band"), col("bkey"), col("doc_id").as("a_id")),
            Seq("band", "bkey"))
          .select(col("doc_id"), col("a_id")).distinct()
        cand
          .join(sigsNew.select(col("doc_id"), col("sig").as("sigb")), "doc_id")
          .join(sigStore.select(col("doc_id").as("a_id"), col("sig").as("siga")), "a_id")
          .withColumn("n_agree", agree)
          .filter(col("n_agree") >= minAgree)
      }
    val near = nearScored
      .groupBy("doc_id").agg(min("a_id").as("ref_id"))
      .select(col("doc_id"), lit("near_prior").as("status"), col("ref_id"))
      .localCheckpoint(true) // read by the union AND rem2's anti-join

    val rem2 = rem1.join(near.select("doc_id"), Seq("doc_id"), "left_anti")
    val internal = if (internalDedup)
      rem2.join(
        rem2.groupBy("text_md5").agg(min("doc_id").as("keep_id")), "text_md5")
        .select(col("doc_id"),
          when(col("doc_id") === col("keep_id"), lit("kept"))
            .otherwise(lit("dup_new")).as("status"),
          when(col("doc_id") === col("keep_id"), lit(-1L))
            .otherwise(col("keep_id")).as("ref_id"))
    else rem2.select(col("doc_id"), lit("kept").as("status"), lit(-1L).as("ref_id"))
    exact.unionByName(near).unionByName(internal).orderBy("doc_id")
  }

  /** Store band buckets [[incrementalVerdicts]]'s cap would drop — the
    * dd9 audit surface for the "no silent caps" posture, mirroring
    * [[simhashDroppedBuckets]]: the verdict path silently skips
    * candidates from over-cap buckets (ambient boilerplate, by design),
    * so a pipeline at scale should run this against the store each crawl
    * round and alert when it is non-empty — an unexpectedly dense bucket
    * means genuine near-dups are no longer being caught via that key.
    * One groupBy over the fingerprint-sized band table; never touches
    * text.
    */
  def dd9DroppedBuckets(bandStore: DataFrame,
      bucketCap: Int = IncrementalBucketCap): DataFrame =
    bandStore.groupBy("band", "bkey").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > bucketCap)
      .select(col("band"), col("bkey"), col("n_members"))

  /** Roll the fingerprint store forward after a dd9 run: the next
    * crawl's store is the prior store UNION the kept documents'
    * fingerprints — additive, no rebuild, no re-scan of prior corpora.
    * `keptDocs` is the new snapshot restricted to `kept` verdicts (the
    * caller filters; `dup_new` survivors are already represented by
    * their keeper's hash). Every table dedups after the union — exact
    * keeps the earliest ref per content hash, sigs one row per doc_id,
    * bands one row per (doc_id, band) — so replaying the same snapshot
    * (the crash-between-store-write-and-commit retry) is idempotent on
    * ALL three tables; duplicated sig/band rows would otherwise inflate
    * band-bucket counts toward [[IncrementalBucketCap]] and silently
    * drop genuine near-dup candidates on later runs.
    */
  def updatedFingerprintStore(s: SparkSession, keptDocs: DataFrame,
      exactStore: DataFrame, sigStore: DataFrame, bandStore: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val (exactNew, sigsNew, bandsNew) = fingerprintStore(s, keptDocs)
    val exact = exactStore.unionByName(exactNew)
      .groupBy("text_md5").agg(min("ref_id").as("ref_id"))
    (exact,
      sigStore.unionByName(sigsNew).dropDuplicates("doc_id"),
      bandStore.unionByName(bandsNew).dropDuplicates("doc_id", "band"))
  }

  /** The dd9 query: split `documents` at the median id into a PRIOR
    * snapshot (doc_id < cut) and a NEW snapshot, persist the prior
    * store to parquet (hardened scratch dir, as K1), read it back, and
    * run the new snapshot against it. The split point is computed
    * in-plan (broadcast scalar), so one query works at every SF.
    */
  private def dd9(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val withCut = docs.crossJoin(
      broadcast(docs.agg(expr("(max(doc_id) + 1) div 2").as("cut"))))
    val prior = withCut.filter(col("doc_id") < col("cut"))
    val fresh = withCut.filter(col("doc_id") >= col("cut"))
    val storeDir = graft.etl.ScratchDirs.keyed("dd9_store", dir)
    writeFingerprintStore(s, prior, storeDir)
    val (exactStore, sigStore, bandStore) = readFingerprintStore(s, storeDir)
    incrementalVerdicts(s, fresh, exactStore, sigStore, bandStore)
  }

  private def dd9OracleSql: String =
    s"""WITH d AS (SELECT doc_id, $TcodesSql AS tc FROM documents),
       |sigs AS (SELECT doc_id, list_transform(${seedListSql(MinhashSeeds)}, s ->
       |           list_min(list_transform(tc, t -> (s[1] * t + s[2]) % $Mod))) AS sig FROM d),
       |cutv AS (SELECT (max(doc_id) + 1) // 2 AS cut FROM documents),
       |a AS (SELECT doc_id, text FROM documents, cutv WHERE doc_id < cut),
       |b AS (SELECT doc_id, text FROM documents, cutv WHERE doc_id >= cut),
       |exstore AS (SELECT md5(text) AS m, min(doc_id) AS ref_id FROM a GROUP BY 1),
       |bands_a AS (SELECT s.doc_id, r.band,
       |              list_reduce(s.sig[r.band * $BandSize + 1 : r.band * $BandSize + $BandSize],
       |                (acc, x) -> (acc * $BandP + x) % $Mod) AS bkey
       |            FROM sigs s JOIN a USING (doc_id), range(0, $NumBands) r(band)),
       |badm AS (SELECT band, bkey FROM bands_a GROUP BY band, bkey
       |         HAVING count(*) <= $IncrementalBucketCap),
       |bands_adm AS (SELECT bands_a.doc_id, bands_a.band, bands_a.bkey
       |              FROM bands_a JOIN badm USING (band, bkey)),
       |bh AS (SELECT doc_id, md5(text) AS m FROM b),
       |ex AS (SELECT bh.doc_id, 'exact_prior' AS status, exstore.ref_id
       |       FROM bh JOIN exstore USING (m)),
       |rem1 AS (SELECT doc_id, m FROM bh
       |         WHERE NOT EXISTS (SELECT 1 FROM exstore e WHERE e.m = bh.m)),
       |bands_b AS (SELECT s.doc_id, r.band,
       |              list_reduce(s.sig[r.band * $BandSize + 1 : r.band * $BandSize + $BandSize],
       |                (acc, x) -> (acc * $BandP + x) % $Mod) AS bkey
       |            FROM sigs s JOIN rem1 USING (doc_id), range(0, $NumBands) r(band)),
       |cand AS (SELECT DISTINCT bb.doc_id AS doc_id, ba.doc_id AS a_id
       |         FROM bands_b bb JOIN bands_adm ba
       |           ON bb.band = ba.band AND bb.bkey = ba.bkey),
       |near AS (SELECT c.doc_id, 'near_prior' AS status, min(c.a_id) AS ref_id
       |         FROM cand c JOIN sigs sb ON sb.doc_id = c.doc_id
       |                     JOIN sigs sa ON sa.doc_id = c.a_id
       |         WHERE list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |                 p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) >= $IncrementalMinAgree
       |         GROUP BY c.doc_id),
       |rem2 AS (SELECT doc_id, m FROM rem1
       |         WHERE NOT EXISTS (SELECT 1 FROM near n WHERE n.doc_id = rem1.doc_id)),
       |keepg AS (SELECT m, min(doc_id) AS keep_id FROM rem2 GROUP BY m),
       |internal AS (SELECT r.doc_id,
       |               CASE WHEN r.doc_id = k.keep_id THEN 'kept' ELSE 'dup_new' END AS status,
       |               CASE WHEN r.doc_id = k.keep_id THEN -1 ELSE k.keep_id END AS ref_id
       |             FROM rem2 r JOIN keepg k USING (m))
       |SELECT doc_id, status, CAST(ref_id AS BIGINT) AS ref_id FROM (
       |  SELECT * FROM ex UNION ALL SELECT * FROM near UNION ALL SELECT * FROM internal)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // DuckDB oracle twins. Each interpolates the same seed constants and
  // recomputes the full pipeline; list_reduce's first-element seeding
  // coincides with Spark's zero-seeded Horner fold because every value is
  // already < M (and the folds are congruent mod M regardless).
  // --------------------------------------------------------------------

  private def seedListSql(seeds: Seq[(Long, Long)]): String =
    seeds.map { case (a, b) => s"[$a, $b]" }.mkString("[", ", ", "]")

  /** tc: list of distinct-token polynomial codes for `text`. The
    * length-0 guard matters for empty/whitespace-only documents: Spark's
    * split(trim(''), ...) yields [''] and poly_hash31('') = 0, while an
    * unguarded DuckDB list_reduce over an empty char-code list raises —
    * crashing the whole oracle run instead of matching.
    */
  private val TcodesSql =
    s"""list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')), tok ->
       |      CASE WHEN length(tok) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(range(1, length(tok) + 1), i ->
       |        CAST(ord(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT)),
       |        (acc, x) -> (acc * 127 + x) % $Mod) END)""".stripMargin

  /** Shared dd2/dd6 CTE prefix: signatures → cliques → tier-1 pairs →
    * banded rep buckets (capped) → band-collision candidate counts.
    */
  private[quality] def minhashCtes: String =
    s"""d AS (SELECT doc_id, $TcodesSql AS tc FROM documents),
       |sigs AS (SELECT doc_id, list_transform(${seedListSql(MinhashSeeds)}, s ->
       |           list_min(list_transform(tc, t -> (s[1] * t + s[2]) % $Mod))) AS sig FROM d),
       |cl AS (SELECT sig, list(doc_id ORDER BY doc_id) AS ids FROM sigs GROUP BY sig),
       |t1 AS (SELECT ids[1] AS a, u.m AS b, 1.0 AS est_jaccard
       |       FROM cl, unnest(ids[2:len(ids)]) u(m) WHERE len(ids) > 1),
       |reps AS (SELECT ids[1] AS doc_id, sig FROM cl),
       |bk AS (SELECT doc_id, r.blk,
       |         list_reduce(sig[blk * $BandSize + 1 : blk * $BandSize + $BandSize],
       |           (acc, x) -> (acc * $BandP + x) % $Mod) AS bkey
       |       FROM reps, range(0, $NumBands) r(blk)),
       |bsz AS (SELECT blk, bkey, count(*) AS n FROM bk GROUP BY blk, bkey),
       |adm AS (SELECT bk.doc_id, bk.blk, bk.bkey FROM bk JOIN bsz USING (blk, bkey)
       |        WHERE n BETWEEN 2 AND $MinhashBucketHardCap),
       |cand AS (SELECT l.doc_id AS a, r2.doc_id AS b, count(*) AS nbands
       |         FROM adm l JOIN adm r2 USING (blk, bkey) WHERE l.doc_id < r2.doc_id
       |         GROUP BY 1, 2)""".stripMargin

  private[quality] def estSql(minBands: Int): String =
    s"""t2 AS (SELECT c.a, c.b,
       |         CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |           p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / $NumHashes AS est_jaccard
       |       FROM cand c JOIN sigs sa ON sa.doc_id = c.a JOIN sigs sb ON sb.doc_id = c.b
       |       WHERE c.nbands >= $minBands)""".stripMargin

  private def dd2OracleSql: String =
    s"""WITH $minhashCtes,
       |${estSql(1)}
       |SELECT a, b, est_jaccard FROM (
       |  SELECT * FROM t1 UNION ALL SELECT * FROM t2 WHERE est_jaccard >= 0.8)
       |ORDER BY a, b""".stripMargin

  private def dd6OracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |${estSql(2)},
       |edges AS (SELECT a, b FROM t2 WHERE est_jaccard >= 0.95),
       |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
       |reach(id, r) AS (
       |  SELECT a, a FROM sym
       |  UNION
       |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |members AS (SELECT ids[1] AS rep, u.m AS doc_id FROM cl, unnest(ids) u(m))
       |SELECT m.doc_id, coalesce(c.comp, m.rep) AS cluster_rep
       |FROM members m LEFT JOIN comp c ON c.id = m.rep ORDER BY doc_id""".stripMargin

  /** Powers of two as BIGINT literals (bit 63 is the sign bit — spelled
    * as the negative literal so the sum reproduces Java's 1L << 63).
    */
  private val Pow2Sql: String =
    (0 until 64).map(i => if (i == 63) "-9223372036854775808" else (1L << i).toString)
      .mkString("[", ", ", "]")

  private def simhashSql(src: String): String =
    s"""d AS (SELECT doc_id, $TcodesSql AS tc FROM $src),
       |bits AS (SELECT doc_id, list_transform(${seedListSql(SimhashSeeds)}, s ->
       |           list_sum(list_transform(tc, t -> (((s[1] * t + s[2]) % $Mod) & 1) * 2 - 1))) AS bs
       |         FROM d),
       |sh AS (SELECT doc_id,
       |         CAST(list_sum(list_transform(range(1, 65), i ->
       |           CASE WHEN bs[CAST(i AS INTEGER)] > 0
       |                THEN ($Pow2Sql)[CAST(i AS INTEGER)] ELSE 0 END)) AS BIGINT) AS simhash
       |       FROM bits)""".stripMargin

  private def dd3OracleSql: String =
    s"""WITH ${simhashSql("documents WHERE doc_id < 200")}
       |SELECT l.doc_id AS a, r.doc_id AS b,
       |       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
       |FROM sh l JOIN sh r ON l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.simhash, r.simhash)) <= 16
       |ORDER BY a, b""".stripMargin

  private def dd3bOracleSql: String =
    s"""WITH ${simhashSql("documents")},
       |cl AS (SELECT simhash, list(doc_id ORDER BY doc_id) AS ids FROM sh GROUP BY simhash),
       |t1 AS (SELECT ids[1] AS a, u.m AS b, CAST(0 AS BIGINT) AS hamming
       |       FROM cl, unnest(ids[2:len(ids)]) u(m) WHERE len(ids) > 1),
       |reps AS (SELECT ids[1] AS doc_id, simhash FROM cl),
       |blkd AS (SELECT doc_id, simhash, r.blk,
       |           (simhash >> (r.blk * 16)) & 65535 AS key
       |         FROM reps, range(0, 4) r(blk)),
       |bsz AS (SELECT blk, key, count(*) AS n FROM blkd GROUP BY blk, key),
       |adm AS (SELECT blkd.doc_id, blkd.simhash, blkd.blk, blkd.key
       |        FROM blkd JOIN bsz USING (blk, key) WHERE n BETWEEN 2 AND $SimhashBucketCap),
       |t2 AS (SELECT DISTINCT l.doc_id AS a, r2.doc_id AS b,
       |         CAST(bit_count(xor(l.simhash, r2.simhash)) AS BIGINT) AS hamming
       |       FROM adm l JOIN adm r2 USING (blk, key)
       |       WHERE l.doc_id < r2.doc_id
       |         AND bit_count(xor(l.simhash, r2.simhash)) <= 8)
       |SELECT a, b, hamming FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
       |ORDER BY a, b""".stripMargin

  /** dd12 — Bloom-filter membership probe against a prior snapshot: the
    * constant-space alternative to dd9's exact fingerprint store for the
    * cheap FIRST gate of incremental dedup ("definitely new" vs "maybe
    * seen"). The filter is m=4096 bits as 128 packed 32-bit words; k=4
    * positions per document derive from the codegen poly_hash31 content
    * hash via fixed affine maps — every step integer arithmetic both
    * engines reproduce, so unlike a production xxhash Bloom this one is
    * fully DuckDB-oracled, false positives included (the spec plants
    * one). Probe verdict per new doc: `bloom_hit` (all k bits set) next
    * to the ground-truth `exact_dup` (md5 equi-join, the audit column) —
    * rows with bloom_hit ∧ ¬exact_dup are the filter's false positives,
    * visible in the result rather than asserted away.
    *
    * Scale shape: the build is one map-side position explode + a
    * 128-group bit_or; the probe is a pure map-side forall against the
    * BROADCAST word array — zero shuffles on the probe path, which is
    * the whole point (dd9's three equi-joins become one broadcast
    * lookup). At corpus scales where m no longer broadcasts (~10 bits
    * per prior doc), the same words table probes as an equi-join keyed
    * on the word index — the relational form is already what the build
    * emits; the dense-array collapse here is the small-m fast path.
    */
  def bloomProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val withCut = docs.crossJoin(
      broadcast(docs.agg(expr("(max(doc_id) + 1) div 2").as("cut"))))
    bloomVerdicts(s,
      withCut.filter(col("doc_id") < col("cut")),
      withCut.filter(col("doc_id") >= col("cut")))
  }

  /** [[bloomProbe]]'s core over explicit prior/fresh doc tables
    * (doc_id, text); `mBits` must be a multiple of 32. DedupSpec drives
    * it at tiny m to PLANT false positives (a saturated filter) and at
    * the default m to pin the no-false-negative law.
    */
  /** The k=4 affine bit positions of a doc's poly_hash31 column `h`. */
  def bloomPositions(mBits: Int): Column = expr(
    s"array((31L * h + 7L) % $mBits, (131L * h + 101L) % $mBits, " +
      s"(1031L * h + 389L) % $mBits, (8191L * h + 2003L) % $mBits)")

  /** Probe predicate over a `ps` positions array and the packed `words`
    * array: every addressed bit is set.
    */
  def bloomHitCol: Column = expr(
    "forall(ps, x -> ((shiftright(element_at(words, cast(x div 32 as int) + 1), " +
      "cast(x % 32 as int)) & 1) = 1))")

  /** Build the packed Bloom filter of `prior0` (doc_id, text) as ONE row
    * holding `mBits / 32` 32-bit words in an array<long> — the broadcast
    * side of every probe, batch ([[bloomVerdicts]]) or streaming
    * ([[graft.streaming.DedupStream.bloomGate]]).
    */
  def bloomWordsRow(s: SparkSession, prior0: DataFrame, mBits: Int = 4096): DataFrame = {
    val nWords = mBits / 32 // 32-bit words: shift stays sign-safe in BIGINT
    prior0.select(expr("poly_hash31(text)").as("h"))
      .select(explode(bloomPositions(mBits)).as("pos"))
      .groupBy(expr("pos div 32").as("word"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 32 as int)))").as("bits"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits")))).as("wm"))
      .select(transform(sequence(lit(0), lit(nWords - 1)),
        w => coalesce(element_at(col("wm"), w.cast("long")), lit(0L))).as("words"))
  }

  def bloomVerdicts(s: SparkSession, prior0: DataFrame, fresh0: DataFrame,
      mBits: Int = 4096): DataFrame = {
    val wordsRow = bloomWordsRow(s, prior0, mBits)
    val priorHashes = prior0.select(md5(col("text")).as("pm")).distinct()
    fresh0.select(col("doc_id"), col("text"), expr("poly_hash31(text)").as("h"))
      .select(col("doc_id"), bloomPositions(mBits).as("ps"), md5(col("text")).as("fm"))
      .crossJoin(broadcast(wordsRow))
      .join(priorHashes, col("fm") === col("pm"), "left")
      .select(col("doc_id"), bloomHitCol.as("bloom_hit"),
        col("pm").isNotNull.as("exact_dup"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bloomProbe]]: the per-char Horner fold replays
    * poly_hash31 (ASCII corpus, the [[TcodesSql]] contract), the same
    * affine position maps and 32-bit word packing, and the dense word
    * list assembles by LEFT JOIN against range(0,128). Bit semantics
    * match because `& 1` after any shift reads the same bit whether the
    * engine's `>>` is arithmetic or logical.
    */
  private def dd12OracleSql: String =
    s"""WITH cutv AS (SELECT (max(doc_id) + 1) // 2 AS cut FROM documents),
       |ph AS (SELECT doc_id, text,
       |         CASE WHEN length(text) = 0 THEN 0 ELSE
       |           list_reduce(list_transform(range(1, length(text) + 1), i ->
       |             CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)),
       |             (acc, x) -> (acc * 127 + x) % 2147483647) END AS h
       |       FROM documents),
       |pr AS (SELECT doc_id, text, h FROM ph, cutv WHERE doc_id < cut),
       |fr AS (SELECT doc_id, text, h FROM ph, cutv WHERE doc_id >= cut),
       |pp AS (SELECT unnest([(31 * h + 7) % 4096, (131 * h + 101) % 4096,
       |                     (1031 * h + 389) % 4096, (8191 * h + 2003) % 4096]) AS pos
       |       FROM pr),
       |w AS (SELECT pos // 32 AS word,
       |        bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
       |      FROM pp GROUP BY 1),
       |warr AS (SELECT list(coalesce(w.bits, 0) ORDER BY r.i) AS words
       |         FROM range(0, 128) r(i) LEFT JOIN w ON w.word = r.i),
       |pm AS (SELECT DISTINCT md5(text) AS m FROM pr),
       |probe AS (SELECT doc_id,
       |            [(31 * h + 7) % 4096, (131 * h + 101) % 4096,
       |             (1031 * h + 389) % 4096, (8191 * h + 2003) % 4096] AS ps,
       |            md5(text) AS fm
       |          FROM fr)
       |SELECT p.doc_id,
       |  len(list_filter(p.ps, x ->
       |    ((words[CAST(x // 32 AS INTEGER) + 1] >> CAST(x % 32 AS INTEGER)) & 1) = 0)) = 0
       |    AS bloom_hit,
       |  pm.m IS NOT NULL AS exact_dup
       |FROM probe p CROSS JOIN warr LEFT JOIN pm ON pm.m = p.fm
       |ORDER BY doc_id""".stripMargin

  /** dd13 — CROSS-CORPUS near-dup decontamination: flag every TRAIN
    * document whose content exactly matches or near-duplicates (band
    * collision + ≥ minAgree/32 minhash agreement) any EVAL document —
    * the sketch-level benchmark-contamination check that catches
    * paraphrase-grade leaks x9's exact n-gram overlap misses. Exactly
    * [[incrementalVerdicts]] with the EVAL corpus playing the prior
    * store (the same three hash-keyed equi-joins; eval fingerprints are
    * store-sized, never raw text), with the within-train dedup statuses
    * collapsed to `clean` — decontamination asserts nothing about
    * train-internal duplication. Statuses: exact_contam / near_contam
    * (eval_ref = the offending eval doc) / clean (−1).
    */
  /** Order-free CONTENT identity digest of a corpus — (row count, sum of
    * a per-row crc32 over id + content hash). One column-pruned pass,
    * ~10^3× lighter than the tokenize+minhash stage it decides about;
    * committed as the store marker's payload so a staged store carries
    * WHICH corpus it fingerprints, across processes. Still a full scan
    * of the corpus text per run — when the eval corpus is a fixed file
    * artifact, [[sourceSnapshotIdentity]] answers the same reuse
    * question from file metadata alone (the dd13 default since round
    * 11; this content digest remains the right key when files can
    * mutate in place or the corpus is not file-backed).
    */
  def corpusFingerprint(docs: DataFrame): String = {
    val r = docs
      .select(crc32(concat_ws("|", col("doc_id"), md5(col("text")))).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0L)).as("hs"))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** Serializes in-process stagers of eval stores ([[contaminationVerdicts]]):
    * a concurrent second caller must not probe mid-write. Cross-process,
    * the [[graft.etl.StoreFs.Marker]] commit (written strictly after the
    * tables, carrying the corpus fingerprint) provides the equivalent
    * guarantee — a reader either sees a complete, identity-matching
    * store or restages.
    */
  private val stageLock = new Object

  /** SNAPSHOT identity of a file-backed corpus: an md5 over the sorted
    * (path, length, mtime) listing of the frame's input files plus a
    * caller-supplied derivation tag — the metadata-only answer to "is
    * this the same corpus I already staged?", costing one FS listing
    * instead of [[corpusFingerprint]]'s full text scan (measured ~0.25 s
    * per run at sf1.0 vs ~1 ms; COVERAGE.md §dd13). This is the
    * table-format trust model (a snapshot id keys reuse, not a content
    * hash): sound while source files are immutable artifacts — replaced
    * files change (path, length, mtime) and restage; an in-place
    * mutation preserving all three is undetected, exactly as it is for
    * every incremental framework keyed on file metadata. The TAG is
    * load-bearing: two corpora DERIVED differently from the same files
    * (dd13's parity split) share a listing, so the caller must encode
    * the derivation (e.g. "parity=odd") or the two would collide on one
    * staged store.
    */
  def sourceSnapshotIdentity(s: SparkSession, docs: DataFrame,
      derivationTag: String): String = {
    val files = docs.inputFiles.sorted
    require(files.nonEmpty,
      "sourceSnapshotIdentity needs a file-backed frame; use " +
        "corpusFingerprint for in-memory or computed corpora")
    val fsys = graft.etl.StoreFs.fs(s, files.head)
    val listing = files.map { f =>
      val st = fsys.getFileStatus(new org.apache.hadoop.fs.Path(f))
      s"$f:${st.getLen}:${st.getModificationTime}"
    }.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$derivationTag|$listing"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** @param evalIdentity identity key for the eval corpus, deciding
    *   staged-store reuse — [[sourceSnapshotIdentity]] (metadata-cost,
    *   the production default for file-artifact eval releases) or a
    *   release tag the publisher minted. None falls back to a per-run
    *   [[corpusFingerprint]] content digest (a full eval-text scan —
    *   the right key only when files can mutate in place).
    * @param broadcastStore default true — eval suites are benchmark-
    *   sized by nature, and the pair-shuffle-free probe needs the eval
    *   signature table on one executor. An eval corpus too large to
    *   broadcast (past Spark's 8 GB broadcast ceiling) passes false and
    *   takes the distinct-then-shuffle-join pipeline instead of failing
    *   the broadcast.
    */
  def contaminationVerdicts(s: SparkSession, trainDocs: DataFrame,
      evalDocs: DataFrame, storePath: Option[String] = None,
      evalIdentity: Option[String] = None,
      broadcastStore: Boolean = true): DataFrame = {
    // The eval corpus is a FIXED artifact: its fingerprints are staged
    // ONCE and re-probed every train run, never recomputed in-plan per
    // run. With `storePath` set, the store persists as parquet (dd9's
    // posture, DedupOps.scala:~660), and every run — including the
    // first — probes the read-back store; subsequent runs pay only a
    // corpus-identity digest plus the probe. Without it (ad-hoc
    // one-shot use) the store stays in-plan, localCheckpointed.
    val (exStore, sigStore, bandStore) = storePath match {
      case Some(p) =>
        // VERSIONED staging: each eval corpus stages its own immutable
        // `eval-<fingerprint>` subdir under the caller's path. A changed
        // eval corpus stages a SIBLING version instead of overwriting in
        // place — verdict DataFrames returned against a previous version
        // keep their files (an in-place restage deleted them out from
        // under earlier callers), and a restage can never race a running
        // probe of the old store. This is the StoreFs object-store
        // posture applied to staging: new version + marker, never
        // mutate-in-place. Old versions are inert and prunable once no
        // reader needs them — at the production cadence (stage per eval
        // release) that is one small store per release.
        val evalFp = evalIdentity.getOrElse(corpusFingerprint(evalDocs))
        val vp = s"$p/eval-${evalFp.replace(':', '-')}"
        val fsys = graft.etl.StoreFs.fs(s, vp)
        stageLock.synchronized {
          // Restage when the version is not COMPLETE: first stage,
          // marker missing (half-staged writer crash — tmp cleaners,
          // kill -9), or a table dir pruned externally while the marker
          // survived. The marker alone is necessary but not sufficient:
          // checking only it left a marker-with-deleted-tables store
          // permanently unreadable instead of self-healing. Checked at
          // the RESOLVED root — the same one readFingerprintStore will
          // serve — so completeness and the subsequent read can never
          // disagree about which layout they are talking about (a
          // versioned-compacted eval store probes its live version; a
          // restage stages the next one). readFingerprintStore re-resolves
          // below — a commit landing between the two resolutions can only
          // move the root to a NEWER complete version of the SAME corpus
          // (vp is corpus-fingerprint-keyed), so the race is benign.
          val root = resolveStoreRoot(fsys, vp)
          val complete =
            graft.etl.StoreFs.readMarker(fsys, root).contains(evalFp) &&
              Seq("exact", "sigs", "bands").forall(t =>
                graft.etl.StoreFs.exists(fsys, s"$root/$t"))
          if (!complete) writeFingerprintStore(s, evalDocs, vp, identity = evalFp)
        }
        readFingerprintStore(s, vp)
      case None => fingerprintStore(s, evalDocs)
    }
    incrementalVerdicts(s, trainDocs, exStore, sigStore, bandStore,
      internalDedup = false, broadcastStore = broadcastStore)
      .select(col("doc_id"),
        when(col("status") === "exact_prior", "exact_contam")
          .when(col("status") === "near_prior", "near_contam")
          .otherwise("clean").as("status"),
        when(col("status").isin("exact_prior", "near_prior"), col("ref_id"))
          .otherwise(lit(-1L)).as("eval_ref"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of dd13: the dd9 oracle chain with the parity split
    * (odd ids = eval store, even ids = train), contamination status
    * names, and the internal-dedup stage collapsed to `clean`.
    */
  private def dd13OracleSql: String =
    s"""WITH d AS (SELECT doc_id, $TcodesSql AS tc FROM documents),
       |sigs AS (SELECT doc_id, list_transform(${seedListSql(MinhashSeeds)}, s ->
       |           list_min(list_transform(tc, t -> (s[1] * t + s[2]) % $Mod))) AS sig FROM d),
       |a AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
       |b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |exstore AS (SELECT md5(text) AS m, min(doc_id) AS ref_id FROM a GROUP BY 1),
       |bands_a AS (SELECT s.doc_id, r.band,
       |              list_reduce(s.sig[r.band * $BandSize + 1 : r.band * $BandSize + $BandSize],
       |                (acc, x) -> (acc * $BandP + x) % $Mod) AS bkey
       |            FROM sigs s JOIN a USING (doc_id), range(0, $NumBands) r(band)),
       |badm AS (SELECT band, bkey FROM bands_a GROUP BY band, bkey
       |         HAVING count(*) <= $IncrementalBucketCap),
       |bands_adm AS (SELECT bands_a.doc_id, bands_a.band, bands_a.bkey
       |              FROM bands_a JOIN badm USING (band, bkey)),
       |bh AS (SELECT doc_id, md5(text) AS m FROM b),
       |ex AS (SELECT bh.doc_id, 'exact_contam' AS status, exstore.ref_id
       |       FROM bh JOIN exstore USING (m)),
       |rem1 AS (SELECT doc_id, m FROM bh
       |         WHERE NOT EXISTS (SELECT 1 FROM exstore e WHERE e.m = bh.m)),
       |bands_b AS (SELECT s.doc_id, r.band,
       |              list_reduce(s.sig[r.band * $BandSize + 1 : r.band * $BandSize + $BandSize],
       |                (acc, x) -> (acc * $BandP + x) % $Mod) AS bkey
       |            FROM sigs s JOIN rem1 USING (doc_id), range(0, $NumBands) r(band)),
       |cand AS (SELECT DISTINCT bb.doc_id AS doc_id, ba.doc_id AS a_id
       |         FROM bands_b bb JOIN bands_adm ba
       |           ON bb.band = ba.band AND bb.bkey = ba.bkey),
       |near AS (SELECT c.doc_id, 'near_contam' AS status, min(c.a_id) AS ref_id
       |         FROM cand c JOIN sigs sb ON sb.doc_id = c.doc_id
       |                     JOIN sigs sa ON sa.doc_id = c.a_id
       |         WHERE list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |                 p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) >= $IncrementalMinAgree
       |         GROUP BY c.doc_id),
       |clean AS (SELECT doc_id, 'clean' AS status, -1 AS ref_id FROM rem1
       |          WHERE NOT EXISTS (SELECT 1 FROM near n WHERE n.doc_id = rem1.doc_id))
       |SELECT doc_id, status, CAST(ref_id AS BIGINT) AS eval_ref FROM (
       |  SELECT * FROM ex UNION ALL SELECT * FROM near UNION ALL SELECT * FROM clean)
       |ORDER BY doc_id""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("dd2_minhash_lsh", Some(dd2OracleSql),
      (s, dir) => minhashPairs(s, dir, minEstJaccard = 0.8)),

    // dd13 — train-vs-eval sketch decontamination (see
    // [[contaminationVerdicts]]): even ids play the train corpus, odd
    // ids the protected eval set. Staged-store reuse keys on the
    // metadata snapshot identity (the eval corpus is a fixed file
    // artifact here, as eval releases are in production) — the per-run
    // content digest it replaces was a full eval-text scan
    // (COVERAGE.md §dd13 carries the measured split).
    Q("dd13_cross_decontam", Some(dd13OracleSql), (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val evalDocs = docs.filter(col("doc_id") % 2 === 1)
      contaminationVerdicts(s,
        docs.filter(col("doc_id") % 2 === 0),
        evalDocs,
        storePath = Some(graft.etl.ScratchDirs.keyed("dd13_store", dir)),
        evalIdentity = Some(sourceSnapshotIdentity(s, evalDocs,
          derivationTag = "documents:parity=odd")))
    }),

    // dd12 — constant-space Bloom membership gate (see [[bloomProbe]]).
    Q("dd12_bloom_probe", Some(dd12OracleSql), (s, dir) => bloomProbe(s, dir)),

    Q("dd3b_simhash_lsh", Some(dd3bOracleSql),
      (s, dir) => simhashPairs(s, dir, maxHamming = 8)),

    // Dedup clusters: the complete pipeline shape — sketch → clique
    // collapse → rep-graph LSH pairs → connected components on the rep
    // graph only → members inherit labels. One row per document. The
    // oracle recomputes the components with a recursive min-reachability
    // CTE — an independent check of the distributed pointer-jumping CC.
    Q("dd6_dedup_clusters", Some(dd6OracleSql),
      (s, dir) => dedupClusters(s, dir, minEstJaccard = 0.95)),

    // Cross-snapshot incremental dedup: prior-half fingerprint store
    // persisted to parquet, new half deduped against the read-back store.
    Q("dd9_incremental_dedup", Some(dd9OracleSql), dd9),

    Q("dd3_simhash", Some(dd3OracleSql), (s, dir) => {
      val sh = simhashes(s, dir)
      // Near-dup pairs in a bounded block by hamming distance ≤ 16; the
      // signature table itself is the scale artifact.
      val l = sh.filter(col("doc_id") < 200).select(col("doc_id").as("a"), col("simhash").as("ha"))
      val r = sh.filter(col("doc_id") < 200).select(col("doc_id").as("b"), col("simhash").as("hb"))
      l.join(r, col("a") < col("b"))
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= 16)
        .select("a", "b", "hamming")
        .orderBy("a", "b")
    })
  )
}
