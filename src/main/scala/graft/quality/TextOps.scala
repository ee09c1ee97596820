package graft.quality

import graft.{OpModule, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over
  * the `documents` table: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting, exact dedup and n-gram(token)-set
  * Jaccard near-dup scoring.
  *
  * All scalar work is `functions._` built-ins (codegen'd, no UDFs); the
  * pair-generation step restricts to a bounded id-range block so the
  * quadratic candidate join stays bounded no matter the table's scale —
  * the unbounded-scale path is dd2_minhash_lsh in [[DedupOps]].
  */
object TextOps extends OpModule {

  /** x2's quality-score ingredients and the score itself — ONE Spark
    * definition shared by x2, x14 and pipe1 (CorpusPipeline); a tweak
    * that misses one consumer would silently de-synchronize the
    * budget/filter selections from the reported score. The SQL twin is
    * [[QualitySql]].
    */
  private[quality] def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^a-z]", "")).cast("double") / length(text)
  private[quality] def avgTokLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      size(split(trim(text), "\\s+"))
  private[quality] def qualityScore(text: Column): Column =
    lit(0.5) * alphaRatio(text) +
      lit(0.5) * least(avgTokLen(text) / 10.0, lit(1.0))

  /** DuckDB fragment computing [[qualityScore]] over a column `text`. */
  private[quality] val QualitySql: String =
    "0.5 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))" +
      " + 0.5 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)" +
      " / len(regexp_split_to_array(trim(text), '\\s+'))) / 10.0, 1.0)"

  /** Winnowing k-gram hash: polynomial rolling hash mod the Mersenne
    * prime 2^31−1 with base 127 — the classic MOSS-paper construction.
    * Chosen over xxhash64 because every step is plain integer arithmetic
    * (max intermediate 2^38, no ANSI overflow) that ANY engine reproduces
    * — which is what upgrades x5 from rows-only to fully DuckDB-oracled.
    */
  private[quality] val HashMod = 2147483647L
  private[quality] val HashBase = 127L

  /** (doc_id, fps) — winnowing fingerprint sets (k-gram rolling hashes,
    * min per sliding window of w, deduplicated). The library surface for
    * overlap detection; the x5 query below projects it to scalar columns
    * for the driver harness.
    */
  def winnowFingerprints(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 8, w: Int = 16): org.apache.spark.sql.DataFrame =
    winnowFingerprintsOf(s, Tables(s, dir, "documents"), k, w)

  /** As [[winnowFingerprints]] over an arbitrary (doc_id, text, …) frame.
    * Callers that need a globally ORDERED result should sort the INPUT
    * and project these fingerprints after (the x5 query's shape): a
    * global sort ABOVE this projection runs the whole k-gram/window
    * pipeline TWICE, because RangePartitioning's bounds-sampling pass
    * executes the sort's child — measured at sf10 as two ~1,550
    * executor-second stages for one answer (stage profile in SCALING.md
    * §sf10 second decade, x5). Sorting the raw rows first costs one text-sized exchange and
    * computes the expensive projection exactly once, order preserved
    * (a per-row projection never reorders).
    */
  def winnowFingerprintsOf(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      k: Int = 8, w: Int = 16): org.apache.spark.sql.DataFrame = {
    // poly_hash31(substring(text, i, k)) == the per-char Horner fold over
    // positions i..i+k−1 whenever i+k−1 ≤ length(text) — true for every
    // position the sequence generates when length ≥ k (the corpus's min
    // length is ~44; a sub-k text would hash its short tail instead of
    // zero-padding, a domain edge the oracle shares by never exercising).
    // sliding_min == the HOF `transform(sequence(0, greatest(0,
    // size(hs) - w)), j -> array_min(slice(hs, j + 1, w)))` by value
    // (WinnowSpec pins the equality law on the corpus), as one O(n)
    // deque sweep instead of an O(n·w) slice allocation per window
    docs
      .withColumn("hs", expr(
        s"transform(sequence(1, greatest(1, length(text) - $k + 1)), i -> poly_hash31(substring(text, i, $k)))"))
      .withColumn("fps", expr(s"array_distinct(sliding_min(hs, $w))"))
      .select(col("doc_id"), col("fps"))
  }

  /** DuckDB twin of [[winnowFingerprints]] (k = 8, w = 16): the Horner
    * fold with per-step mod equals the power-sum mod, so the oracle can
    * use precomputed 127^(k−1−j) coefficients and one final `%`.
    */
  private def winnowOracleSql: String = {
    val coefs = (0 until 8).map(j => BigInt(HashBase).pow(7 - j)).mkString("[", ", ", "]")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(2, length(text) - 6)), i ->
       |      CAST(list_sum(list_transform(range(0, 8), j ->
       |        ord(substr(text, CAST(i + j AS INTEGER), 1)) * ($coefs)[CAST(j + 1 AS INTEGER)]))
       |        % $HashMod AS BIGINT)) AS hs
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(0, greatest(1, len(hs) - 15)), j ->
       |      list_min(hs[CAST(j + 1 AS INTEGER):CAST(j + 16 AS INTEGER)]))) AS fps
       |  FROM h)
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
       |       CAST(list_sum(fps) AS BIGINT) AS fps_sum,
       |       list_min(fps) AS fps_min, list_max(fps) AS fps_max
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** dd11's chunker as a reusable table: (doc_id, st, h, len) — one row
    * per content-defined chunk of `docs(doc_id, text)`. Boundaries where
    * the rolling 8-gram poly hash ≡ 0 (mod 64), tail cuts excluded so
    * the cut list is strictly increasing; all map-side HOF work.
    * TextOpsSpec uses it directly to pin the re-synchronization law.
    */
  def cdcChunkTable(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs
      .withColumn("hs", expr(
        "transform(sequence(1, greatest(1, length(text) - 7)), i -> poly_hash31(substring(text, i, 8)))"))
      .withColumn("cuts", expr(
        """concat(array(0),
          |  transform(filter(sequence(1, size(hs)),
          |    i -> element_at(hs, i) % 64 = 0 AND i + 7 < length(text)),
          |    i -> i + 7),
          |  array(length(text)))""".stripMargin))
      .withColumn("ch", explode(expr(
        """transform(sequence(1, size(cuts) - 1), j -> struct(
          |  element_at(cuts, j) AS st,
          |  substring(text, element_at(cuts, j) + 1,
          |    element_at(cuts, j + 1) - element_at(cuts, j)) AS body))""".stripMargin)))
      .select(col("doc_id"), col("ch.st").as("st"),
        md5(col("ch.body")).as("h"), length(col("ch.body")).as("len"))
  }

  /** DuckDB twin of dd11's content-defined chunking: x5's rolling-hash
    * CTE, the same `≡ 0 (mod 64)` boundary rule with tail-cut exclusion,
    * 1-based inclusive slicing for the chunk bodies, and the identical
    * first-occurrence window on the chunk md5.
    */
  private def cdcOracleSql: String = {
    val coefs = (0 until 8).map(j => BigInt(HashBase).pow(7 - j)).mkString("[", ", ", "]")
    s"""WITH h AS (
       |  SELECT doc_id, text,
       |    list_transform(range(1, greatest(2, length(text) - 6)), i ->
       |      CAST(list_sum(list_transform(range(0, 8), j ->
       |        ord(substr(text, CAST(i + j AS INTEGER), 1)) * ($coefs)[CAST(j + 1 AS INTEGER)]))
       |        % $HashMod AS BIGINT)) AS hs
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, text,
       |    [0] || list_transform(list_filter(range(1, len(hs) + 1),
       |        i -> hs[CAST(i AS INTEGER)] % 64 = 0 AND i + 7 < length(text)),
       |        i -> i + 7)
       |      || [length(text)] AS cuts
       |  FROM h),
       |x AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(cuts)), j -> struct_pack(
       |      st := cuts[CAST(j AS INTEGER)],
       |      body := substr(text, CAST(cuts[CAST(j AS INTEGER)] + 1 AS INTEGER),
       |        CAST(cuts[CAST(j + 1 AS INTEGER)] - cuts[CAST(j AS INTEGER)] AS INTEGER))))) AS ch
       |  FROM c),
       |r AS (
       |  SELECT doc_id, ch.st AS st, md5(ch.body) AS hh, length(ch.body) AS len,
       |         row_number() OVER (PARTITION BY md5(ch.body) ORDER BY doc_id, ch.st) AS rn
       |  FROM x)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dup,
       |  CAST(coalesce(sum(len) FILTER (WHERE rn > 1), 0) AS BIGINT) AS dup_chars
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    // Token counting (whitespace tokenizer).
    Q("x1_token_count", Some(
      """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")),

    // BPE-ish regex tokenization: word pieces / digit runs / single
    // non-space symbols — the pre-tokenizer shape of byte-pair encoders.
    Q("x1b_bpe_tokens", Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_pieces,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long").as("n_pieces"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            .cast("long").as("n_digit_runs"))
        .orderBy("doc_id")),

    // Quality scoring: alphabetic ratio + average token length, combined.
    Q("x2_quality_score", Some(
      """SELECT doc_id, n_chars_calc, n_tokens, alpha_ratio,
        |  0.5 * alpha_ratio + 0.5 * least(avg_tok_len / 10.0, 1.0) AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars_calc,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS avg_tok_len
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          alphaRatio(col("text")).as("alpha_ratio"),
          avgTokLen(col("text")).as("avg_tok_len"))
        .select(col("doc_id"), col("n_chars_calc"), col("n_tokens"), col("alpha_ratio"),
          (lit(0.5) * col("alpha_ratio") +
            lit(0.5) * least(col("avg_tok_len") / 10.0, lit(1.0))).as("quality"))
        .orderBy("doc_id")),

    // Language-ID heuristic: stopword-list hit scoring with a pinned
    // argmax tie-break (en ≥ es ≥ fr, then 'unknown').
    Q("x3_langid", Some(
      s"""SELECT doc_id, he, hs, hf,
         |  CASE WHEN he >= hs AND he >= hf AND he > 0 THEN 'en'
         |       WHEN hs >= hf AND hs > 0 THEN 'es'
         |       WHEN hf > 0 THEN 'fr' ELSE 'unknown' END AS lang_guess
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(list_intersect(tok, ['the','a','of','and','to'])) AS BIGINT) AS he,
         |    CAST(len(list_intersect(tok, ['el','la','de','y','que'])) AS BIGINT) AS hs,
         |    CAST(len(list_intersect(tok, ['le','un','de','et','les'])) AS BIGINT) AS hf
         |  FROM (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |        FROM documents))
         |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val en = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
        val es = array(Seq("el", "la", "de", "y", "que").map(lit): _*)
        val fr = array(Seq("le", "un", "de", "et", "les").map(lit): _*)
        Tables(s, dir, "documents")
          .withColumn("tok", array_distinct(split(trim(col("text")), "\\s+")))
          .select(col("doc_id"),
            size(array_intersect(col("tok"), en)).cast("long").as("he"),
            size(array_intersect(col("tok"), es)).cast("long").as("hs"),
            size(array_intersect(col("tok"), fr)).cast("long").as("hf"))
          .withColumn("lang_guess",
            when(col("he") >= col("hs") && col("he") >= col("hf") && col("he") > 0, "en")
              .when(col("hs") >= col("hf") && col("hs") > 0, "es")
              .when(col("hf") > 0, "fr")
              .otherwise("unknown"))
          .orderBy("doc_id")
      }),

    // Document fingerprinting: md5 over whitespace-normalized text.
    Q("x4_fingerprint", Some(
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |       CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"),
          length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")),

    // Winnowing fingerprints (MOSS-style): k-gram rolling hashes, minimum
    // per sliding window of w — robust overlap detection for partial-copy
    // dedup. Pure HOFs over each row (no shuffle until the final sort);
    // WinnowSpec pins the overlap guarantees on planted shared
    // substrings. Output is scalar (count + order-free sum/min/max over
    // the fingerprint set — the driver compare cannot hash array cells);
    // the polynomial hash is engine-agnostic, so the query is fully
    // DuckDB-oracled.
    // Sort FIRST, fingerprint after: a global sort above the winnow
    // projection would re-run the whole k-gram/window pipeline in the
    // range-bounds sampling pass (measured 2× at sf10 — SCALING §x5);
    // sorting the raw rows costs one text-sized exchange and the
    // per-row projection preserves the order.
    Q("x5_winnow_fingerprint", Some(winnowOracleSql),
      (s, dir) => winnowFingerprintsOf(s,
          Tables(s, dir, "documents").orderBy("doc_id"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          expr("aggregate(fps, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("fps_sum"),
          array_min(col("fps")).as("fps_min"),
          array_max(col("fps")).as("fps_max"))),

    // Sequence packing for training batches: consecutive docs (by id,
    // within a shard) are grouped into packs of ~2048 tokens — the
    // contiguous-chunk form of LLM context packing. pack = exclusive
    // running token count div budget, so a doc starts a new pack when the
    // budget would overflow ON AVERAGE (deterministic, not best-fit).
    // SCALE SHAPE: the running sum windows over (shard, doc order), never
    // a global single-reducer sort — shards pack independently, exactly
    // how a 1000-executor job would run it.
    Q("x7_seq_packing", Some(
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM t)
        |SELECT shard, pack, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens FROM (
        |  SELECT shard, prior // 2048 AS pack, n_tokens FROM c)
        |GROUP BY shard, pack ORDER BY shard, pack""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byShard = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
          .withColumn("prior", coalesce(sum("n_tokens").over(byShard), lit(0L)))
          .withColumn("pack", expr("prior div 2048"))
          .groupBy("shard", "pack")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
          .orderBy("shard", "pack")
      }),

    // Train/val/test split assignment — hash-thresholded like the r1/r5
    // samplers (a pure function of the doc key: stable under
    // repartitioning, retries, and dataset growth — new docs never
    // reshuffle old assignments), with per-(split, lang) accounting.
    // 80/10/10 on the first 8 hex chars of md5(doc_id|seed).
    Q("x8_split_assign", Some(
      """SELECT split, lang, count(*) AS n_docs FROM (
        |  SELECT lang,
        |    CASE WHEN substr(md5(concat_ws('|', doc_id, 'split/42')), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substr(md5(concat_ws('|', doc_id, 'split/42')), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin),
      (s, dir) => {
        val h = substring(md5(concat_ws("|", col("doc_id"), lit("split/42"))), 1, 8)
        Tables(s, dir, "documents")
          .select(col("lang"),
            when(h < "cccccccc", "train").when(h < "e6666666", "val")
              .otherwise("test").as("split"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("split", "lang")
      }),

    // Benchmark decontamination — the eval-overlap audit every training
    // corpus needs: which training docs share a winnowing fingerprint
    // (k-gram overlap, robust to partial copies) with the eval set
    // (doc_id < 20 stands in for the benchmark)? Fingerprint sets come
    // from the same poly-hash winnowing as x5; candidates meet through an
    // equi-join on the fingerprint value — at 100 TB this is a keyed
    // shuffle on the (small) eval fingerprint set, broadcast in practice.
    Q("x9_decontaminate", Some(
      s"""WITH h AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(2, length(text) - 6)), i ->
         |      CAST(list_sum(list_transform(range(0, 8), j ->
         |        ord(substr(text, CAST(i + j AS INTEGER), 1)) *
         |        ([${(0 until 8).map(j => BigInt(127).pow(7 - j)).mkString(", ")}])[CAST(j + 1 AS INTEGER)]))
         |        % 2147483647 AS BIGINT)) AS hs
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(0, greatest(1, len(hs) - 15)), j ->
         |      list_min(hs[CAST(j + 1 AS INTEGER):CAST(j + 16 AS INTEGER)]))) AS fps
         |  FROM h),
         |ev AS (SELECT DISTINCT u.fp FROM f, unnest(fps) u(fp) WHERE doc_id < 20),
         |tr AS (SELECT doc_id, u.fp FROM f, unnest(fps) u(fp) WHERE doc_id >= 20)
         |SELECT tr.doc_id, CAST(count(DISTINCT tr.fp) AS BIGINT) AS n_shared_fps
         |FROM tr JOIN ev ON tr.fp = ev.fp
         |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        // explode_OUTER + explicit null filter, NOT plain explode:
        // InferFiltersFromGenerate infers `size(fps) > 0` for a non-outer
        // explode and pushes it below the projections, inlining the hs
        // array expression at EVERY window position inside the fps lambda
        // — turning the O(L·w) winnowing into O(L²·w) per row (measured:
        // 690 s at sf0.1 vs ~3 s). The rule skips outer generators, and
        // the null filter on the GENERATED attribute cannot be pushed
        // below the Generate.
        val fps = winnowFingerprints(s, dir)
        val ev = fps.filter(col("doc_id") < 20)
          .select(explode_outer(col("fps")).as("fp"))
          .filter(col("fp").isNotNull).distinct()
        val tr = fps.filter(col("doc_id") >= 20)
          .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
          .filter(col("fp").isNotNull)
        tr.join(ev, "fp")
          .groupBy("doc_id")
          .agg(countDistinct(col("fp")).as("n_shared_fps"))
          .orderBy("doc_id")
      }),

    // Intra-document repetition metrics — the Gopher/RefinedWeb-style
    // quality signals: distinct-token ratio, most-frequent-token share,
    // and duplicate word-2-gram fraction, all computed inside per-row
    // HOFs (no shuffle until the final sort).
    // top_tok_share needs only the mode token's COUNT (which token wins a
    // tie doesn't change the share), so both engines compute max over
    // per-distinct-token counts — one O(d·n) pass, no fold. (A
    // struct-accumulator list_reduce variant hit a DuckDB 1.0 bug:
    // results differed full-table vs single-row; the max form agrees with
    // a relational GROUP BY ground truth on every row.)
    Q("x10_repetition", Some(
      """SELECT doc_id,
        |  CAST(len(tok) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) AS distinct_ratio,
        |  CAST(list_max(list_transform(list_distinct(tok),
        |         t -> len(list_filter(tok, x -> x = t)))) AS DOUBLE) / len(tok) AS top_tok_share,
        |  1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_frac
        |FROM (
        |  SELECT doc_id, tok,
        |    list_transform(range(1, greatest(2, len(tok))), i ->
        |      array_to_string(tok[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)], ' ')) AS bg
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok FROM documents))
        |ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .withColumn("tok", split(trim(col("text")), "\\s+"))
        .withColumn("bg", expr(
          "transform(sequence(1, greatest(1, size(tok) - 1)), i -> concat_ws(' ', slice(tok, i, 2)))"))
        .select(col("doc_id"),
          size(col("tok")).cast("long").as("n_tokens"),
          (size(array_distinct(col("tok"))).cast("double") / size(col("tok")))
            .as("distinct_ratio"),
          (expr("array_max(transform(array_distinct(tok), t -> size(filter(tok, x -> x = t))))")
            .cast("double") / size(col("tok"))).as("top_tok_share"),
          (lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")))
            .as("dup_bigram_frac"))
        .orderBy("doc_id")),

    // Exact dedup: one survivor (lowest doc_id) per distinct text. Groups
    // by the content hash, not the text — the shuffle carries 32-byte
    // keys instead of whole documents (the 100 TB-relevant difference).
    Q("dd1_exact_dedup", Some(
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY text_md5""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .select(md5(col("text")).as("text_md5"), col("doc_id"))
        .groupBy("text_md5")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_md5")),

    // Word-3-gram shingle Jaccard over a bounded id block — the n-gram
    // reading of near-dup scoring (dd4 below is the token-SET reading):
    // overlapping 3-token shingles catch reorderings token sets miss.
    Q("dd4b_shingle_jaccard", Some(
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(2, len(tok) - 1)),
        |    i -> array_to_string(tok[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |        FROM documents WHERE doc_id < 200))
        |SELECT a, b, jac FROM (
        |  SELECT t1.doc_id AS a, t2.doc_id AS b,
        |    CAST(len(list_intersect(t1.sh, t2.sh)) AS DOUBLE)
        |      / (len(t1.sh) + len(t2.sh) - len(list_intersect(t1.sh, t2.sh))) AS jac
        |  FROM t t1 JOIN t t2 ON t1.doc_id < t2.doc_id)
        |WHERE jac >= 0.8 ORDER BY a, b""".stripMargin),
      (s, dir) => {
        val t = Tables(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .withColumn("tok", split(trim(col("text")), "\\s+"))
          .select(col("doc_id"), array_distinct(expr(
            "transform(sequence(1, greatest(1, size(tok) - 2)), i -> concat_ws(' ', slice(tok, i, 3)))"
          )).as("sh"))
        val a = t.select(col("doc_id").as("a"), col("sh").as("sa"))
        val b = t.select(col("doc_id").as("b"), col("sh").as("sb"))
        a.join(b, col("a") < col("b"))
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("jac", col("inter").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("inter")))
          .filter(col("jac") >= 0.8)
          .select("a", "b", "jac")
          .orderBy("a", "b")
      }),

    // Token-set Jaccard near-dup pairs over a bounded id block. The block
    // bound (not the pair join) is what caps the quadratic term; at open
    // scale the LSH path replaces it.
    Q("dd4_ngram_jaccard", Some(
      """WITH t AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 200)
        |SELECT a, b, jac FROM (
        |  SELECT t1.doc_id AS a, t2.doc_id AS b,
        |    CAST(len(list_intersect(t1.tok, t2.tok)) AS DOUBLE)
        |      / (len(t1.tok) + len(t2.tok) - len(list_intersect(t1.tok, t2.tok))) AS jac
        |  FROM t t1 JOIN t t2 ON t1.doc_id < t2.doc_id)
        |WHERE jac >= 0.85 ORDER BY a, b""".stripMargin),
      (s, dir) => {
        val t = Tables(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), array_distinct(split(trim(col("text")), "\\s+")).as("tok"))
        val a = t.select(col("doc_id").as("a"), col("tok").as("ta"))
        val b = t.select(col("doc_id").as("b"), col("tok").as("tb"))
        a.join(b, col("a") < col("b"))
          .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
          .withColumn("jac", col("inter").cast("double") /
            (size(col("ta")) + size(col("tb")) - col("inter")))
          .filter(col("jac") >= 0.85)
          .select("a", "b", "jac")
          .orderBy("a", "b")
      }),

    // dd8 — paragraph/line-level exact dedup (the CCNet/RefinedWeb-style
    // sub-document pass that removes boilerplate repeated ACROSS
    // documents while keeping the documents themselves): the corpus text
    // is flat word-bag prose with no newline structure, so "lines" are
    // deterministic 10-token windows — the relational shape (segment →
    // hash → global first-occurrence → reassemble in order) is exactly
    // the production operator's. Scale: the only wide op is one shuffle
    // keyed by the 32-byte chunk hash (first-occurrence window) and one
    // groupBy(doc_id) for reassembly; no pair joins, no collects.
    // posexplode_outer (not posexplode) — the non-outer form would let
    // InferFiltersFromGenerate re-inline the chunk-array build below the
    // projection (the x9 trap); the array is never empty, so outer is
    // lossless.
    Q("dd8_chunk_dedup", Some(
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks, unnest(range(0, (len(toks) - 1) // 10 + 1)) AS idx FROM t),
        |ch AS (SELECT doc_id, idx,
        |         array_to_string(toks[CAST(idx*10+1 AS INTEGER):CAST(idx*10+10 AS INTEGER)], ' ') AS chunk
        |       FROM ix),
        |k AS (SELECT doc_id, idx, chunk,
        |        row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) = 1 AS kept
        |      FROM ch)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       md5(coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE kept), '')) AS fp
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val C = 10
        val marked = Tables(s, dir, "documents")
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          .withColumn("ch", expr(
            s"transform(sequence(0, (size(toks)-1) div $C), i -> concat_ws(' ', slice(toks, i*$C+1, $C)))"))
          .select(col("doc_id"), posexplode_outer(col("ch")).as(Seq("idx", "chunk")))
          .filter(col("chunk").isNotNull)
          .withColumn("kept", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("idx"))) === 1)
        marked.groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("n_chunks"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("kept"), struct(col("idx"), col("chunk"))))),
            x => x.getField("chunk")), " ")).as("fp"))
          .orderBy("doc_id")
      }),

    // x11 — PII-pattern redaction: replace every match of a redaction
    // pattern set and report the per-record hit count — the scrub pass a
    // training pipeline runs before packing. Pure per-row codegen'd regex
    // (no shuffle before the final sort); the pattern here is the
    // numeric-id class ([0-9]{2,}) since the synthetic corpus contains no
    // emails/phones — the pattern set is a pluggable constant and the
    // plumbing (count + global replace, both engines byte-identical on
    // the common regex subset) is what the gate checks.
    Q("x11_redact", Some(
      """SELECT event_id,
        |  CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT) AS n_redacted,
        |  regexp_replace(props, '[0-9]{2,}', '<NUM>', 'g') AS scrubbed
        |FROM events WHERE event_id < 5000 ORDER BY event_id""".stripMargin),
      (s, dir) => Tables(s, dir, "events")
        .filter(col("event_id") < 5000)
        .select(col("event_id"),
          size(regexp_extract_all(col("props"), lit("[0-9]{2,}"), lit(0)))
            .cast("long").as("n_redacted"),
          regexp_replace(col("props"), "[0-9]{2,}", "<NUM>").as("scrubbed"))
        .orderBy("event_id")),

    // x12 — TF-IDF top-3 terms per document: the classic salient-term
    // extractor (corpus statistics pass → per-doc ranking). Rational idf
    // N/df instead of ln(N/df): every step is then integer counts and
    // single IEEE divisions/multiplications that ANY engine reproduces
    // bit-exactly (ln's last-ulp libm variance would make the ranking
    // engine-dependent; the ln form is a one-line swap in production and
    // is per-term rank-equivalent since ln is monotone). Scale shape: tf
    // is one partial-aggregated groupBy(doc, tok); df aggregates the
    // (already doc-distinct) tf table by token; the doc count and df
    // table ride in as broadcasts (vocab ≪ corpus by Heaps' law); top-3
    // via per-doc window.
    Q("x12_tfidf", Some(
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.tok,
        |         CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
        |       FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, rnk, tok, tfidf FROM (
        |  SELECT doc_id, tok, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rnk
        |  FROM sc) WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode_outer(split(trim(col("text")), "\\s+")).as("tok"))
          .filter(col("tok").isNotNull)
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(broadcast(dfreq), Seq("tok"))
          .crossJoin(broadcast(nDocs))
          .withColumn("tfidf", col("tf").cast("double") *
            (col("n_docs").cast("double") / col("df").cast("double")))
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok").asc)).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("tok"), col("tfidf"))
          .orderBy("doc_id", "rnk")
      }),

    // x13 — deterministic source-mixture sampling: hit TARGET LANGUAGE
    // PROPORTIONS (en .5 / de .2 / fr .15 / es .1 / zh .05) exactly, the
    // way a pretraining mix is drawn from heterogeneous pools. The
    // achievable corpus size T = min over langs of available/frac (the
    // most-constrained pool limits everyone); each lang then keeps
    // floor(frac·T) docs, selected by the same md5 key-hash order as R1
    // sampling — a pure function of the doc key, so the drawn mixture is
    // identical under repartitioning/retries/growth AND reproducible by
    // DuckDB. One count pass + one per-lang window; the counts table
    // broadcasts.
    Q("x13_source_mixture", Some(
      """WITH m(lang, frac) AS (VALUES
        |  ('en', 0.5), ('de', 0.2), ('fr', 0.15), ('es', 0.1), ('zh', 0.05)),
        |c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT CAST(min(floor(c.n / m.frac)) AS BIGINT) AS total
        |      FROM c JOIN m USING (lang)),
        |k AS (SELECT m.lang, CAST(floor(m.frac * t.total) AS BIGINT) AS keep_n
        |      FROM m CROSS JOIN t),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY substr(md5(concat_ws('|', doc_id, 'mix/7')), 1, 8), doc_id)
        |          AS BIGINT) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.lang, r.rn FROM r JOIN k USING (lang)
        |WHERE r.rn <= k.keep_n ORDER BY lang, rn""".stripMargin),
      (s, dir) => {
        val mix = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05)
        val docs = Tables(s, dir, "documents")
        val m = s.createDataFrame(mix.map { case (l, f) => (l, f) }).toDF("lang", "frac")
        val c = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        val t = c.join(m, Seq("lang"))
          .agg(floor(min(col("n") / col("frac"))).cast("long").as("total"))
        val k = m.crossJoin(broadcast(t))
          .select(col("lang"), floor(col("frac") * col("total")).cast("long").as("keep_n"))
        val r = docs.select(col("doc_id"), col("lang"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("lang")
            .orderBy(substring(md5(concat_ws("|", col("doc_id"), lit("mix/7"))), 1, 8),
              col("doc_id"))).cast("long").as("rn"))
        r.join(broadcast(k), Seq("lang"))
          .filter(col("rn") <= col("keep_n"))
          .select(col("doc_id"), col("lang"), col("rn"))
          .orderBy("lang", "rn")
      }),

    // x14 — token-budget corpus selection: within each source, take the
    // highest-quality documents (x2's quality score) until a per-source
    // token budget is spent — the greedy quality-ranked selection a
    // fixed-compute training run makes. Per-SOURCE windows (not global),
    // so the selection parallelizes by source at any scale; running sum
    // in BIGINT token counts (exact).
    Q("x14_budget_select", Some(
      s"""WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
        |    $QualitySql AS quality
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_tokens, quality,
        |        CAST(row_number() OVER w AS BIGINT) AS rnk,
        |        CAST(sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY quality DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |      FROM q WINDOW w AS (PARTITION BY source ORDER BY quality DESC, doc_id))
        |SELECT doc_id, source, rnk, cum_tokens FROM r
        |WHERE cum_tokens <= 1200 ORDER BY source, rnk""".stripMargin),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
        val q = Tables(s, dir, "documents").select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          qualityScore(col("text")).as("quality"))
        q.select(col("doc_id"), col("source"),
          row_number().over(w).cast("long").as("rnk"),
          sum(col("n_tokens")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .cast("long").as("cum_tokens"))
          .filter(col("cum_tokens") <= 1200)
          .orderBy("source", "rnk")
      }),

    // x15 — corpus-level frequent bigrams: the heavy-hitter pass behind
    // boilerplate detection (CCNet-style "most common n-grams are site
    // chrome") and tokenizer-vocab sizing. One explode of adjacent word
    // pairs, one partial-aggregated count keyed on the bigram string, a
    // sort-limit top 50 — at 100 TB the count shuffles 16-byte keys and
    // the top-k is TakeOrderedAndProject, never a global sort.
    Q("x15_ngram_topk", Some(
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t)
        |SELECT bigram, n, rnk FROM (
        |  SELECT bigram, count(*) AS n,
        |         CAST(row_number() OVER (ORDER BY count(*) DESC, bigram ASC) AS BIGINT) AS rnk
        |  FROM b GROUP BY bigram) WHERE rnk <= 50 ORDER BY rnk""".stripMargin),
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
          // guard: sequence(0, -1) would DESCEND on 0/1-token docs
          .filter(size(col("toks")) >= 2)
        toks
          .select(explode(transform(
            sequence(lit(0), size(col("toks")) - 2),
            i => concat(element_at(col("toks"), i + 1), lit(" "),
              element_at(col("toks"), i + 2)))).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram").asc)
          .limit(50)
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n").desc, col("bigram").asc)).cast("long"))
          .select("bigram", "n", "rnk")
          .orderBy("rnk")
      }),

    // dd11 — CONTENT-DEFINED chunking dedup (the FastCDC/rsync boundary
    // rule): chunk boundaries fall where the rolling 8-gram hash ≡ 0
    // (mod 64) — a property of the CONTENT, not the offset — so an
    // insertion early in a document shifts every byte yet re-synchronizes
    // the very next boundary, where dd8's fixed segmentation would mark
    // every downstream chunk changed. Expected chunk ≈ 64 chars. The
    // rolling hashes are x5's poly_hash31 codegen kernel; boundaries,
    // slicing and lengths are HOF arithmetic (map-side); the only
    // shuffle is the first-occurrence window keyed on the chunk hash
    // (dd8's shape). Integer/md5 end-to-end ⇒ fully DuckDB-oracled.
    Q("dd11_cdc_chunks", Some(cdcOracleSql),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("h").orderBy("doc_id", "st")
        cdcChunkTable(s, Tables(s, dir, "documents"))
          .withColumn("rn", row_number().over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            count(when(col("rn") > 1, 1)).as("n_dup"),
            coalesce(sum(when(col("rn") > 1, col("len"))), lit(0))
              .cast("long").as("dup_chars"))
          .orderBy("doc_id")
      }),

    // x20 — statistical-LM familiarity scoring (the CCNet/KenLM
    // perplexity-filter shape with EXACT arithmetic): train the "model"
    // on the corpus itself — global bigram counts — then score each doc
    // by the summed corpus frequency of its bigrams. High familiarity =
    // stock phrasing, low = rare constructions (or noise); rankings
    // feed the same bucket machinery as x2/x17. Integer end-to-end
    // (counts and sums, no log-prob floats), which is what makes a
    // cross-engine oracle possible where a real log-space LM score
    // would differ in ulps. Scale shape: one bigram groupBy builds the
    // LM (bounded vocab → broadcast join; open vocab → keyed shuffle,
    // or substitute x16's capped Misra–Gries LM), one per-doc
    // aggregation scores.
    Q("x20_bigram_familiarity", Some(
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |      FROM t WHERE len(toks) >= 2),
        |lm AS (SELECT bigram, count(*) AS c FROM b GROUP BY bigram),
        |sc AS (SELECT b.doc_id, count(*) AS n_bigrams, CAST(sum(lm.c) AS BIGINT) AS familiarity
        |       FROM b JOIN lm USING (bigram) GROUP BY b.doc_id)
        |SELECT t.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |       coalesce(sc.familiarity, 0) AS familiarity
        |FROM t LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val b = Tables(s, dir, "documents")
          .select(col("doc_id"),
            regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(0), size(col("toks")) - 2),
            i => concat(element_at(col("toks"), i + 1), lit(" "),
              element_at(col("toks"), i + 2)))).as("bigram"))
        val lm = b.groupBy("bigram").agg(count(lit(1)).as("c"))
        val sc = b.join(lm, "bigram").groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("c").as("familiarity"))
        Tables(s, dir, "documents").select("doc_id")
          .join(sc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("familiarity"), lit(0L)).as("familiarity"))
          .orderBy("doc_id")
      }),

    // x17 — CCNet-style per-language quality buckets: rank every document
    // by the x2 quality score WITHIN its language and split head/middle/
    // tail thirds (the bucketing CCNet uses to keep only the head of each
    // language's distribution). Per-LANGUAGE `ntile` windows — EXACT and
    // oracled, but one window partition per language: the dominant
    // language of a real corpus is a single-task sort at 100×, so this
    // is the small-scale/audit twin; x17b below is the scale path
    // (histogram cuts, no per-language sort).
    Q("x17_quality_buckets", Some(
      s"""WITH q AS (SELECT doc_id, lang, $QualitySql AS quality FROM documents)
        |SELECT doc_id, lang, quality,
        |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM (SELECT doc_id, lang, quality,
        |        ntile(3) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS nt
        |      FROM q) ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("quality"))
          .withColumn("nt", ntile(3).over(w))
          .select(col("doc_id"), col("lang"), col("quality"),
            when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      }),

    // x18 — temperature-scaled multilingual sampling (the α-smoothed
    // mixture of the mBERT/XLM-R pipelines): draw languages with
    // p_l ∝ n_l^α, α = 1/2 — sqrt, which is correctly-rounded IEEE on
    // both engines where a general pow is not — so low-resource
    // languages are upsampled relative to their corpus share. The
    // normalizer sums through the Dec decimal accumulator (order-free,
    // engine-exact); the per-language draw is x13's md5-order
    // thresholding, stable under repartition/retry; budget T = half the
    // corpus, capped per language at its pool. The per-language
    // `row_number` window makes the draw EXACT but single-task for the
    // dominant language at 100× — x18b below is the scale path
    // (hash-threshold selection, no rank window).
    Q("x18_temperature_mixture", Some(
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |s AS (SELECT ${graft.Dec.sqlSum("sqrt(CAST(n AS DOUBLE))")} AS z,
        |             CAST(sum(n) AS BIGINT) AS total FROM c),
        |k AS (SELECT c.lang,
        |        CAST(least(CAST(floor(CAST(total AS DOUBLE) / 2.0 *
        |          (sqrt(CAST(n AS DOUBLE)) / z)) AS BIGINT), n) AS BIGINT) AS keep_n
        |      FROM c CROSS JOIN s),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY substr(md5(concat_ws('|', doc_id, 'temp/5')), 1, 8), doc_id)
        |          AS BIGINT) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.lang, r.rn FROM r JOIN k USING (lang)
        |WHERE r.rn <= k.keep_n ORDER BY lang, rn""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val c = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        val tot = c.agg(graft.Dec.dsum(sqrt(col("n").cast("double"))).as("z"),
          sum(col("n")).cast("long").as("total"))
        val k = c.crossJoin(broadcast(tot))
          .select(col("lang"),
            least(floor(col("total").cast("double") / lit(2.0) *
              (sqrt(col("n").cast("double")) / col("z"))).cast("long"),
              col("n")).as("keep_n"))
        val r = docs.select(col("doc_id"), col("lang"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("lang")
            .orderBy(substring(md5(concat_ws("|", col("doc_id"), lit("temp/5"))), 1, 8),
              col("doc_id"))).cast("long").as("rn"))
        r.join(broadcast(k), Seq("lang"))
          .filter(col("rn") <= col("keep_n"))
          .select(col("doc_id"), col("lang"), col("rn"))
          .orderBy("lang", "rn")
      }),

    // x17b — the 100× SCALE PATH for x17's per-language buckets. x17's
    // `ntile` window sorts each language in ONE task — the dominant
    // language of a real corpus (~half the rows) is a single-task sort
    // at scale. Here the sort disappears: quality (∈ [0,1] by
    // construction) is binned into 1024 fixed-width cells — a pure
    // map-side expression — and the per-(lang, bin) COUNTS (≤ langs×1024
    // rows however large the corpus) carry all the rank information:
    // cumulative counts over the tiny histogram give each bin its
    // tercile, and docs inherit the bucket through a broadcast join.
    // One partial-aggregated shuffle of (lang, bin) keys; the windows
    // run over the histogram, never the data. Docs in a boundary bin
    // land whole-bin on one side — the deterministic, cross-engine-exact
    // approximation (TextOpsSpec bounds the disagreement vs x17), so
    // unlike an approxQuantile-cut variant this one is fully
    // DuckDB-oracled: both engines compute identical bins and cuts.
    Q("x17b_quality_buckets_hist", Some(
      s"""WITH q AS (SELECT doc_id, lang, $QualitySql AS quality FROM documents),
        |b AS (SELECT doc_id, lang, quality,
        |        CAST(least(floor(quality * 1024), 1023) AS INTEGER) AS bin FROM q),
        |h AS (SELECT lang, bin, count(*) AS c FROM b GROUP BY lang, bin),
        |cum AS (SELECT lang, bin,
        |          coalesce(sum(c) OVER (PARTITION BY lang ORDER BY bin DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
        |          sum(c) OVER (PARTITION BY lang) AS n
        |        FROM h),
        |bb AS (SELECT lang, bin,
        |         CASE WHEN cum_prev < n / 3.0 THEN 'head'
        |              WHEN cum_prev < n * 2.0 / 3.0 THEN 'middle'
        |              ELSE 'tail' END AS bucket FROM cum)
        |SELECT b.doc_id, b.lang, b.quality, bb.bucket
        |FROM b JOIN bb USING (lang, bin) ORDER BY doc_id""".stripMargin),
      (s, dir) => qualityBucketsHist(s, dir)),

    // x18b — the 100× SCALE PATH for x18's temperature mixture. x18
    // ranks every doc within its language (`row_number` window — the
    // same dominant-partition sort), then keeps the first keep_n by
    // md5 order. Here selection is THRESHOLDING, not ranking: keep a
    // doc iff its md5-derived uniform u ∈ [0,1) is below keep_n/n_lang —
    // a pure map-side predicate against a broadcast per-language
    // fraction, zero windows, zero data-side sorts. The kept COUNT is
    // binomial around keep_n instead of exactly keep_n (TextOpsSpec
    // bounds the deviation); membership is deterministic and
    // cross-engine-exact — both engines fold the same 8 md5 hex chars
    // to the same integer — so the query is fully DuckDB-oracled.
    Q("x18b_temperature_threshold", Some(
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |s AS (SELECT ${graft.Dec.sqlSum("sqrt(CAST(n AS DOUBLE))")} AS z,
        |             CAST(sum(n) AS BIGINT) AS total FROM c),
        |k AS (SELECT c.lang,
        |        CAST(least(CAST(floor(CAST(total AS DOUBLE) / 2.0 *
        |          (sqrt(CAST(n AS DOUBLE)) / z)) AS BIGINT), n) AS DOUBLE) / n AS keep_frac
        |      FROM c CROSS JOIN s),
        |u AS (SELECT doc_id, lang,
        |        ${graft.U32Fold.sql} / 4294967296.0 AS u
        |      FROM (SELECT doc_id, lang,
        |              substr(md5(concat_ws('|', doc_id, 'temp/5')), 1, 8) AS h
        |            FROM documents))
        |SELECT u.doc_id, u.lang FROM u JOIN k USING (lang)
        |WHERE u.u < k.keep_frac ORDER BY lang, doc_id""".stripMargin),
      (s, dir) => temperatureThreshold(s, dir)),

    // x19 — sliding-window token chunking (context-window prep): split
    // each document into 128-token windows advancing by a 64-token
    // stride, so every token appears in ≤ 2 chunks and no window
    // boundary loses cross-chunk context. Chunk count is integer
    // arithmetic ((n−W+S−1) div S + 1 when n>W, else 1) and the slice
    // is a codegen HOF over the token array — one Generate (explode)
    // per doc, no shuffle until the final presentation sort; at 100 TB
    // chunking is embarrassingly parallel map-side work. DuckDB mirrors
    // it with generate_series + 1-based inclusive list slicing.
    Q("x19_chunk_windows", Some(
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |           FROM documents),
        |c AS (SELECT doc_id, tok, len(tok) AS n,
        |        CASE WHEN len(tok) <= 128 THEN 1
        |             ELSE (len(tok) - 128 + 63) // 64 + 1 END AS k
        |      FROM t),
        |e AS (SELECT doc_id, tok, n, unnest(generate_series(0, k - 1)) AS i FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(i * 64 + 1 AS BIGINT) AS start_tok,
        |  CAST(least(n - i * 64, 128) AS BIGINT) AS chunk_tokens,
        |  array_to_string(tok[(i * 64 + 1):(i * 64 + 128)], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin),
      (s, dir) => chunkWindows(s, dir)),

    // x21 — CORPUS-level duplicated n-gram fraction (the Gopher/Dolma
    // repetition signal x10 computes only WITHIN a doc): per document,
    // the share of its 5-gram token shingles that occur more than once
    // across the whole corpus — high dup_frac means boilerplate that
    // survives exact and near dedup (navigation chrome, license
    // headers). Shingles travel as 16-hex-char md5 prefixes, not
    // strings, so the global count shuffle carries 16-byte keys
    // instead of ~5-token texts (the dd1 key-narrowing move); the plan
    // is one map-side Generate, one partial-aggregated count keyed on
    // the gram hash, one equi-join back on the same key (AQE handles
    // popular-gram skew), and the per-doc aggregation. Docs with fewer
    // than 5 tokens have no shingles and are excluded on both sides.
    Q("x21_dup_ngram_frac", Some(
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tok) - 3), i ->
        |        substr(md5(array_to_string(tok[i:i+4], ' ')), 1, 16))) AS g
        |      FROM t WHERE len(tok) >= 5),
        |c AS (SELECT g, count(*) AS c FROM g GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
        |FROM g JOIN c USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val grams = Tables(s, dir, "documents")
          .withColumn("tok", split(trim(col("text")), "\\s+"))
          .filter(size(col("tok")) >= 5)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(tok) - 4), i -> " +
              "substring(md5(concat_ws(' ', slice(tok, i, 5))), 1, 16))")).as("g"))
        val counts = grams.groupBy("g").agg(count(lit(1)).as("c"))
        grams.join(counts, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("c") > 1, 1).otherwise(0)).cast("long").as("n_dup"),
            (sum(when(col("c") > 1, 1).otherwise(0)).cast("double")
              / count(lit(1))).as("dup_frac"))
          .orderBy("doc_id")
      }),

    // x22 — Flesch reading-ease score, the classic readability signal
    // beside x2's ratio heuristics: 206.835 − 1.015·(words/sentences)
    // − 84.6·(syllables/words), with syllables approximated by vowel
    // groups and sentences by [.!?] runs (the standard automated
    // proxies — deterministic, which is what makes the score oracle-able
    // where a dictionary-based syllabifier would not be). All counts are
    // integer regex arithmetic; the one multi-op double formula rounds
    // at 9 (|score| ≤ ~207, well inside the safe magnitude). Pure
    // map-side work until the presentation sort.
    Q("x22_readability", Some(
      """SELECT doc_id,
        |  CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sentences,
        |  CAST(y AS BIGINT) AS n_syllables,
        |  round(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        |    - 84.6 * (CAST(y AS DOUBLE) / w), 9) AS flesch
        |FROM (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS w,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
        |    greatest(1, len(regexp_extract_all(lower(text), '[aeiou]+'))) AS y
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("w"),
          greatest(lit(1), size(expr("regexp_extract_all(text, '[.!?]+', 0)"))).as("s"),
          greatest(lit(1),
            size(expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))).as("y"))
        .select(col("doc_id"),
          col("w").cast("long").as("n_words"),
          col("s").cast("long").as("n_sentences"),
          col("y").cast("long").as("n_syllables"),
          round(lit(206.835) - lit(1.015) * (col("w").cast("double") / col("s"))
            - lit(84.6) * (col("y").cast("double") / col("w")), 9).as("flesch"))
        .orderBy("doc_id")),

    // x23 — DSIR-style data selection (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): fit two hashed
    // n-gram bag-of-words models — one on the TARGET domain (here the
    // `lang = 'en'` slice, standing in for the high-quality reference
    // corpus), one on the full RAW pool — and score every document by
    // its log importance weight Σ_grams [ln p̂_target(bucket) −
    // ln p̂_raw(bucket)] under add-1 smoothing; the selection keeps the
    // fixed budget of top-k weights (the deterministic top-k variant of
    // the paper's Gumbel draw — rank noise replaced by the (weight,
    // doc_id) total order, which is what makes the draw
    // retry/repartition-stable AND cross-engine-exact). Grams are
    // unigrams + word bigrams hashed into 256 buckets via the shared
    // md5→U32Fold spelling. Arithmetic posture: the ONLY float step is
    // the per-BUCKET ln, rounded at 9 decimals into DECIMAL(28,9) (the
    // nn7/v5b precedent — ulp-level engine disagreement cannot cross a
    // 1e-9 boundary except at ~1e-7 odds per value, and only ~514
    // distinct values exist); every per-DOC sum is then exact decimal
    // arithmetic, order-free on any engine. Scale shape: the gram table
    // is checkpointed once (one tokenize+md5 pass feeds both the LM fit
    // and the scoring), the LM is 256 rows → broadcast, scoring is one
    // per-doc partial-aggregated shuffle, and the selection is a
    // TakeOrdered(k) — no global sort ever sees data cardinality.
    Q("x23_dsir_select", Some(dsirOracleSql),
      (s, dir) => dsirSelect(s, dir))
  )

  /** x19 implementation — see the Q above for the scale argument. */
  def chunkWindows(s: SparkSession, dir: String, win: Int = 128,
      stride: Int = 64): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tok"))
      .withColumn("n", size(col("tok")))
      .withColumn("k", when(col("n") <= win, lit(1))
        .otherwise(expr(s"(n - $win + ${stride - 1}) div $stride + 1")))
      .withColumn("i", explode(sequence(lit(0), col("k") - 1)))
      .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
        (col("i") * stride + 1).cast("long").as("start_tok"),
        least(col("n") - col("i") * stride, lit(win)).cast("long").as("chunk_tokens"),
        concat_ws(" ", slice(col("tok"), col("i") * stride + 1, lit(win))).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  /** x17b implementation — see the Q above for the scale argument. */
  def qualityBucketsHist(s: SparkSession, dir: String, bins: Int = 1024): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val binned = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("quality"))
      .withColumn("bin",
        least(floor(col("quality") * bins), lit(bins - 1).cast("long")).cast("int"))
    val hist = binned.groupBy("lang", "bin").agg(count(lit(1)).as("c"))
    val byBinDesc = w.partitionBy("lang").orderBy(col("bin").desc)
    val cuts = hist
      .withColumn("cum_prev", coalesce(
        sum("c").over(byBinDesc.rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("c").over(w.partitionBy("lang")))
      .select(col("lang"), col("bin"),
        when(col("cum_prev") < col("n") / 3.0, "head")
          .when(col("cum_prev") < col("n") * 2.0 / 3.0, "middle")
          .otherwise("tail").as("bucket"))
    binned.join(broadcast(cuts), Seq("lang", "bin"))
      .select(col("doc_id"), col("lang"), col("quality"), col("bucket"))
      .orderBy("doc_id")
  }

  /** x23 implementation — see the Q above for the semantics and scale
    * argument. `buckets` is the hashed-feature dimensionality, `k` the
    * fixed selection budget; the query uses the defaults,
    * QualityScaleSpec shrinks `k` through [[dsirSelectOf]] to exercise the cut (and its
    * doc_id tiebreak) on a small fixture with a planted weight tie at
    * the boundary.
    */
  def dsirSelect(s: SparkSession, dir: String, buckets: Int = 256,
      k: Int = 64): DataFrame =
    dsirSelectOf(s, Tables(s, dir, "documents"), buckets, k)

  /** As [[dsirSelect]] but over an arbitrary (doc_id, lang, text, …)
    * frame — the injection point small-fixture specs need to plant
    * weight ties at the top-k boundary.
    */
  def dsirSelectOf(s: SparkSession, docs: DataFrame, buckets: Int = 256,
      k: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t0 = docs.select(col("doc_id"), col("lang"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
    val uni = t0.select(col("doc_id"), col("lang"),
      explode(col("toks")).as("gram"))
    val bi = t0.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => concat(element_at(col("toks"), i + 1), lit(" "),
          element_at(col("toks"), i + 2)))).as("gram"))
    val gb = uni.unionAll(bi)
      .withColumn("h", substring(md5(concat(col("gram"), lit("|dsir/9"))), 1, 8))
      .select(col("doc_id"), col("lang"),
        (expr(graft.U32Fold.convExpr) % buckets).cast("int").as("b"))
      .localCheckpoint(true) // one tokenize+hash pass feeds LM fit AND scoring
    val hist = gb.groupBy("b").agg(
      count(lit(1)).as("rc"),
      count(when(col("lang") === "en", 1)).as("tc"))
    val tot = hist.agg(sum("rc").cast("long").as("rtot"),
      sum("tc").cast("long").as("ttot"))
    // the one float step: ln of an INTEGER count, rounded at 9 into
    // decimal — everything downstream is exact decimal arithmetic
    def l9(c: Column): Column =
      round(log(c.cast("double")), 9).cast(DecimalType(28, 9))
    val ltab = hist.crossJoin(broadcast(tot))
      .select(col("b"),
        (l9(col("tc") + 1) - l9(col("rc") + 1)
          + l9(col("rtot") + buckets) - l9(col("ttot") + buckets))
          .cast(DecimalType(28, 9)).as("dl"))
    val scored = docs.select(col("doc_id"))
      .join(gb.join(broadcast(ltab), Seq("b"))
        .groupBy("doc_id").agg(sum("dl").as("w")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        // decimal accumulation, DOUBLE emission (the a12–a14 posture):
        // k·1e-9 → double is correctly rounded identically on any engine
        coalesce(col("w"), lit(BigDecimal(0)).cast(DecimalType(38, 9)))
          .cast("double").as("dsir_logw"))
      .localCheckpoint(true) // feeds the top-k draw AND the verdict join
    val sel = scored.orderBy(col("dsir_logw").desc, col("doc_id")).limit(k)
      .select(col("doc_id").as("sel_id"))
    scored.join(broadcast(sel), scored("doc_id") === sel("sel_id"), "left")
      .select(col("doc_id"), col("dsir_logw"),
        col("sel_id").isNotNull.as("kept"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[dsirSelect]] (buckets = 256, k = 64): the same
    * gram → md5 → U32Fold bucket chain, the same add-1 ln table rounded
    * at 9 into DECIMAL(28,9), the same decimal per-doc sums and the same
    * (weight desc, doc_id) top-k cut.
    */
  private def dsirOracleSql: String =
    s"""WITH t0 AS (SELECT doc_id, lang,
       |        regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |      FROM documents),
       |g AS (SELECT doc_id, lang, unnest(toks) AS gram FROM t0
       |      UNION ALL
       |      SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i+1])) AS gram
       |      FROM t0 WHERE len(toks) >= 2),
       |gb AS (SELECT doc_id, lang,
       |         CAST(${graft.U32Fold.sql.replace("\n", " ")} % 256 AS INTEGER) AS b
       |       FROM (SELECT doc_id, lang,
       |               substr(md5(gram || '|dsir/9'), 1, 8) AS h FROM g)),
       |hist AS (SELECT b, count(*) AS rc,
       |           count(*) FILTER (WHERE lang = 'en') AS tc
       |         FROM gb GROUP BY b),
       |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rtot,
       |               CAST(sum(tc) AS BIGINT) AS ttot FROM hist),
       |l AS (SELECT b, CAST(
       |          CAST(round(ln(tc + 1), 9) AS DECIMAL(28,9))
       |        - CAST(round(ln(rc + 1), 9) AS DECIMAL(28,9))
       |        + CAST(round(ln(rtot + 256), 9) AS DECIMAL(28,9))
       |        - CAST(round(ln(ttot + 256), 9) AS DECIMAL(28,9))
       |        AS DECIMAL(28,9)) AS dl
       |      FROM hist CROSS JOIN tot),
       |sc AS (SELECT gb.doc_id, sum(l.dl) AS w
       |       FROM gb JOIN l USING (b) GROUP BY gb.doc_id),
       |scored AS (SELECT d.doc_id,
       |             CAST(coalesce(sc.w, CAST(0 AS DECIMAL(38,9))) AS DOUBLE)
       |               AS dsir_logw
       |           FROM documents d LEFT JOIN sc USING (doc_id)),
       |sel AS (SELECT doc_id FROM scored
       |        ORDER BY dsir_logw DESC, doc_id LIMIT 64)
       |SELECT s.doc_id, s.dsir_logw, sel.doc_id IS NOT NULL AS kept
       |FROM scored s LEFT JOIN sel ON s.doc_id = sel.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** x18b implementation — see the Q above for the scale argument. */
  def temperatureThreshold(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val c = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val tot = c.agg(graft.Dec.dsum(sqrt(col("n").cast("double"))).as("z"),
      sum(col("n")).cast("long").as("total"))
    val k = c.crossJoin(broadcast(tot))
      .select(col("lang"),
        (least(floor(col("total").cast("double") / lit(2.0) *
          (sqrt(col("n").cast("double")) / col("z"))).cast("long"),
          col("n")).cast("double") / col("n").cast("double")).as("keep_frac"))
    docs
      .withColumn("h", substring(md5(concat_ws("|", col("doc_id"), lit("temp/5"))), 1, 8))
      .withColumn("u", expr(s"${graft.U32Fold.convExpr} / 4294967296.0"))
      .join(broadcast(k), Seq("lang"))
      .filter(col("u") < col("keep_frac"))
      .select(col("doc_id"), col("lang"))
      .orderBy("lang", "doc_id")
  }
}
