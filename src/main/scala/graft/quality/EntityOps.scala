package graft.quality

import graft.{OpModule, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage — the fuzzy-string counterpart of
  * the dd dedup family (dd matches CONTENT, er matches ENTITY NAMES):
  * trigram-blocked candidate generation, exact trigram-Jaccard scoring,
  * and match-graph clustering into canonical entities. The workload
  * every data integration / catalog-cleaning pipeline runs before a
  * join on names can work.
  *
  * Scale architecture (the dd2 posture transplanted to strings):
  * candidates come ONLY from a shared trigram block — an equi-join
  * keyed on the trigram, never an all-pairs scan — and blocks larger
  * than `BlockCap` are dropped as too common to be discriminative
  * (the standard rare-token blocking rule; [[blockedTrigrams]] and the
  * audited-cap spec mirror dd2's capped bands). Scoring joins each
  * surviving pair back to the two (small) per-name trigram SETS and
  * computes exact Jaccard with set intersect/union sizes — integer
  * arithmetic, fully DuckDB-oracled. Clustering reuses the distributed
  * union-find CC of [[graft.ops.GraphOps]]; the oracle recomputes
  * components with a recursive min-reachability CTE.
  */
object EntityOps extends OpModule {

  private val BlockCap = 20
  private val MinJaccard = 0.5

  /** (name, tgs) — distinct lowercase names with their DISTINCT trigram
    * sets. Names shorter than 3 chars contribute their whole text as
    * the single shingle (the x5 short-tail rule, shared by the oracle).
    */
  def nameTrigrams(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select(lower(col("p_name")).as("name")).distinct()
      .withColumn("tgs", array_distinct(expr(
        "transform(sequence(1, greatest(1, length(name) - 2)), i -> substring(name, i, 3))")))

  /** Exploded (name, tg) pairs restricted to DISCRIMINATIVE blocks:
    * trigrams carried by more than [[BlockCap]] names are dropped
    * (audited by [[droppedTrigramBlocks]] — the no-silent-caps rule).
    */
  def blockedTrigrams(names: DataFrame, cap: Int = BlockCap): DataFrame = {
    val tg = names.select(col("name"), explode(col("tgs")).as("tg"))
    val ok = tg.groupBy("tg").agg(count(lit(1)).as("n")).filter(col("n") <= cap)
    tg.join(ok.select("tg"), "tg")
  }

  /** Audit surface for the blocking cap: the trigrams whose blocks were
    * dropped, with their sizes — empty means no candidate loss.
    */
  def droppedTrigramBlocks(names: DataFrame, cap: Int = BlockCap): DataFrame =
    names.select(col("name"), explode(col("tgs")).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("n_names"))
      .filter(col("n_names") > cap)

  /** er1 — fuzzy match pairs: names sharing a rare trigram, scored by
    * exact trigram-set Jaccard, kept at ≥ `minJaccard`.
    */
  def fuzzyMatches(s: SparkSession, dir: String,
      minJaccard: Double = MinJaccard): DataFrame =
    fuzzyMatchesOver(nameTrigrams(s, dir).localCheckpoint(true), minJaccard)

  /** [[fuzzyMatches]] over an ALREADY-materialized trigram table — the
    * er2 path passes its own checkpoint so the `part` scan + tokenize
    * runs once per query, not once per stage.
    */
  def fuzzyMatchesOver(names: DataFrame,
      minJaccard: Double = MinJaccard): DataFrame = {
    val tg = blockedTrigrams(names)
    val cand = tg.as("l").join(tg.as("r"), col("l.tg") === col("r.tg"))
      .filter(col("l.name") < col("r.name"))
      .select(col("l.name").as("a"), col("r.name").as("b"))
      .distinct()
    cand
      .join(names.select(col("name").as("a"), col("tgs").as("ta")), "a")
      .join(names.select(col("name").as("b"), col("tgs").as("tb")), "b")
      .withColumn("jacc",
        size(array_intersect(col("ta"), col("tb"))).cast("double")
          / size(array_union(col("ta"), col("tb"))))
      .filter(col("jacc") >= minJaccard)
      .select(col("a"), col("b"), col("jacc"))
  }

  /** er2 — canonical entities: connected components over the er1 match
    * graph; every name (matched or not) gets a cluster whose canonical
    * representative is the minimum member name.
    */
  def canonicalEntities(s: SparkSession, dir: String): DataFrame = {
    // ONE trigram build feeds both the match stage and the name
    // universe (er1 standalone builds its own — same checkpoint shape)
    val names = nameTrigrams(s, dir).localCheckpoint(true)
    // dedupe=false (round 15): the candidate set is `.distinct()`-ed
    // before scoring, so the match edges are unique by construction and
    // the CC-side edge distinct was a wasted shuffle + checkpoint
    val comp = graft.ops.GraphOps.connectedComponents(
      fuzzyMatchesOver(names).select(col("a"), col("b")), dedupe = false)
    names.select("name")
      .join(comp.withColumnRenamed("id", "name"), Seq("name"), "left")
      .select(col("name"), coalesce(col("comp"), col("name")).as("canonical"))
      .orderBy("name")
  }

  /** Shared oracle CTE chain ending at `m` (a, b, jacc) — the er1 pairs. */
  private def matchCtes: String =
    s"""n AS MATERIALIZED (SELECT DISTINCT lower(p_name) AS name FROM part),
       |t AS MATERIALIZED (SELECT name, list_distinct(list_transform(
       |         range(1, greatest(2, length(name) - 1)),
       |         i -> substr(name, CAST(i AS INTEGER), 3))) AS tgs FROM n),
       |e AS (SELECT name, unnest(tgs) AS tg FROM t),
       |ok AS (SELECT tg FROM e GROUP BY tg HAVING count(*) <= $BlockCap),
       |cand AS (SELECT DISTINCT l.name AS a, r.name AS b
       |         FROM e l JOIN e r USING (tg) JOIN ok USING (tg)
       |         WHERE l.name < r.name),
       |m AS MATERIALIZED (SELECT a, b,
       |       CAST(len(list_intersect(ta.tgs, tb.tgs)) AS DOUBLE)
       |         / len(list_distinct(list_concat(ta.tgs, tb.tgs))) AS jacc
       |     FROM cand JOIN t ta ON ta.name = cand.a JOIN t tb ON tb.name = cand.b)""".stripMargin

  private def er1OracleSql: String =
    s"""WITH $matchCtes
       |SELECT a, b, jacc FROM m WHERE jacc >= $MinJaccard ORDER BY a, b""".stripMargin

  private def er2OracleSql: String =
    s"""WITH RECURSIVE $matchCtes,
       |mk AS (SELECT a, b FROM m WHERE jacc >= $MinJaccard),
       |sym AS (SELECT a, b FROM mk UNION SELECT b, a FROM mk),
       |reach(id, r) AS (
       |  SELECT a, a FROM sym
       |  UNION
       |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT n.name, coalesce(c.comp, n.name) AS canonical
       |FROM n LEFT JOIN comp c ON c.id = n.name ORDER BY n.name""".stripMargin

  val qs: Seq[Q] = Seq(
    // er1 — rare-trigram-blocked fuzzy name matching.
    Q("er1_fuzzy_match", Some(er1OracleSql),
      (s, dir) => fuzzyMatches(s, dir).orderBy("a", "b")),

    // er2 — match-graph clustering into canonical entities.
    Q("er2_canonical_entities", Some(er2OracleSql),
      (s, dir) => canonicalEntities(s, dir))
  )
}
