package graft.ops

import graft.{Dec, OpModule, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregations (SURVEY.md §2.5 A1–A7) and voxelization binning
  * (§2.9 V1–V3). All are single-shuffle hash aggregations with map-side
  * partial aggregation — the shape that scales to 100 TB.
  *
  * Majority-vote/mode uses an explicit count+row_number plan instead of the
  * built-in `mode` so the tie-break (highest count, then lowest label —
  * np.argmax(np.bincount(...)) semantics,
  * /root/reference/voxel_to_instance_data.py:63) is pinned and
  * oracle-reproducible.
  */
object AggOps extends OpModule {

  /** DuckDB twin of v8 (see the Q below): identical affine packing
    * (evi ≪ 33 | ix ≪ 22 | iy ≪ 11 | iz with evi = ev + 1 — the
    * row_number over the 4-event set), adjacency as the same three
    * packed +2^k shifts (hash-joinable equalities, one per axis),
    * components by bounded min-reachability recursion, and the
    * (count DESC, ssnet ASC) majority vote.
    */
  private def v8OracleSql: String =
    """WITH RECURSIVE cells AS (
      |  SELECT DISTINCT l_orderkey % 4 AS ev, l_partkey % 32 AS ix,
      |         l_suppkey % 32 AS iy, CAST(floor(l_quantity) AS BIGINT) AS iz
      |  FROM lineitem WHERE l_orderkey < 1000),
      |n AS (SELECT ev, ix, iy, iz,
      |        evi * 8589934592 + ix * 4194304 + iy * 2048 + iz AS id
      |      FROM (SELECT ev, ix, iy, iz,
      |              dense_rank() OVER (ORDER BY ev) AS evi FROM cells)),
      |e0 AS (SELECT a.id AS a, b.id AS b FROM n a JOIN n b ON b.id = a.id + 4194304
      |       UNION ALL SELECT a.id, b.id FROM n a JOIN n b ON b.id = a.id + 2048
      |       UNION ALL SELECT a.id, b.id FROM n a JOIN n b ON b.id = a.id + 1),
      |sym AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      |reach(id, r) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id),
      |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      |lab AS (SELECT n.ev, n.ix, n.iy, n.iz, c.comp AS inst
      |        FROM n JOIN comp c ON c.id = n.id),
      |cnts AS (SELECT ev, inst, (ix + iy + iz) % 5 AS ssnet, count(*) AS c
      |         FROM lab GROUP BY 1, 2, 3),
      |win AS (SELECT ev, inst, ssnet,
      |          row_number() OVER (PARTITION BY ev, inst
      |            ORDER BY c DESC, ssnet ASC) AS rn FROM cnts),
      |sz AS (SELECT ev, inst, count(*) AS n_vox FROM lab GROUP BY 1, 2)
      |SELECT s.ev AS event, s.inst AS instance, CAST(w.ssnet AS BIGINT) AS label,
      |  CAST(s.n_vox AS BIGINT) AS n_vox
      |FROM sz s JOIN win w ON w.ev = s.ev AND w.inst = s.inst AND w.rn = 1
      |ORDER BY event, instance""".stripMargin

  val qs: Seq[Q] = Seq(
    // A1 — group-by majority vote with deterministic tie-break.
    Q("a1_mode_majority", Some(
      """SELECT lang, source AS mode_source, cnt FROM (
        |  SELECT lang, source, cnt,
        |         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, source ASC) AS rn
        |  FROM (SELECT lang, source, count(*) AS cnt FROM documents GROUP BY lang, source)
        |) WHERE rn = 1 ORDER BY lang""".stripMargin),
      (s, dir) => Tables(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("source").asc)))
        .filter(col("rn") === 1)
        .select(col("lang"), col("source").as("mode_source"), col("cnt"))
        .orderBy("lang")),

    // A2 — distinct values (np.unique, voxel_to_instance_data.py:40).
    Q("a2_distinct", Some(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, dir) => Tables(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // A2b — exact distinct count per group (np.unique sizes); the
    // approximate HLL variant is a2c below (rows-only — sketch registers
    // aren't oracle-reproducible).
    Q("a2b_count_distinct", Some(
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs, count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_custs"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // A2c — approx_count_distinct: the 100 TB path (HLL++ sketch, one
    // pass, no distinct shuffle). HLL register contents aren't
    // reproducible on a second engine, so the sketch VALUE can't be
    // hash-compared — instead the query emits the exact count (oracled
    // bit-for-bit) plus a bound flag the sketch must satisfy:
    // |approx − exact| ≤ 5%·exact (the configured rsd is 2%, so 5% is
    // a slack-but-meaningful envelope). The oracle states the flag as
    // the literal 1 — if Spark's sketch ever lands outside the bound
    // the flag flips to 0 and the driver's hash compare goes red. This
    // is the bounded-oracle form: nothing rows-only, no pretense that
    // sketches are portable. Production uses the approx column alone
    // (no countDistinct shuffle); the exact twin here is the
    // verification harness.
    Q("a2c_approx_distinct", Some(
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs_exact,
        |       1 AS hll_within_5pct
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_custs_exact"),
          approx_count_distinct(col("o_custkey"), 0.02).as("__approx"))
        .select(col("o_orderpriority"), col("n_custs_exact"),
          when(abs(col("__approx") - col("n_custs_exact"))
            <= col("n_custs_exact") * 0.05, lit(1)).otherwise(lit(0))
            .as("hll_within_5pct"))
        .orderBy("o_orderpriority")),

    // Quantile sketch (the reference's score-range prints, generalized):
    // percentile_approx's internal state isn't oracle-reproducible, but
    // its CONTRACT is — the returned value is an actual data value whose
    // rank lies within ε·n of the target rank (ε = 1/accuracy = 0.001
    // here). So the bounded-oracle form emits the exact rank-statistic
    // quantiles (oracled bit-for-bit, a11b's arithmetic) plus one flag
    // asserting each sketch value lies between the exact values at ranks
    // (q−0.05)·n and (q+0.05)·n — a 50× slack envelope over the
    // guarantee. The oracle states the flag as the literal 1; a sketch
    // outside the window flips it and the hash compare goes red.
    // Production runs the one-pass sketch alone; the rank windows here
    // are the verification harness. a11b remains the plain exact twin.
    Q("a11_quantiles", Some(
      """WITH g AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = ceil(n * 0.25) THEN l_extendedprice END) AS q25_exact,
        |  max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS q50_exact,
        |  max(CASE WHEN rn = ceil(n * 0.75) THEN l_extendedprice END) AS q75_exact,
        |  1 AS sketch_in_rank_window
        |FROM g GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, dir) => {
        val byFlag = Window.partitionBy("l_returnflag")
        val g = Tables(s, dir, "lineitem")
          .select("l_returnflag", "l_extendedprice")
          .withColumn("rn", row_number().over(byFlag.orderBy("l_extendedprice")))
          .withColumn("n", count(lit(1)).over(byFlag))
        def at(q: Double) =
          max(when(col("rn") === ceil(col("n") * q), col("l_extendedprice")))
        val agg = g.groupBy("l_returnflag").agg(
          at(0.25).as("q25_exact"), at(0.5).as("q50_exact"), at(0.75).as("q75_exact"),
          at(0.20).as("__lo25"), at(0.30).as("__hi25"),
          at(0.45).as("__lo50"), at(0.55).as("__hi50"),
          at(0.70).as("__lo75"), at(0.80).as("__hi75"),
          percentile_approx(col("l_extendedprice"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(1000)).as("__q"))
        agg.select(col("l_returnflag"),
            col("q25_exact"), col("q50_exact"), col("q75_exact"),
            when(element_at(col("__q"), 1).between(col("__lo25"), col("__hi25")) &&
                 element_at(col("__q"), 2).between(col("__lo50"), col("__hi50")) &&
                 element_at(col("__q"), 3).between(col("__lo75"), col("__hi75")),
              lit(1)).otherwise(lit(0)).as("sketch_in_rank_window"))
          .orderBy("l_returnflag")
      }),

    // A11b — exact discrete quantiles: the value at rank ceil(q·n) per
    // group. Pure rank arithmetic on actual data values — no float
    // interpolation, so it reproduces bit-for-bit on any engine. The
    // per-group sort is the price of exactness (3 groups here ⇒ 3
    // reducers); a11's one-pass sketch is the 100 TB path.
    Q("a11b_quantiles_exact", Some(
      """WITH g AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = ceil(n * 0.25) THEN l_extendedprice END) AS q25,
        |  max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS q50,
        |  max(CASE WHEN rn = ceil(n * 0.75) THEN l_extendedprice END) AS q75
        |FROM g GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, dir) => {
        val byFlag = Window.partitionBy("l_returnflag")
        val g = Tables(s, dir, "lineitem")
          .select("l_returnflag", "l_extendedprice")
          .withColumn("rn", row_number().over(byFlag.orderBy("l_extendedprice")))
          .withColumn("n", count(lit(1)).over(byFlag))
        def at(q: Double) =
          max(when(col("rn") === ceil(col("n") * q), col("l_extendedprice")))
        g.groupBy("l_returnflag")
          .agg(at(0.25).as("q25"), at(0.5).as("q50"), at(0.75).as("q75"))
          .orderBy("l_returnflag")
      }),

    // a12 — robust per-group outlier detection (median + MAD, the
    // data-cleaning gate a value column gets before training): flag
    // |x − median| > 3·MAD. Both medians are EXACT rank statistics
    // (a11b's pattern — value at rank ceil(n/2), no interpolation), so
    // the whole query reproduces bit-for-bit on any engine; ties order
    // arbitrarily but the value AT a rank is tie-invariant. Two
    // per-group sorts are the price of exact medians (per-TYPE windows,
    // parallel by group); at 100 TB the one-pass a11 sketch substitutes
    // at the cost of approximation.
    Q("a12_mad_outliers", Some(
      """WITH g AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM events),
        |med AS (SELECT event_type, max(CASE WHEN rn = ceil(n * 0.5) THEN value END) AS med
        |        FROM g GROUP BY event_type),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |      FROM events e JOIN med m USING (event_type)),
        |g2 AS (SELECT event_type, dev, med,
        |        row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM d),
        |mad AS (SELECT event_type, max(CASE WHEN rn = ceil(n * 0.5) THEN dev END) AS mad
        |        FROM g2 GROUP BY event_type)
        |SELECT d.event_type, d.med, a.mad,
        |  CAST(sum(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(CASE WHEN d.dev > 3 * a.mad THEN d.dev END) AS max_dev
        |FROM d JOIN mad a USING (event_type)
        |GROUP BY d.event_type, d.med, a.mad ORDER BY event_type""".stripMargin),
      (s, dir) => {
        val byType = Window.partitionBy("event_type")
        def medianOf(df: org.apache.spark.sql.DataFrame, c: String, out: String) = df
          .withColumn("rn", row_number().over(byType.orderBy(c)))
          .withColumn("n", count(lit(1)).over(byType))
          .groupBy("event_type")
          .agg(max(when(col("rn") === ceil(col("n") * 0.5), col(c))).as(out))
        val ev = Tables(s, dir, "events").select("event_type", "value")
        val med = medianOf(ev, "value", "med")
        val d = ev.join(broadcast(med), Seq("event_type"))
          .withColumn("dev", abs(col("value") - col("med")))
        val mad = medianOf(d.select(col("event_type"), col("dev")), "dev", "mad")
        d.join(broadcast(mad), Seq("event_type"))
          .groupBy("event_type", "med", "mad")
          .agg(sum(when(col("dev") > lit(3) * col("mad"), lit(1L)).otherwise(lit(0L)))
            .cast("long").as("n_outliers"),
            max(when(col("dev") > lit(3) * col("mad"), col("dev"))).as("max_dev"))
          .orderBy("event_type")
      }),

    // A3 — duplicate-key audit (the reference's duplicate-voxel invariant,
    // larvoxel_dataset.py:101-110): groupBy count > 1.
    Q("a3_dup_audit", Some(
      """SELECT l_partkey, l_suppkey, count(*) AS n FROM lineitem
        |GROUP BY l_partkey, l_suppkey HAVING count(*) > 1
        |ORDER BY l_partkey, l_suppkey""".stripMargin),
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy("l_partkey", "l_suppkey")),

    // A4 — counts per group.
    Q("a4_count", Some(
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"),
      (s, dir) => Tables(s, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // A5 — min/max sanity aggregates (make_larmatch_parquet_data.py:94-97).
    Q("a5_minmax", Some(
      """SELECT l_returnflag, min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"),
          min("l_shipdate").as("first_ship"), max("l_shipdate").as("last_ship"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // A6 — mean for normalization (jam_larennet.py:58-60). The oracle
    // divides by count(c_acctbal), matching Dec.davg's count(c) — a
    // count(*) denominator would diverge the moment a NULL balance row
    // appears (count(*) keeps it, count(c) skips it).
    Q("a6_avg", Some(
      s"""SELECT c_mktsegment, ${Dec.sqlSum("c_acctbal")} / count(c_acctbal) AS avg_bal,
         |  count(*) AS n
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, dir) => Tables(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(Dec.davg(col("c_acctbal")).as("avg_bal"), count(lit(1)).as("n"))
        .orderBy("c_mktsegment")),

    // A7 — histogram / bincount (voxel_to_instance_data.py:63).
    Q("a7_histogram", Some(
      """SELECT CAST(floor(value/50) AS BIGINT) AS bucket, count(*) AS n
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin),
      (s, dir) => Tables(s, dir, "events")
        .groupBy(floor(col("value") / 50).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // V1 — voxelization: floor-binning groupBy (VoxelizeTriplets analog,
    // dlmerged2parquet.py:71-77). Pure hash aggregation — no shuffle
    // beyond the single agg exchange, partial-aggregated map-side.
    Q("v1_voxelize", Some(
      s"""SELECT CAST(floor(l_extendedprice/500) AS BIGINT) AS ix,
         |  CAST(floor(l_quantity/10) AS BIGINT) AS iy,
         |  count(*) AS n, ${Dec.sqlSum("l_discount")} AS sum_disc
         |FROM lineitem GROUP BY ix, iy ORDER BY ix, iy""".stripMargin),
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy(
          floor(col("l_extendedprice") / 500).as("ix"),
          floor(col("l_quantity") / 10).as("iy"))
        .agg(count(lit(1)).as("n"), Dec.dsum(col("l_discount")).as("sum_disc"))
        .orderBy("ix", "iy")),

    // V2 — voxel label dictionaries: one pass computing occupancy, summed
    // charge and the majority-vote label per voxel
    // (make_voxeldata_dict/make_ssnet_dict_labels analog,
    // dlmerged2parquet.py:237-265).
    Q("v2_voxel_labels", Some(
      """WITH g AS (
        |  SELECT CAST(floor(value/100) AS BIGINT) AS voxel, event_type,
        |         count(*) AS cnt, sum(CAST(value AS DECIMAL(18,4))) AS sv
        |  FROM events GROUP BY voxel, event_type),
        |w AS (
        |  SELECT voxel, event_type, cnt,
        |         row_number() OVER (PARTITION BY voxel ORDER BY cnt DESC, event_type ASC) AS rn,
        |         CAST(sum(cnt) OVER (PARTITION BY voxel) AS BIGINT) AS n,
        |         CAST(sum(sv) OVER (PARTITION BY voxel) AS DOUBLE) AS charge
        |  FROM g)
        |SELECT voxel, n, event_type AS label, charge FROM w WHERE rn = 1 ORDER BY voxel""".stripMargin),
      (s, dir) => {
        val g = Tables(s, dir, "events")
          .groupBy(floor(col("value") / 100).as("voxel"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("value").cast(DecimalType(18, 4))).as("sv"))
        val byVox = Window.partitionBy("voxel")
        g.withColumn("rn", row_number().over(byVox.orderBy(col("cnt").desc, col("event_type").asc)))
          .withColumn("n", sum(col("cnt")).over(byVox))
          .withColumn("charge", sum(col("sv")).over(byVox).cast("double"))
          .filter(col("rn") === 1)
          .select(col("voxel"), col("n"), col("event_type").as("label"), col("charge"))
          .orderBy("voxel")
      }),

    // V3 — sparsity threshold filter (ADC > 10.0, dlmerged2parquet.py:211).
    Q("v3_threshold", Some(
      "SELECT event_id, value FROM events WHERE value > 10.0 ORDER BY event_id"),
      (s, dir) => Tables(s, dir, "events")
        .filter(col("value") > 10.0)
        .select("event_id", "value")
        .orderBy("event_id")),

    // v7 — occupancy-grid INSTANCE labeling: connected components over
    // a sparse 2-D occupancy grid (4-neighborhood), the cluster/
    // instance-segmentation step the reference's larmatch stage runs
    // after voxelization (its dense-array flood fill, re-expressed as
    // the dd6 CC machinery over sparse adjacency). The grid is the
    // (l_partkey, l_suppkey) support — ~4 occupied cells per part row
    // at EVERY scale factor, so the instance structure is SF-robust
    // where a binned price/quantity grid saturates into one blob.
    // Adjacency is an EQUI-join on shifted coordinates — never a
    // distance cross product — CC runs on occupied cells only with
    // pointer jumping, and isolated cells label themselves. The oracle
    // is the recursive min-reachability CTE over the identical grid; its
    // adjacency is spelled as UNION ALL of two equi-joins because an
    // OR-of-conjunctions ON clause denies DuckDB a hash join and goes
    // nested-loop — O(cells²) probes, intractable past ~1M cells (sf1.0).
    Q("v7_voxel_instances", Some(
      """WITH RECURSIVE v AS (SELECT DISTINCT l_partkey AS ix, l_suppkey AS iy FROM lineitem),
        |n AS (SELECT ix, iy, ix * 1000000 + iy AS id FROM v),
        |e0 AS (SELECT a.id AS a, b.id AS b FROM n a JOIN n b
        |         ON b.ix = a.ix + 1 AND b.iy = a.iy
        |       UNION ALL
        |       SELECT a.id AS a, b.id AS b FROM n a JOIN n b
        |         ON b.ix = a.ix AND b.iy = a.iy + 1),
        |sym AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        |reach(id, r) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
        |lab AS (SELECT n.ix, n.iy, c.comp FROM n JOIN comp c ON c.id = n.id)
        |SELECT comp AS instance, count(*) AS n_vox,
        |  min(ix) AS min_ix, max(ix) AS max_ix,
        |  min(iy) AS min_iy, max(iy) AS max_iy
        |FROM lab GROUP BY comp ORDER BY instance""".stripMargin),
      (s, dir) => {
        // Packed SINGLE-COLUMN ids BEFORE the distinct/checkpoint
        // (applied after the round-12 stage profile): every downstream
        // consumer — both shift joins, each CC round, the final label
        // join — re-reads this set, and
        // carrying (ix, iy) beside id tripled the checkpoint (5.4 GB at
        // sf10) and every exchange built from it; the packing is
        // bijective under the guard, so the coordinates re-derive from
        // id (div/mod) at the final aggregation only.
        //
        // The ix*1e6+iy packing is collision-free only while
        // 0 ≤ iy < 1e6 — at TPC-H SF≥100 suppkey reaches 1e6 and
        // (ix, 1e6) would alias (ix+1, 0), silently fusing unrelated
        // instances in BOTH engines (parity could not catch it); fail
        // loudly instead, like instanceTableCC's packing guard.
        // Serialized checkpoint blocks ABOVE a corpus-size gate (round
        // 14): the deserialized default's unaccounted heap slack OOM'd
        // v7's sf100 runs 3-of-4 at a 100 g heap, while serialization
        // costs the cached sf10 regime +40% wall — so the level follows
        // the scanned corpus (GraphOps.ckpt scaladoc has the measured
        // A/B). 8 GB splits the regimes: sf10 lineitem is 1.5 GB
        // (deser, the measured-fast plan), sf100 is 15 GB (ser — the
        // working set cannot stay deserialized-resident anyway, and
        // compact accounted blocks evict instead of dying).
        val serCkpt = {
          val p = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
          // narrow catch + visible fallback (round 15, advisor low): a
          // silent `false` on an unexpected failure reverts to the
          // level that is KNOWN to OOM above the gate — only the
          // expected missing-path/IO cases may take it, and they log
          try p.getFileSystem(s.sessionState.newHadoopConf())
            .getContentSummary(p).getLength > (8L << 30)
          catch {
            case e @ (_: java.io.FileNotFoundException | _: java.io.IOException) =>
              org.slf4j.LoggerFactory.getLogger("graft.ops.AggOps")
                .warn(s"v7 checkpoint size gate: could not size $p " +
                s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
                "falling back to the deserialized storage level")
              false
          }
        }
        val vox = GraphOps.ckpt(Tables(s, dir, "lineitem")
          .select(col("l_partkey").as("ix"), col("l_suppkey").as("iy"))
          .select(when(col("iy") < 0 || col("iy") >= 1000000L || col("ix") < 0,
            expr("raise_error('v7 cell coord outside packable range')").cast("long"))
            .otherwise(col("ix") * 1000000L + col("iy")).as("id"))
          .distinct(), serCkpt) // reused by both edge joins + label join
        // Adjacency never leaves id space: (ix+1, iy) is id + 1e6
        // exactly; (ix, iy+1) is id + 1 UNLESS iy = 999999, where +1
        // would wrap into (ix+1, 0) — a false adjacency the guard's
        // iy < 1e6 bound still permits — so the iy-shift masks that
        // boundary row out of its probe side.
        def shiftEdges(delta: Long, guardWrap: Boolean) = {
          val x = if (guardWrap) vox.filter(col("id") % 1000000L =!= 999999L)
            else vox
          x.as("x").join(vox.as("y"), col("y.id") === col("x.id") + delta)
            .select(col("x.id").as("a"), col("y.id").as("b"))
        }
        // dedupe=false: shifted-coordinate equi-joins over a distinct
        // cell set cannot emit duplicate pairs, so the edge-list
        // distinct would be a pure full-shuffle tax (772 s of the 4732 s
        // sf10 executor profile that motivated this restructure).
        // CC runs over CONNECTED cells only (labels init from edge
        // endpoints — at sf1.0 ~0.7 M of 5.6 M cells); isolated cells
        // self-label once in the left-join coalesce below. Seeding CC
        // with the full cell set instead was tried and REVERTED: it
        // dragged the 5.6 M isolated cells through every round's joins
        // and checkpoints — 1.8× the whole query (976 vs 541 s sf1.0
        // executor).
        val comp = GraphOps.connectedComponents(
          shiftEdges(1000000L, guardWrap = false)
            .union(shiftEdges(1L, guardWrap = true)),
          dedupe = false, serCkpt = serCkpt)
        // Isolated cells (the ~88% majority of this sparse grid) are
        // each their own single-cell instance — a pure per-row
        // PROJECTION, not an aggregation. Aggregating them anyway was
        // the old plan's deepest sf10 cost (a 60 M-row groupBy whose
        // partial aggregation combines nothing because ~90% of groups
        // are singletons: a 639 s executor stage shuffling 1.2 GB);
        // the split aggregates only the CC-labeled connected cells and
        // anti-joins the rest straight into output rows.
        val ix = expr("id div 1000000")
        val iy = col("id") % 1000000L
        val connected = comp
          .select(ix.as("ix"), iy.as("iy"), col("comp"))
          .groupBy(col("comp").as("instance"))
          .agg(count(lit(1)).as("n_vox"),
            min("ix").as("min_ix"), max("ix").as("max_ix"),
            min("iy").as("min_iy"), max("iy").as("max_iy"))
        val isolated = vox
          .join(comp.select("id"), Seq("id"), "left_anti")
          .select(col("id").as("instance"), lit(1L).as("n_vox"),
            ix.as("min_ix"), ix.as("max_ix"), iy.as("min_iy"), iy.as("max_iy"))
        connected.unionByName(isolated).orderBy("instance")
      }),

    // v8 — the §3.3 FLOOD-FILL grain, driver-oracled (VERDICT r8 #6):
    // instanceTableCC's full path — tensor-format voxel events → per-event
    // union-find inside each row (voxel_components) → packed single-BIGINT
    // instance ids → majority-vote instance aggregation — over a fixture
    // voxel table derived from a FIXED absolute lineitem slice
    // (l_orderkey < 1000, present
    // and identical at every SF, the dd3 bounded-block posture: the CC
    // grain itself is SF-exercised by v7/dd6; this row pins the §3.3
    // packing + derived-grain semantics against an independent
    // recursive-CTE engine). The oracle re-derives the packed ids, the
    // min-reachability components, and the (cnt DESC, ssnet ASC)
    // majority label — g2's cross-algorithm posture.
    Q("v8_instance_cc", Some(v8OracleSql), (s, dir) => {
      val cells = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select((col("l_orderkey") % 4).as("event"),
          (col("l_partkey") % 32).as("ix"),
          (col("l_suppkey") % 32).as("iy"),
          floor(col("l_quantity")).cast("long").as("iz"))
        .distinct()
      val vox = cells
        .groupBy("event")
        .agg(array_sort(collect_list(struct(col("ix"), col("iy"), col("iz"))))
          .as("pts"))
        .select(lit(1L).as("run"), lit(0L).as("subrun"), col("event"),
          flatten(transform(col("pts"),
            p => array(p.getField("ix"), p.getField("iy"), p.getField("iz"))))
            .as("voxcoord"),
          array(size(col("pts")).cast("long"), lit(3L)).as("voxcoord_shape"),
          transform(col("pts"), _ => lit(1L)).as("voxlabel"),
          transform(col("pts"),
            p => (p.getField("ix") + p.getField("iy") + p.getField("iz")) % 5)
            .as("voxssnet"),
          transform(col("pts"), _ => lit(0L)).as("voxinstance"))
      graft.etl.EventPipelines.instanceTableCC(s, vox)
        .select(col("event"), col("instance"),
          col("label").cast("long").as("label"),
          element_at(col("instvoxcoord_shape"), 1).cast("long").as("n_vox"))
        .orderBy("event", "instance")
    }),

    // a13 — exact bivariate statistics per group: covariance and Pearson
    // correlation of (quantity, extendedprice) per return flag. Spark's
    // covar_pop/corr built-ins sum doubles in shuffle-arrival order
    // (nondeterministic, never oracle-matchable), so the moments
    // (Σx, Σy, Σxy, Σx², Σy²) accumulate in DecimalType(38,4) — exact
    // and order-free — and the covariance/correlation formulas run ONCE
    // per group on the agreed decimal sums. The composite a·b − c·d
    // can still drift one ulp across engines (FMA contraction), so the
    // emitted doubles are round(x, 9) on both sides — the v5b/nn7
    // precedent. One partial-aggregated groupBy — the same plan shape
    // as the built-in, with determinism added. Zero-variance (or
    // single-row) groups emit NULL corr, guarded on BOTH sides — ANSI
    // Spark throws DIVIDE_BY_ZERO where DuckDB would return NULL.
    Q("a13_covar_corr", Some(
      """SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((sxy - sx * sy / n) / n, 9) AS covar_pop,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
        |       THEN round((n * sxy - sx * sy)
        |         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) END AS corr
        |FROM (
        |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),
      (s, dir) => {
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast(DecimalType(38, 4))).cast("double")
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * y).as("sxy"),
            dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
          .select(col("l_returnflag"), col("n").cast("long").as("n"),
            round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 9)
              .as("covar_pop"),
            when((col("n") * col("sxx") - col("sx") * col("sx"))
                * (col("n") * col("syy") - col("sy") * col("sy")) > 0,
              round((col("n") * col("sxy") - col("sx") * col("sy"))
                / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  * (col("n") * col("syy") - col("sy") * col("sy"))), 9)).as("corr"))
          .orderBy("l_returnflag")
      }),

    // a14 — exact per-group OLS fit (y = slope·x + intercept for
    // extendedprice vs quantity per return flag), completing a13's
    // moment family: the same DECIMAL(38,4)-exact sums feed the
    // closed-form normal equations once per group. Both outputs are
    // multi-op formulas, so they round on both sides — at scale 6,
    // because intercept magnitude (~1e5) times 10⁹ would exceed 2⁵²
    // and the engines' round implementations diverge past it (the ft2
    // lesson; 1e5·10⁶ stays comfortably inside).
    Q("a14_ols_fit", Some(
      """SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
        |FROM (
        |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),
      (s, dir) => {
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast(DecimalType(38, 4))).cast("double")
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * y).as("sxy"),
            dsum(x * x).as("sxx"))
          .select(col("l_returnflag"), col("n").cast("long").as("n"),
            round(slope, 6).as("slope"),
            round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
          .orderBy("l_returnflag")
      })
  )
}
