package graft.ops

import graft.{OpModule, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window / ranking / top-k / running-total operators (SURVEY.md §2.6
  * W1–W4, A9) plus sessionization — the analytic surface the reference gets
  * only imperatively (set_partition row-range sharding, running offsets in
  * the collate loop, larvoxel_dataset.py:196-286).
  *
  * All windows partition by a key before ordering, so at scale each
  * partition's state stays bounded; the only global-ordering window (w2
  * top-k) runs after an aggregation has already collapsed the data.
  */
object WindowOps extends OpModule {

  val qs: Seq[Q] = Seq(
    // W1/W2 — top-k (limit after ordering; root2parquet.py:55).
    Q("w2_topk", Some(
      """SELECT rn, o_orderkey, o_totalprice FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn,
        |         o_orderkey, o_totalprice
        |  FROM orders) WHERE rn <= 10 ORDER BY rn""".stripMargin),
      (s, dir) => Tables(s, dir, "orders")
        // sort-limit first (TakeOrderedAndProject — no global window over
        // the full table), then rank the surviving 10 rows.
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)).cast("long"))
        .select("rn", "o_orderkey", "o_totalprice")
        .orderBy("rn")),

    // W3 — partition-range slicing (set_partition, larvoxel_dataset.py:196-201)
    // as ntile. EXACT small-scale/audit twin — the global window is a
    // one-task sort at scale; w3b below cuts the same tiles from a
    // histogram with no global sort.
    Q("w3_ntile", Some(
      """SELECT c_custkey, CAST(ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT) AS tile
        |FROM customer ORDER BY c_custkey""".stripMargin),
      (s, dir) => Tables(s, dir, "customer")
        .withColumn("tile", ntile(4).over(
          Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)).cast("long"))
        .select("c_custkey", "tile")
        .orderBy("c_custkey")),

    // w3b — the 100× SCALE PATH for w3's set_partition tiles (the
    // ev4b/x17b histogram-cut pattern): the global `ntile` sorts the
    // whole table in ONE task at scale, so the tile is cut from a
    // 1024-bin histogram instead. Balance bins on the 100×-scaled
    // DECIMAL(18,2) image of c_acctbal (2-decimal money sits exactly
    // on that grid on both engines, so every bin edge is integer-exact
    // and the query stays fully oracled); cumulative counts over the
    // ≤1024-row histogram assign each bin its tile, rows inherit
    // through a broadcast join. Rows in a tile-straddling bin land
    // whole-bin on one side — QualityScaleSpec bounds the disagreement
    // vs w3's exact ntile.
    Q("w3b_ntile_hist", Some(
      s"""WITH v AS (SELECT c_custkey,
        |             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS b
        |           FROM customer),
        |bd AS (SELECT min(b) AS lo, max(b) AS hi FROM v),
        |bn AS (SELECT c_custkey, ${HistCut.binSql("b", "lo", "hi")} AS bin
        |       FROM v CROSS JOIN bd),
        |cut AS (${HistCut.quartileCutSql("bn", "bin", "ASC")})
        |SELECT bn.c_custkey, CAST(cut.q AS BIGINT) AS tile
        |FROM bn JOIN cut USING (bin) ORDER BY c_custkey""".stripMargin),
      (s, dir) => {
        val v = Tables(s, dir, "customer")
          .select(col("c_custkey"),
            (col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
              .cast("long").as("b"))
        val bn = v.crossJoin(broadcast(v.agg(min("b").as("lo"), max("b").as("hi"))))
          .withColumn("bin", expr(HistCut.binExpr("b", "lo", "hi")))
          .localCheckpoint(true) // feeds the histogram agg + the final join
        bn.join(broadcast(
            HistCut.quartileCuts(bn, "bin", asc = true, "tile")), Seq("bin"))
          .select("c_custkey", "tile")
          .orderBy("c_custkey")
      }),

    // W4 — argmax per group (np.argmax, voxel_to_instance_data.py:63):
    // richest customer per nation, ties broken by lowest key.
    Q("w4_argmax", Some(
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) WHERE rn = 1 ORDER BY c_nationkey""".stripMargin),
      (s, dir) => Tables(s, dir, "customer")
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey").asc)))
        .filter(col("rn") === 1)
        .select("c_nationkey", "c_custkey", "c_acctbal")
        .orderBy("c_nationkey")),

    // Rank/dense_rank per partition: top-5 parts by price within brand.
    Q("w5_rank", Some(
      """SELECT p_brand, p_partkey, p_retailprice, rnk, drnk FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |         CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS rnk,
        |         CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS drnk
        |  FROM part) WHERE rnk <= 5 ORDER BY p_brand, rnk, p_partkey""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc)
        Tables(s, dir, "part")
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .select("p_brand", "p_partkey", "p_retailprice", "rnk", "drnk")
          .orderBy("p_brand", "rnk", "p_partkey")
      }),

    // Lag/lead deltas per user (epoch-iteration order analog, R3).
    Q("w6_lag_delta", Some(
      """SELECT user_id, event_id, value,
        |  value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables(s, dir, "events")
          .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
          .select("user_id", "event_id", "value", "delta")
          .orderBy("user_id", "event_id")
      }),

    // A9 — running totals (running offsets in the collate loop,
    // larvoxel_dataset.py:263-278), exact-decimal accumulated.
    Q("a9_running_sum", Some(
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "events")
          .withColumn("running", sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double"))
          .select("user_id", "event_id", "running")
          .orderBy("user_id", "event_id")
      }),

    // Sessionization: gap > 30 min starts a new session; one row per user
    // with session and event counts. (Streaming analog lives in
    // graft.streaming; this is the batch window form.)
    Q("st2_sessionize", Some(
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events)
        |SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("new_s",
            when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1).otherwise(0))
          .groupBy("user_id")
          .agg((sum("new_s") + 1).cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      }),

    // st2b — the same sessionization through Spark's NATIVE
    // session_window aggregate (the batch run of the built-in that
    // SessionStream.eventTimeSessions streams). Spark merges an event
    // into the open session when it starts at or before last + 30 min,
    // so an event exactly at last + gap JOINS the session: the oracle's
    // gap test in time order is a strict > — st2's rule, but over ts
    // order instead of event-id order.
    Q("st2b_session_window", Some(
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events)
        |SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
      (s, dir) => Tables(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_sessions"), sum("n").cast("long").as("n_events"))
        .orderBy("user_id")),

    // w9 — time-RANGE window frame: per event row, the count and exact
    // decimal sum of same-type events in the trailing hour. RANGE (not
    // ROWS) over epoch microseconds, so all ties share one frame and the
    // result is deterministic under any partitioning; Spark computes it
    // in a single per-event_type sort with a sliding frame pointer — no
    // self-join, no shuffle beyond the event_type clustering. The rolling
    // statistic every rate-limit / anomaly question needs.
    Q("w9_range_frame", Some(
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("event_type").orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, 0)
        Tables(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("n_1h", count(lit(1)).over(w).cast("long"))
          .withColumn("sum_1h", sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double"))
          .select("event_id", "user_id", "n_1h", "sum_1h")
          .orderBy("event_id")
      }),

    // w10 — first/last/nth value per group, one row per customer. The
    // frame gotcha this pins: with an ORDER BY, the DEFAULT window frame
    // ends at CURRENT ROW, so last_value/nth_value silently return the
    // running last (= the current row) unless the frame is widened to
    // UNBOUNDED FOLLOWING — both engines share the trap and the fix.
    Q("w10_first_last", Some(
      """SELECT o_custkey, first_key, last_key, second_key FROM (
        |  SELECT o_custkey,
        |    first_value(o_orderkey) OVER w AS first_key,
        |    last_value(o_orderkey) OVER wf AS last_key,
        |    nth_value(o_orderkey, 2) OVER wf AS second_key,
        |    row_number() OVER w AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables(s, dir, "orders")
          .select("o_custkey", "o_orderdate", "o_orderkey")
          .withColumn("first_key", first("o_orderkey").over(w))
          .withColumn("last_key", last("o_orderkey").over(wf))
          .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(wf))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "first_key", "last_key", "second_key")
          .orderBy("o_custkey")
      }),

    // w11 — SCD-2 history build: treat events as a changelog (each row
    // sets `value` for its user at ts) and derive the slowly-changing-
    // dimension validity table every warehouse maintains — valid_from =
    // the change time, valid_to = the NEXT change (null while current),
    // is_current on the open row. One lead() window per user — the
    // partition key is the entity key, so state per partition is one
    // entity's history and the build parallelizes over entities at any
    // scale; this is the standard distributed SCD2 merge shape.
    // Timestamps emit as timestamp_ntz (wall-clock parity with the
    // oracle's raw parquet read).
    Q("w11_scd2_history", Some(
      """SELECT user_id, event_id, value, valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  (lead(valid_from) OVER w IS NULL) AS is_current
        |FROM (SELECT user_id, event_id, value, ts AS valid_from FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            col("ts").cast("timestamp_ntz").as("valid_from"))
          .withColumn("valid_to", lead("valid_from", 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
          .orderBy("user_id", "valid_from", "event_id")
      })
  )
}
