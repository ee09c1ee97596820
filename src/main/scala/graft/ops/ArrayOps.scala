package graft.ops

import graft.{OpModule, Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Array/tensor-cell operators over the `embeddings` table — the general
  * form of the reference's per-cell NumPy surface (SURVEY.md §2.8):
  * column-slice projection (P2), positional zip join (J2), elementwise maps
  * (T5/T8), vector norms (T7) and vector-valued scatter-sum (A8).
  *
  * Everything stays inside codegen'd higher-order functions
  * (`transform`/`aggregate`/`posexplode`) — no UDFs, no shuffle except
  * where the semantics require one (a8's group-by). Dot products and norms
  * accumulate in DecimalType so results are bit-reproducible against the
  * sequential oracle regardless of shuffle order (see [[graft.Dec]]).
  */
object ArrayOps extends OpModule {

  val qs: Seq[Q] = Seq(
    // P2 — column-slice projection on a tensor cell (spacepoint [:, :3],
    // view_spacepoint_data.ipynb cell-7). Emitted in long form (one row
    // per position) — the driver's pandas hash-compare cannot factorize
    // array-valued cells, so array-typed output columns are avoided in
    // every oracled query.
    Q("p2_array_slice", Some(
      """SELECT vec_id, CAST(generate_subscripts(emb_head, 1) - 1 AS BIGINT) AS pos,
        |       unnest(emb_head) AS val
        |FROM (SELECT vec_id, embedding[1:3] AS emb_head FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin),
      (s, dir) => Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 3)))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("col").as("val"))
        .orderBy("vec_id", "pos")),

    // J2 — positional zip join: flatten a tensor cell to long form with
    // explicit positions (zip(trackid, pid, ...) analog,
    // view_spacepoint_data.ipynb cell-5). posexplode preserves positional
    // alignment by construction (SURVEY §7.4).
    Q("j2_zip_join", Some(
      """SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |       unnest(embedding) AS val
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id, pos""".stripMargin),
      (s, dir) => Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("col").as("val"))
        .orderBy("vec_id", "pos")),

    // T5/T8 — elementwise arithmetic map over an array cell
    // (pos3d[:,1] -= 117.0 analog, view_voxel_data.ipynb cell-6).
    // Long-form output (see p2 note); the map itself stays a codegen'd
    // `transform` over the intact array cell.
    Q("t5_elementwise", Some(
      """SELECT vec_id, CAST(generate_subscripts(scaled, 1) - 1 AS BIGINT) AS pos,
        |       unnest(scaled) AS val
        |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) * 2 + 1) AS scaled
        |      FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin),
      (s, dir) => Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(transform(col("embedding"), x => x.cast("double") * 2 + 1)))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("col").as("val"))
        .orderBy("vec_id", "pos")),

    // T2 — rank-3 tensor_reshape round trip: a 60-element flat cell
    // reshaped to a 5×4×3 tensor (the reference's full-shape decode,
    // readparquet.py:25-31; the N×6 kplabel_t layout of
    // dlmerged2parquet.py:231-233 generalized), then fully unnested back
    // to scalars. The oracle recomputes each (i,j,k) cell with row-major
    // index arithmetic directly on the flat array — so the custom
    // expression's nesting order is what's being checked.
    Q("t2_reshape3", Some(
      """SELECT vec_id, i, j, k, embedding[(i*12 + j*3 + k) + 1] AS val
        |FROM embeddings, range(5) r1(i), range(4) r2(j), range(3) r3(k)
        |WHERE vec_id < 100
        |ORDER BY vec_id, i, j, k""".stripMargin),
      (s, dir) => Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 100)
        .select(col("vec_id"),
          expr("tensor_reshape(slice(embedding, 1, 60), array(5L, 4L, 3L))").as("t"))
        .select(col("vec_id"), posexplode(col("t")))
        .select(col("vec_id"), col("pos").cast("long").as("i"), posexplode(col("col")))
        .select(col("vec_id"), col("i"), col("pos").cast("long").as("j"), posexplode(col("col")))
        .select(col("vec_id"), col("i"), col("j"),
          col("pos").cast("long").as("k"), col("col").as("val"))
        .orderBy("vec_id", "i", "j", "k")),

    // T7 — vector norm via a no-shuffle higher-order fold. Both engines
    // run the same left-to-right double fold over the array (DuckDB's
    // list_sum is sequential — verified bit-exact), so no decimal
    // accumulator is needed: the fold never crosses a shuffle.
    Q("t7_vector_norm", Some(
      """SELECT vec_id,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |FROM embeddings ORDER BY vec_id""".stripMargin),
      (s, dir) => Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          sqrt(aggregate(
            transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (acc, x) => acc + x)).as("norm"))
        .orderBy("vec_id")),

    // A8 — vector-valued scatter-sum by key (torch_scatter analog,
    // larennet/larennet.py:61): elementwise sum of embeddings per label.
    // Long-form explode → per-(key,pos) decimal sum, emitted long form
    // (the re-assembly into one array per label is a trivial collect_list
    // a caller can append; the scatter-sum itself is the operator). One
    // shuffle, fully partial-aggregated.
    Q("a8_vector_sum", Some(
      """SELECT label, CAST(pos AS BIGINT) AS pos,
        |       CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE) AS sv
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |             unnest(embedding) AS v FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin),
      (s, dir) => Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        // float→double→decimal: DuckDB's direct float→decimal cast scales
        // in float precision and disagrees at the last decimal digit;
        // widening to double first makes both engines round the same
        // binary value.
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(sum(col("col").cast("double").cast(DecimalType(28, 8))).cast("double").as("sv"))
        .orderBy("label", "pos")),

    // T4 (tensor form) — true COO→dense scatter via groupBy(row).pivot(col):
    // the notebooks' dense-image build `denseimg[idx[:,0], idx[:,1]] =
    // img[:,2]` (view_spacepoint_data.ipynb cell-11..13, 1008×2400 there;
    // 64×64 at fixture scale). Sparse triples (row, col, v) — only cells
    // with v > 0.5 survive, the rest are zero background exactly as the
    // notebooks' np.zeros canvas — are scattered into a dense row-major
    // grid. pivot() with an EXPLICIT value list compiles to one shuffle-
    // free-of-distinct aggregation (no extra pass to discover columns),
    // and the left join from a materialized row axis guarantees empty rows
    // appear as all-zero rows, matching the dense-canvas contract. Each
    // (row, col) cell holds at most one triple, so max() is exact.
    Q("t4c_coo_scatter", Some {
      val cells = (0 until 64).map(i =>
        f"coalesce(max(CASE WHEN t.col = $i THEN t.v END), 0.0) AS c$i%02d")
        .mkString(",\n  ")
      s"""SELECT r.range AS row,
         |  $cells
         |FROM range(64) r LEFT JOIN (
         |  SELECT vec_id AS row,
         |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS col,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings WHERE vec_id < 64) t
         |ON r.range = t.row AND t.v > 0.5
         |GROUP BY r.range ORDER BY row""".stripMargin
    },
      (s, dir) => {
        val triples = Tables(s, dir, "embeddings")
          .filter(col("vec_id") < 64)
          .select(col("vec_id").as("row"), posexplode(col("embedding")))
          .select(col("row"), col("pos").cast("long").as("col"),
            col("col").cast("double").as("v"))
          .filter(col("v") > 0.5)
        val dense = triples.groupBy("row")
          .pivot("col", (0L until 64L).map(x => x: Any))
          .agg(max(col("v")))
        s.range(64).toDF("row")
          .join(dense, Seq("row"), "left")
          .select(col("row") +:
            (0 until 64).map(i => coalesce(col(i.toString), lit(0.0)).as(f"c$i%02d")): _*)
          .orderBy("row")
      })
  )
}
