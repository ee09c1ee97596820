package graft

import graft.quality.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen float_dot/float_norm kernels must stay bit-identical to
  * the interpreted HOF folds (that identity is what guarantees DuckDB
  * oracle parity for every similarity query).
  */
class VectorKernelSpec extends AnyFunSuite with SparkSuite {

  test("float_dot and float_norm are bit-identical to the HOF folds") {
    val e = Tables(spark, sf, "embeddings")
    val pairs = e.select(col("vec_id"), col("embedding").as("a"))
      .join(e.select((col("vec_id") + 7).as("vec_id"), col("embedding").as("b")), "vec_id")
    val diff = pairs.select(
      SimilarityOps.dot(col("a"), col("b")).as("cg"),
      RetainedForms.dotHof(col("a"), col("b")).as("hof"))
      .filter(col("cg") =!= col("hof")) // exact double equality
      .count()
    assert(diff == 0)
    val ndiff = e.select(
      SimilarityOps.l2norm(col("embedding")).as("cg"),
      RetainedForms.l2normHof(col("embedding")).as("hof"))
      .filter(col("cg") =!= col("hof"))
      .count()
    assert(ndiff == 0)
    val ldiff = pairs.select(
      SimilarityOps.l2sq(col("a"), col("b")).as("cg"),
      RetainedForms.l2sqHof(col("a"), col("b")).as("hof"))
      .filter(col("cg") =!= col("hof"))
      .count()
    assert(ldiff == 0)
  }

  test("kernels survive whole-stage codegen (non-fallback plan) and null inputs") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1f, 2f)), Some(Array(3f, 4f))),
      (None, Some(Array(1f, 1f)))).toDF("a", "b")
    val out = df.select(call_function("float_dot", col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0))
  }

  test("ragged (unequal-length) arrays yield NULL, matching the HOF zip_with form") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 1f)),
      (Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
    val rows = df.select(
      call_function("float_dot", col("a"), col("b")).as("cg"),
      RetainedForms.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1)) // both NULL on ragged
    assert(rows(1).getDouble(0) == 11.0 && rows(1).getDouble(1) == 11.0)
  }

  test("null ELEMENTS yield NULL in all three kernels, matching the HOF null propagation") {
    // The HOF forms return NULL when any element is null (the null
    // propagates through the `+` fold), so the kernels must too —
    // otherwise the KernelFusionRule rewrite would silently change
    // results on null-holed arrays (round-4 ADVICE finding).
    import spark.implicits._
    val df = Seq(
      (Array[java.lang.Float](1f, null, 3f), Array[java.lang.Float](1f, 1f, 1f)),
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f, 4f)))
      .toDF("a", "b")
    val rows = df.select(
      call_function("float_dot", col("a"), col("b")).as("dot"),
      call_function("float_l2sq", col("a"), col("b")).as("l2sq"),
      call_function("float_norm", col("a")).as("norm"),
      RetainedForms.dotHof(col("a"), col("b")).as("dot_hof"),
      RetainedForms.l2sqHof(col("a"), col("b")).as("l2sq_hof"),
      RetainedForms.l2normHof(col("a")).as("norm_hof")).collect()
    for (i <- 0 until 6) assert(rows(0).isNullAt(i), s"col $i should be NULL on a null element")
    assert(rows(1).getDouble(0) == 11.0 && rows(1).getDouble(3) == 11.0)
    assert(rows(1).getDouble(1) == 8.0 && rows(1).getDouble(4) == 8.0)
    assert(!rows(1).isNullAt(2) && rows(1).getDouble(2) == rows(1).getDouble(5))
  }
}
