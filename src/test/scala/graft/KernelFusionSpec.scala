package graft

import graft.plans.KernelFusionRule
import graft.tensor.{FloatDot, FloatL2Sq, FloatNorm}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KernelFusionSpec extends AnyFunSuite with SparkSuite {

  test("rule rewrites HOF dot/norm patterns into the codegen kernels") {
    val e = Tables(spark, sf, "embeddings")
    val df = e.select(
      RetainedForms.dotHof(col("embedding"), col("embedding")).as("d"),
      RetainedForms.l2normHof(col("embedding")).as("n"))
    val before = df.queryExecution.analyzed
    assert(!before.expressions.exists(_.exists(_.isInstanceOf[FloatDot])))
    val after = KernelFusionRule(before)
    assert(after.expressions.exists(_.exists(_.isInstanceOf[FloatDot])))
    assert(after.expressions.exists(_.exists(_.isInstanceOf[FloatNorm])))
  }

  test("rule rewrites the HOF squared-L2 pattern into FloatL2Sq, results unchanged") {
    val e = Tables(spark, sf, "embeddings")
    val df = e.select(col("vec_id"),
      RetainedForms.l2sqHof(col("embedding"), reverse(col("embedding"))).as("d"))
    val before = df.queryExecution.analyzed
    assert(!before.expressions.exists(_.exists(_.isInstanceOf[FloatL2Sq])))
    val after = KernelFusionRule(before)
    assert(after.expressions.exists(_.exists(_.isInstanceOf[FloatL2Sq])))
    // and the rewrite is bit-preserving end-to-end: the session rule
    // (GraftExtensions) fuses the collect below, so compare against a
    // Scala-side left-to-right fold — the independent ground truth
    val fused = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = e.select(col("vec_id"), col("embedding")).collect().map { r =>
      val a = r.getSeq[Float](1)
      val b = a.reverse
      r.getLong(0) -> a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        val d = x.toDouble - y.toDouble; s + d * d
      }
    }.toMap
    assert(fused == want) // bit-identical
  }

  test("rule rewrites the LSH agreement HOF into LongAgreeCount, results unchanged") {
    import spark.implicits._
    val sigs = Seq(
      (1L, Seq(3L, 5L, 7L, 9L), Seq(3L, 5L, 8L, 9L)),   // 3 agree
      (2L, Seq(1L, 2L), Seq(1L, 2L, 3L)),               // ragged: prefix, 2 agree
      (3L, Seq.empty[Long], Seq.empty[Long]))           // empty: 0
      .toDF("id", "siga", "sigb")
    val hof = "aggregate(zip_with(siga, sigb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    val df = sigs.select(col("id"), expr(hof).as("n_agree"))
    val before = df.queryExecution.analyzed
    assert(!before.expressions.exists(_.exists(
      _.isInstanceOf[graft.tensor.LongAgreeCount])))
    val after = KernelFusionRule(before)
    assert(after.expressions.exists(_.exists(
      _.isInstanceOf[graft.tensor.LongAgreeCount])),
      s"agreement HOF did not fuse:\n$after")
    // session-fused end-to-end values match the HOF contract exactly
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 2, 3L -> 0), s"unexpected: $got")
  }

  test("fused session plans produce identical results") {
    // GraftExtensions injects KernelFusionRule session-wide, so the HOF
    // form plans straight into the kernel…
    val e = Tables(spark, sf, "embeddings")
    val df = e.select(col("vec_id"),
      RetainedForms.dotHof(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("floatdot") || plan.contains("float_dot"), plan)
    // …and the kernel's fold is bit-identical to an independent
    // left-to-right Scala fold of the same arrays
    val fused = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = e.select(col("vec_id"), col("embedding")).collect().map { r =>
      val a = r.getSeq[Float](1)
      r.getLong(0) -> a.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble)
    }.toMap
    assert(fused == want) // bit-identical
  }

  test("GraftExtensions injection applies cleanly to a fresh extensions context") {
    // getOrCreate reuses the shared session, so exercise the extension
    // object directly against the injection API (throws on bad wiring).
    val captured = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(captured)
  }

  test("injected kernels reject a wrong argument count with an error naming the function") {
    val calls = Seq(
      "float_dot" -> "float_dot(array(1f))",
      "float_dot" -> "float_dot(array(1f), array(1f), array(1f))",
      "float_norm" -> "float_norm(array(1f), array(1f))",
      "float_l2sq" -> "float_l2sq(array(1f))",
      "sig_agree" -> "sig_agree(array(1L))",
      "tensor_reshape" -> "tensor_reshape(array(1f, 2f), 2, 3)",
      "tensor_reshape" -> "tensor_reshape(array(1f))",
      "tensor_explode" -> "tensor_explode(array(1f))",
      "voxel_components" -> "voxel_components(array(0L, 0L, 0L), array(1L, 3L))")
    calls.foreach { case (name, call) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $call").collect())
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS") && e.getMessage.contains(name), s"$call: ${e.getMessage}")
    }
    // the variadic tail still accepts any number of aligned arrays
    assert(spark.sql("SELECT tensor_explode(array(1f, 2f), array(2L), array(7L, 8L), array('a', 'b'))")
      .collect().map(_.toSeq.drop(2)).toSeq == Seq(Seq(7L, "a"), Seq(8L, "b")))
  }
}
