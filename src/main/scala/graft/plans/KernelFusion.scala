package graft.plans

import graft.tensor.{FloatDot, FloatL2Sq, FloatNorm, LongAgreeCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

/** Optimizer rule: rewrite the idiomatic higher-order-function dot-product
  * / norm patterns into the codegen'd [[FloatDot]]/[[FloatNorm]] kernels.
  *
  * A user writing the natural declarative form
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0d, (s, v) -> s + v)`
  * gets the tight primitive loop automatically — the engine's plans stay
  * declarative and the optimization lives in the optimizer, which is the
  * Spark-first answer to the reference's hand-vectorized NumPy kernels
  * (SURVEY.md §4 "custom Catalyst work").
  *
  * The rewrite only fires when the arithmetic is IDENTICAL to the kernel
  * contract (left-to-right `(double)a[i]*(double)b[i]` fold over
  * `array<float>` inputs), so results are bit-for-bit unchanged — including
  * on ragged inputs: FloatDot returns NULL for unequal-length arrays,
  * exactly as zip_with's null-padding propagates through the HOF sum
  * (pinned by VectorKernelSpec's ragged-array case).
  */
object KernelFusionRule extends Rule[LogicalPlan] {

  private object DoubleOf {
    /** Matches `cast(x as double)` or a double-typed lambda var. */
    def unapply(e: Expression): Option[NamedLambdaVariable] = e match {
      case Cast(v: NamedLambdaVariable, DoubleType, _, _) => Some(v)
      case v: NamedLambdaVariable if v.dataType == DoubleType => Some(v)
      case _ => None
    }
  }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private object SumFold {
    /** Matches `(acc, v) -> acc + v` over the zero literal 0.0. */
    def unapply(agg: ArrayAggregate): Option[Expression] = agg match {
      case ArrayAggregate(input,
          Literal(0.0, DoubleType),
          LambdaFunction(Add(a: NamedLambdaVariable, b: NamedLambdaVariable, _), Seq(a2, b2), _),
          LambdaFunction(f: NamedLambdaVariable, Seq(f2), _))
        if a.exprId == a2.asInstanceOf[NamedLambdaVariable].exprId &&
          b.exprId == b2.asInstanceOf[NamedLambdaVariable].exprId &&
          f.exprId == f2.asInstanceOf[NamedLambdaVariable].exprId =>
        Some(input)
      case _ => None
    }
  }

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private object IntSumFold {
    /** Matches `(acc, v) -> acc + v` over the zero literal 0 (int). */
    def unapply(agg: ArrayAggregate): Option[Expression] = agg match {
      case ArrayAggregate(input,
          Literal(0, IntegerType),
          LambdaFunction(Add(a: NamedLambdaVariable, b: NamedLambdaVariable, _), Seq(a2, b2), _),
          LambdaFunction(f: NamedLambdaVariable, Seq(f2), _))
        if a.exprId == a2.asInstanceOf[NamedLambdaVariable].exprId &&
          b.exprId == b2.asInstanceOf[NamedLambdaVariable].exprId &&
          f.exprId == f2.asInstanceOf[NamedLambdaVariable].exprId =>
        Some(input)
      case _ => None
    }
  }

  private def rewrite(e: Expression): Expression = e.transformUp {
    // aggregate(zip_with(a, b, (x,y) -> IF(x = y, 1, 0)), 0, +)
    //   → sig_agree(a, b) — the LSH agreement inner loop (dd2/dd9/dd13
    //     and the dedup stream), scored per CANDIDATE PAIR so the boxed
    //     HOF frame is a millions-of-times-per-run cost
    case IntSumFold(ZipWith(l, r, LambdaFunction(
        If(EqualTo(x: NamedLambdaVariable, y: NamedLambdaVariable),
          Literal(1, IntegerType), Literal(0, IntegerType)), Seq(xv, yv), _)))
      if isLongArray(l) && isLongArray(r) &&
        x.exprId == xv.asInstanceOf[NamedLambdaVariable].exprId &&
        y.exprId == yv.asInstanceOf[NamedLambdaVariable].exprId =>
      LongAgreeCount(l, r)
    // aggregate(zip_with(a, b, (x,y) -> dx * dy), 0.0, +) → float_dot(a, b)
    case agg @ SumFold(ZipWith(l, r,
        LambdaFunction(Multiply(DoubleOf(x), DoubleOf(y), _), Seq(x2, y2), _)))
      if isFloatArray(l) && isFloatArray(r) &&
        x.exprId == x2.asInstanceOf[NamedLambdaVariable].exprId &&
        y.exprId == y2.asInstanceOf[NamedLambdaVariable].exprId =>
      FloatDot(l, r)

    // sqrt(aggregate(transform(a, x -> dx * dx), 0.0, +)) → float_norm(a)
    case Sqrt(SumFold(ArrayTransform(a,
        LambdaFunction(Multiply(DoubleOf(x), DoubleOf(y), _), Seq(v), _))))
      if isFloatArray(a) &&
        x.exprId == v.asInstanceOf[NamedLambdaVariable].exprId &&
        y.exprId == v.asInstanceOf[NamedLambdaVariable].exprId =>
      FloatNorm(a)

    // aggregate(zip_with(a, b, (x,y) -> (dx-dy)*(dx-dy)), 0.0, +)
    //   → float_l2sq(a, b)
    case agg @ SumFold(ZipWith(l, r,
        LambdaFunction(Multiply(
          Subtract(DoubleOf(x1), DoubleOf(y1), _),
          Subtract(DoubleOf(x2), DoubleOf(y2), _), _), Seq(xv, yv), _)))
      if isFloatArray(l) && isFloatArray(r) &&
        x1.exprId == x2.exprId && y1.exprId == y2.exprId &&
        x1.exprId == xv.asInstanceOf[NamedLambdaVariable].exprId &&
        y1.exprId == yv.asInstanceOf[NamedLambdaVariable].exprId =>
      FloatL2Sq(l, r)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_ => true) {
      case e => rewrite(e)
    }
}

/** Session extensions: inject the fusion rule and register the tensor /
  * vector SQL functions. Usage:
  * [[graft.Session]]`.local()`, `.withExtensions(new GraftExtensions)` on
  * any other builder, or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    e.injectOptimizerRule(_ => KernelFusionRule)
    e.injectPostHocResolutionRule(_ => MvRewriteRule)
    e.injectPlannerStrategy(_ => IntervalJoinStrategy)
    e.injectFunction((FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (exprs: Seq[Expression]) => FloatDot(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("float_norm"),
      new ExpressionInfo(classOf[FloatNorm].getName, "float_norm"),
      (exprs: Seq[Expression]) => FloatNorm(exprs.head)))
    e.injectFunction((FunctionIdentifier("float_l2sq"),
      new ExpressionInfo(classOf[FloatL2Sq].getName, "float_l2sq"),
      (exprs: Seq[Expression]) => FloatL2Sq(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("sig_agree"),
      new ExpressionInfo(classOf[LongAgreeCount].getName, "sig_agree"),
      (exprs: Seq[Expression]) => LongAgreeCount(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("tensor_explode"),
      new ExpressionInfo(classOf[graft.tensor.TensorExplode].getName, "tensor_explode"),
      (exprs: Seq[Expression]) => graft.tensor.TensorExplode(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("tensor_reshape"),
      new ExpressionInfo(classOf[graft.tensor.TensorReshape].getName, "tensor_reshape"),
      (exprs: Seq[Expression]) => graft.tensor.TensorReshape(exprs(0), exprs(1))))
  }
}
