package graft.tensor

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector kernels over `array<float>` cells — the hot path of
  * every similarity/ANN operator. The interpreted higher-order-function
  * form (`aggregate(zip_with(...))`) allocates a lambda frame per element;
  * these expressions generate a tight primitive loop inside whole-stage
  * codegen instead.
  *
  * Arithmetic contract (must not drift): left-to-right fold of
  * `(double)a[i] * (double)b[i]` — bit-identical to the HOF form and to
  * DuckDB's `list_sum(list_transform(...))`, so oracle parity is
  * preserved (see SimilarityOps).
  */
case class FloatDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Null contract matches the HOF form `aggregate(zip_with(a, b, *), 0d, +)`
  // exactly: unequal-length inputs yield NULL (zip_with pads the shorter
  // array with nulls, which propagate through the sum), and a null ELEMENT
  // anywhere yields NULL (the null propagates through `+`), so the
  // KernelFusionRule rewrite is result-preserving on ragged and
  // null-holed data alike. The element guard is only emitted when the
  // static type says elements can be null — containsNull=false inputs
  // keep the branch-free loop.
  override def nullable: Boolean = true

  private def elemsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"float_dot requires (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val checkNulls = elemsNullable
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullGuard = if (elemsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sig_agree(a, b)` — number of positions where two `array<bigint>`
  * minhash signatures agree: the inner loop of every LSH verdict tier
  * (dd2 rep pairs, dd9/dd13 candidate scoring, the dedup stream), where
  * the interpreted HOF form
  * `aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, +)` pays a
  * boxed lambda frame and a fresh 32-element array PER CANDIDATE PAIR —
  * millions of pairs per run once a corpus's duplicate families fill
  * their LSH buckets (measured: 16M scored pairs at sf1.0, COVERAGE.md
  * §dd13).
  *
  * Null/length contract is bit-identical to that HOF: a NULL array
  * yields NULL; unequal lengths count agreement over the common prefix
  * (zip_with pads the shorter side with nulls, `x = y` on a null is
  * null, and `IF` sends null conditions to the 0 branch); a null
  * ELEMENT on either side contributes 0 the same way. The element
  * guard is only emitted for containsNull=true inputs.
  */
case class LongAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = left.nullable || right.nullable

  private def elemsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"sig_agree requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = elemsNullable
    var acc = 0
    var i = 0
    while (i < n) {
      if (!(checkNulls && (x.isNullAt(i) || y.isNullAt(i))) &&
        x.getLong(i) == y.getLong(i)) acc += 1
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullGuard = if (elemsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) continue;"
      else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  if ($a.getLong($i) == $b.getLong($i)) $acc++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `float_norm(a)` — L2 norm with the same fold contract (a null element
  * yields NULL, matching `sqrt(aggregate(transform(a, x -> x*x), 0d, +))`
  * where the null propagates through the sum; guard emitted only for
  * containsNull=true inputs).
  */
case class FloatNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def elemsNullable: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"float_norm requires array<float>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val checkNulls = elemsNullable
    var acc = 0.0
    var i = 0
    while (i < x.numElements()) {
      if (checkNulls && x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble; acc += v * v; i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      val nullGuard = if (elemsNullable)
        s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  $nullGuard
         |  double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($acc); }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `float_l2sq(a, b)` — squared Euclidean distance, same fold contract:
  * left-to-right sum of `((double)a[i] - (double)b[i])²`. Null on
  * unequal lengths and on any null element (the zip_with contract, as
  * FloatDot; guard emitted only for containsNull=true inputs). The kernel
  * under every product-quantization encode/ADC step (nn5).
  */
case class FloatL2Sq(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def elemsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"float_l2sq requires (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val checkNulls = elemsNullable
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullGuard = if (elemsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorFunctions {
  /** `float_dot` / `float_norm` / `float_l2sq` as (name, expression
    * class, builder), each builder argument-count checked.
    * [[graft.plans.GraftExtensions]] injects them into every session it
    * extends.
    */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("float_dot", classOf[FloatDot], Arity.checked("float_dot", 2, 2)(a => FloatDot(a(0), a(1)))),
    ("float_norm", classOf[FloatNorm], Arity.checked("float_norm", 1, 1)(a => FloatNorm(a(0)))),
    ("float_l2sq", classOf[FloatL2Sq], Arity.checked("float_l2sq", 2, 2)(a => FloatL2Sq(a(0), a(1)))))

  /** Register the same functions as temporary functions, for a session
    * built without GraftExtensions; idempotent. Sessions from
    * [[graft.Session]] need no call. perfbench's kernel micro-bench
    * (`perfbench/src/perfbench/Kernels.scala`) still calls it.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
}
