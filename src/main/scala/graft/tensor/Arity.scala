package graft.tensor

import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.expressions.Expression

/** Argument-count check shared by every SQL function builder of the
  * engine's kernels, so a wrong call is Spark's WRONG_NUM_ARGS analysis
  * error naming the function rather than an IndexOutOfBoundsException
  * or a silently dropped argument.
  */
object Arity {
  def checked(name: String, minArgs: Int, maxArgs: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs =>
      if (exprs.length >= minArgs && exprs.length <= maxArgs) build(exprs)
      else throw GraftSql.wrongNumArgsError(name,
        if (minArgs == maxArgs) Seq(minArgs) else Seq(s">= $minArgs"), exprs.length)
}
