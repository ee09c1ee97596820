package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}

/** Bridge into `private[sql]` plan construction and error builders — the
  * standard extension shim (a library-owned file in the
  * `org.apache.spark.sql` package). Used by graft.plans (IntervalJoin's
  * DataFrame, GraftExtensions' argument-count errors) and graft.tensor
  * (tensor_explode's `element_at` errors) and graft.api (EventReader's
  * key sets); no Spark internals are modified.
  */
object GraftSql {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own WRONG_NUM_ARGS analysis error for function `name`. */
  def wrongNumArgsError(name: String, expected: Seq[Any], actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, expected, actual)

  /** The INVALID_ARRAY_INDEX_IN_ELEMENT_AT error ANSI `element_at` raises. */
  def elementAtIndexError(index: Int, numElements: Int): Throwable =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)

  /** `c IN values` as `InSet` at any size: generated code reads the set by
    * reference, not inlined; parquet gets `In`. Values internal, `c`'s type. */
  def inSet(c: Column, values: Set[Any]): Column =
    classic.ExpressionUtils.column(InSet(classic.ExpressionUtils.expression(c), values))
}
