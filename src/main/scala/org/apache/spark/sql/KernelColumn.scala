package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** `classic.ExpressionUtils`' Column <-> Expression conversions are
  * `private[sql]`; this object is the one door graft opens to them. The
  * `graft.functions` kernels build their Columns here straight from their
  * Catalyst expressions, so a Column carries its own parameters and
  * broadcasts, and nothing is written to the session's function registry. */
object KernelColumn {
  /** The Column that evaluates `e`. */
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `c` as an Expression, to be a kernel expression's child. */
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
