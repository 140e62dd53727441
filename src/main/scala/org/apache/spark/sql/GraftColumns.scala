package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Public bridge to Spark's `private[sql]` Column ⇄ Catalyst conversions,
  * so `graft.expressions.Natives` can build a typed Column straight from
  * its own expression nodes, with no function registry in between. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
