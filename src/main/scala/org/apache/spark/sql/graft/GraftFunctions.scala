package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for graft's native expressions (classic
  * backend; `private[sql]` surface, hence the package). The SQL names
  * (`graft_poly_hash`, …) are registered once, by [[graft.GraftExtensions]].
  */
object GraftFunctions {

  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
