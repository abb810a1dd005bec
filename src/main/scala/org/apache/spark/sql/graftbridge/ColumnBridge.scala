package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils). Spark 4 removed
  * `Column.expr` from the public API when the Column type was decoupled
  * for Connect; a library adding native Catalyst expressions (here:
  * graft.catalyst) still needs the classic conversion, and placing this
  * shim inside the org.apache.spark.sql package tree is the standard
  * ecosystem pattern for it. Keep this package the ONLY engine code
  * under org.apache.spark.* ([[ExecBridge]] is its other file).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
