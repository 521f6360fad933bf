package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed bridge to the `private[sql]` Column ⇄ Expression
  * converters (the classic path every registered function goes
  * through). Needed for expressions that carry non-Expression state —
  * [[graft.expressions.BlocklistHits]] holds a Broadcast handle, which
  * the string-based function registry cannot route. Standard Spark
  * extension-library idiom; no behavior added.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
