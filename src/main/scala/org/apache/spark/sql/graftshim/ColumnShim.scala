package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public
  * `Column` API. Spark 4 made the Expression<->Column converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so — like
  * other Spark-native libraries (Delta, Sedona, Frameless all ship classes in
  * the `org.apache.spark.sql` namespace for the same reason) — this one-file
  * shim lives inside the package to re-expose exactly the two converters.
  * Apart from [[ListenerShim]], nothing else in graft touches Spark
  * internals.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
