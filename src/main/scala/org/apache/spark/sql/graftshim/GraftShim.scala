package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 made Column a ColumnNode wrapper; the converters
  * live in `org.apache.spark.sql.classic.ExpressionUtils` as private[sql],
  * so this one-file subpackage re-exports exactly the two needed — plus
  * the package-private listener bus's drain, so a listener's counters are
  * read only after every event posted so far has been delivered. */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
