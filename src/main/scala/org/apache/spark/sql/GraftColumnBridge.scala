package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Column↔Expression converters — the standard
  * pattern for libraries that define native Catalyst expressions (Spark 4's
  * `classic.ExpressionUtils` is `private[sql]`). Graft touches Spark
  * internals only through this bridge and
  * [[org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge]]
  * (driver-side parquet schema inference).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
