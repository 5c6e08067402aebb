package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Expression↔Column conversions.
  *
  * Spark 4 routes Column through ColumnNode; the supported conversion
  * helpers live in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is package-private. Extensions that define native Catalyst
  * expressions conventionally expose them via a shim in the sql package
  * namespace — this object is that shim. Such shims (this one,
  * [[PlanBridge]] and the parquet package's `FooterSchema`) are the only
  * graft code living outside the `graft` package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
