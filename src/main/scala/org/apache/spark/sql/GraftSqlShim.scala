package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 made Column construction go through ColumnNode;
  * the classic converters live behind `private[sql]`, so this one-file
  * shim in the sql package is the supported-by-convention way for a
  * library to wrap its native expressions (same pattern frameworks like
  * connectors use).
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The string of a `lit(s)` column; None for any other column. */
  def stringLiteral(c: Column): Option[String] = c.node match {
    case internal.Literal(s: String, _, _) => Some(s)
    case _ => None
  }
}
