package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for third-party Catalyst expressions, and
  * the session UUID. `ExpressionUtils` and `sessionUUID` are private[sql]
  * in Spark 4; this is the standard extension-package technique for
  * exposing a custom Expression as a user-facing Column. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's UUID, new for every session (`newSession` included). */
  def sessionUUID(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID
}
