package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's Column ↔ catalyst Expression conversion, which is
  * `private[sql]` in Spark 4 (columnNodeSupport.scala). Needed to expose
  * graft's native codegen kernels (StaticInvoke expressions) as public
  * `Column`s — the same mechanism Spark's own internal function helpers
  * use; no behavior is modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A Column as an Expression. A literal is converted now rather than
    * when the Column is analyzed, so an expression builder that
    * dispatches on literal arguments (VeloExprs: STRUCT field names)
    * sees the same Literal through the Column API as through SQL; every
    * other node converts lazily. */
  def expression(c: Column): Expression = c.node match {
    case l: internal.Literal => classic.ColumnNodeToExpressionConverter(l)
    case _ => classic.ExpressionUtils.expression(c)
  }

  /** `SparkSession.cloneSession()` (private[sql]): a session with a
    * COPIED temp-view catalog over the same SparkContext/SharedState.
    * Used by SqlValidator so placeholder views registered during app
    * validation are invisible to concurrent queries on the original
    * session — `newSession()` would not do (it starts with an EMPTY
    * temp-view catalog, so statements reading live temp views would
    * spuriously fail validation). */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
