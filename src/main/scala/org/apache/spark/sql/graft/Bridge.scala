package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the classic converters
  * `private[sql]`; custom native expressions need them to surface as
  * `Column`s, hence this one-file residence inside the sql package — the
  * standard pattern for Spark extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's own ordering of `dt`'s values, applied to their external
    * (`Row`) form — what `min`/`<` compute on the same column.
    */
  def ordering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    val internal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dt)
    Ordering.by(internal)(
      org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt))
  }

  /** Run `body` with `session` as the thread's ACTIVE session, restoring
    * the previous active session after. Needed when working on a child
    * session (`graft.OwnedSession`): several Dataset-API resolution paths read conf via
    * `SQLConf.get` = the thread-active session's conf, NOT the conf of the
    * session the DataFrame belongs to — so a child session's conf overrides
    * (e.g. `spark.sql.caseSensitive`) silently don't apply unless the child
    * is also the active session.
    */
  def withActive[T](session: org.apache.spark.sql.SparkSession)(body: => T)
  : T = {
    val classic = org.apache.spark.sql.classic.SparkSession
    val prev = classic.getActiveSession
    classic.setActiveSession(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    try body
    finally prev match {
      case Some(p) => classic.setActiveSession(p)
      case None => classic.clearActiveSession()
    }
  }

  /** Execute a (possibly hand-rewritten) LogicalPlan as a DataFrame —
    * used by rule-level tests to run a transformed plan directly.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
