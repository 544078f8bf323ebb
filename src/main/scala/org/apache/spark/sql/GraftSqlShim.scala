package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The two `private[sql]` entry points graft needs, and nothing else:
  * Column <-> Expression conversion (Spark 4 moved Column onto
  * ColumnNodes; `classic.ExpressionUtils` is the sanctioned converter but
  * is sql-package-private) and a test hook for extension check rules.
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Test hook: run an extensions object's injected check rules against a
    * session (what session construction does with
    * `spark.sql.extensions`), so extension behavior is testable inside a
    * shared-session suite.
    */
  def applyCheckRules(ext: SparkSessionExtensions, session: SparkSession): Unit = {
    val plan = session.range(1).queryExecution.logical
    ext.buildCheckRules(session).foreach(rule => rule(plan))
  }
}
