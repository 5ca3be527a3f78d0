package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge to `private[sql]` Column↔Expression conversion for
  * graft's native expressions (Spark 4 wraps Column around ColumnNode;
  * the classic converter lives behind package-private API).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply collected extension injections to an ALREADY-RUNNING session
    * (tests share one session; `spark.sql.extensions` only applies at
    * session build).
    */
  def registerFunctions(ext: SparkSessionExtensions, session: SparkSession): Unit =
    ext.registerFunctions(session.sessionState.functionRegistry)

  /** Run `body` on `exec` with the CALLER's Spark thread context — its
    * local properties (job description, job group, scheduler pool, SQL
    * execution id) and active session — the way Spark runs its own
    * broadcast and subquery work off-thread.
    */
  def withThreadLocalCaptured[T](session: SparkSession,
      exec: java.util.concurrent.ExecutorService)(
      body: => T): java.util.concurrent.CompletableFuture[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      session.asInstanceOf[classic.SparkSession], exec)(body)
}
