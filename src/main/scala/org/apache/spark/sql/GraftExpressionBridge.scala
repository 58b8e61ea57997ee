package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into the `private[sql]` Column ⇄ Expression converters, so graft's
 * native Catalyst expressions (e.g. [[graft.expressions.LevenshteinBounded]]) can be
 * used as ordinary `Column`s from the public DataFrame API. Placing a tiny
 * adapter inside `org.apache.spark.sql` is the standard technique for
 * libraries that contribute custom expressions without a session extension.
 */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a native expression as a session-scoped SQL function, so
    * `spark.sql("SELECT graft_levenshtein(a, b, 2) ...")` works on an EXISTING
    * session (config-time injection via SparkSessionExtensions requires the
    * session not to exist yet). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
}
