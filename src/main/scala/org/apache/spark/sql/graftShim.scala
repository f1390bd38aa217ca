package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors

/**
 * Column <-> Expression bridge for the graft engine. Spark 4 made the
 * Column/Expression conversion (`org.apache.spark.sql.classic
 * .ExpressionUtils`) and the analysis errors private[sql]; third-party
 * expression libraries expose them through a shim in this package — the standard pattern for
 * Catalyst extensions built on the public Spark source.
 */
object graftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Spark's WRONG_NUM_ARGS analysis error for a SQL function call. */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
}
