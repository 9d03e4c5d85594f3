package org.apache.spark.sql.classic

import org.apache.spark.sql.{Column, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryCompilationErrors

/**
 * Bridge into Spark's package-private Column<->Expression conversion
 * (`org.apache.spark.sql.classic.ExpressionUtils` is `private[sql]` in
 * Spark 4.x) and session function registry. The standard pattern for
 * libraries that define native Catalyst expressions and expose them as
 * `Column`s and SQL functions.
 */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Registers `name` for SQL as a builder of the expression `build`
    * makes from its two arguments; any other argument count fails
    * analysis. */
  def registerBinary(spark: ApiSession, name: String)(
      build: (Expression, Expression) => Expression): Unit =
    spark.asInstanceOf[SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, {
        case Seq(a, b) => build(a, b)
        case args => throw QueryCompilationErrors.wrongNumArgsError(name, Seq(2), args.length)
      }, "scala_udf")
}
