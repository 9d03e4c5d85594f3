package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

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

  /** A frame over binary rows that already have `schema`'s layout. */
  def dataFrame(spark: ApiSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rows, schema)

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
