package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 unified the Column API over ColumnNode and made the classic
  * Expression conversions `private[sql]`; extension libraries shipping
  * native expressions need exactly these two conversions, so we surface
  * them from an `org.apache.spark.sql` subpackage (the standard pattern
  * for Spark-native extension libraries).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst→Scala converter for one data type (UTF8String → String,
    * InternalRow → Row, …) — the per-field piece of the `.rdd`
    * deserializer, exposed so partition-local sink loops over
    * `queryExecution.toRdd` can convert ONLY the rows and fields they
    * actually hand to an external writer. */
  def toScalaConverter(dt: org.apache.spark.sql.types.DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(dt)

  /** A new DataFrame over `df`'s analyzed plan, with a QueryExecution of
    * its own: the analyzer returns the already-analyzed plan at once,
    * while the optimizer, the planner and AQE run again for each action
    * of the new frame, as for any freshly built one (a second action on
    * `df` itself would reuse its executed plan and shuffle outputs). */
  def withNewExecution(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** Apply an extensions installer's injected FUNCTIONS to an already
    * running session (the standard `withExtensions` route only works at
    * session build time; tests and notebooks attach to live sessions). */
  def registerExtensionFunctions(
      spark: SparkSession, install: SparkSessionExtensions => Unit): Unit = {
    val ext = new SparkSessionExtensions
    install(ext)
    ext.registerFunctions(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry)
  }
}
