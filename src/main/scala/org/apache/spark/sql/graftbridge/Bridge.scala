package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}
import org.apache.spark.sql.types.StructType

/** Column <-> Expression bridge.
  *
  * Spark 4 made `new Column(expr: Expression)` private[sql]; the sanctioned
  * ways to use a custom Catalyst Expression are SQL function registration
  * (SparkSessionExtensions) or a private[sql]-scoped shim. This package
  * lives under org.apache.spark.sql purely to host that shim — the same
  * pattern extension libraries in the Spark ecosystem use. It also hosts
  * [[mergeSchemas]], the private[sql] schema union parquet inference runs.
  */
object Bridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** `a` widened with the fields of `b`: the union parquet schema
    * merging applies footer by footer (`SchemaMergeUtils`). */
  def mergeSchemas(a: StructType, b: StructType,
      caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)

  /** Register a Catalyst expression builder as a temp SQL function on an
    * existing session (the post-hoc alternative to SparkSessionExtensions
    * .injectFunction, which only applies at session construction). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
