package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge for custom Catalyst expressions, and the
  * Catalyst-form row access of the loader.
  * Spark 4 made these conversions `private[sql]`; extension libraries
  * host a shim inside the package namespace (the same technique Spark
  * connector packages use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER conversion to a catalyst expression tree (possibly with
    * unresolved function nodes for the analyzer to resolve).
    * [[expression]] returns a lazy `ColumnNodeExpression` wrapper that
    * only the Dataset API's own conversion pass unwraps — returned
    * from a `SparkSessionExtensions.injectFunction` builder it reaches
    * codegen unresolved and fails; this form converts immediately.
    */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The rows of `df` as Catalyst rows, each copied: one SQL action
    * named `collect` over `df`'s own `QueryExecution`, run as
    * `Dataset.collect` runs it but with no conversion to `Row`s. A frame
    * collected before is not analyzed, optimized or planned again, and
    * its finished broadcasts are reused.
    */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      QueryExecution.withInternalError("""The "collect" action failed.""") {
        qe.executedPlan.resetMetrics()
        qe.executedPlan.executeCollect().map(_.copy())
      }
    }
  }

  /** A frame whose plan holds `rows`, Catalyst rows of `schema`: a
    * `LocalRelation`, with no conversion of a row.
    */
  def localFrame(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A one-partition frame that scans `rows`, Catalyst rows of `schema`,
    * in a task, as `createDataFrame` over an RDD of them would.
    */
  def scanFrame(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
}
