package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Single `private[sql]` access shim (the standard extension-library
  * pattern): construct a DataFrame from an analyzed LogicalPlan —
  * needed by [[graft.catalog.GraftMergeCommand]] to hand the MERGE
  * source query to the store's merge API. Nothing else in the repo
  * lives outside the `graft` namespace.
  */
object GraftSqlShims {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** The inverse direction: the analyzed LogicalPlan under a DataFrame
    * — lets the `table_changes` TVF hand an API-built feed back to the
    * analyzer as the function's expansion.
    */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Column ↔ Expression bridge for natively-built expressions used
    * from the Scala DataFrame API (the SQL-registration route needs a
    * session extension + string-encodable arguments; operators whose
    * argument is a structured Scala value — e.g. a trained vocabulary
    * — construct the expression directly instead).
    */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** `schema` with every field nullable at every depth — what a file
    * source reads under ([[graft.store.StoreFileIndex.read]]), as
    * `DataFrameReader` does.
    */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
