package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Catalyst Expression converters
  * (Spark 4.x moved `Column.expr` / `new Column(expr)` behind
  * `org.apache.spark.sql.classic.ExpressionUtils`). Lives in the
  * `org.apache.spark.sql` package solely to satisfy the access modifier; the
  * rest of the engine uses only these two calls.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a Catalyst expression (the lazy
    * `ColumnNodeExpression` wrapper from `expression` is not resolved by
    * generic analyzer rules inside custom logical nodes). */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field (nested ones too) nullable — what a file
    * source reports for the data schema it read. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** True iff this dataset's (normalized) plan already has a CacheManager
    * entry. Plan-builder persists check this before `persist()` so that
    * building the same operator twice over the same input reuses the
    * existing entry instead of re-registering it (the "Asked to cache
    * already cached data" warning). */
  def isCached(df: Dataset[_]): Boolean =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]]).isDefined
}
