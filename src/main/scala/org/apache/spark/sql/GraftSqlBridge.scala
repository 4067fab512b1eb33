package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Column ⇄ catalyst Expression bridge. Spark 4 removed the public
  * `new Column(expr)` constructor; the supported conversion lives in
  * `classic.ExpressionUtils`, which is `private[sql]` — so this one-file
  * shim sits inside the package, the same pattern Spark-extension
  * libraries use to surface custom Catalyst expressions as Columns.
  * [[internalDataFrame]] likewise surfaces the `private[sql]`
  * `InternalRow` frame constructor for typed `mapPartitions` kernels,
  * [[asNullable]] the `private[spark]` schema relaxation that file
  * sources apply to every schema they read, and [[withExecution]] the
  * SQL-execution scope a Dataset action runs its jobs in.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                        schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
  def asNullable(schema: StructType): StructType = schema.asNullable
  /** `body` as one SQL execution of `df`'s query, as a Dataset action
    * runs: the jobs it starts carry the session's job tags and artifact
    * state, so their tasks load generated classes through the session's
    * executor class loader.
    */
  def withExecution[T](df: DataFrame, name: String)(body: => T): T =
    execution.SQLExecution.withNewExecutionId(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution, Some(name))(body)
}
