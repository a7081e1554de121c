package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to lift custom Catalyst Expressions into the Spark 4 Column API
  * (Column wraps a ColumnNode since 4.0; the classic converter is
  * private[sql]). Used by graft.functions' native expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply a SparkSessionExtensions' injected functions to a fresh
    * registry and list them — lets tests assert the
    * `spark.sql.extensions` deployment path registers exactly the graft
    * function table without building a second SparkSession
    * (`registerFunctions` is private[sql]).
    */
  def materializeFunctions(
      ext: SparkSessionExtensions): Seq[catalyst.FunctionIdentifier] = {
    val reg = new catalyst.analysis.SimpleFunctionRegistry()
    ext.registerFunctions(reg)
    reg.listFunction()
  }
}
