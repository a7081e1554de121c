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

  /** Persist `df` in the partitions an uncached read of it has. Spark
    * plans a cached query with AQE's final-stage shuffle coalescing off
    * unless [[internal.SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING]]
    * is set on the session that caches it, so a small frame would be
    * cached in more partitions than it is read in. The setting goes on a
    * clone of the frame's session (`cloneSession` is private[sql]), which
    * shares the cache but not the conf: `df` reads the cached relation,
    * and no other query on the caller's session sees the setting.
    * Unpersist through `df`.
    */
  def persistAsRead(df: DataFrame): Unit = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    session.conf.set(internal.SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING.key, "true")
    classic.Dataset.ofRows(session, df.queryExecution.analyzed).persist()
    ()
  }
}
