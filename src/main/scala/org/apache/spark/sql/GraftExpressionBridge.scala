package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * native Catalyst expressions (see graft.expressions) can be exposed as
  * ordinary `Column`s. This is the standard pattern for libraries that ship
  * custom codegen expressions against the classic Spark backend.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the `Dataset.ofRows`
    * entry point is `private[sql]`; graft's custom logical operators (see
    * graft.plans.TopKPerKey) need it to hand plans back to users as
    * ordinary DataFrames.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of rows whose total size is known. Unlike a
    * `LocalRelation`, the plan holds the RDD, not the rows, so analysis and
    * optimization do not copy them; the planner still sees `sizeInBytes`
    * when it picks a join strategy.
    */
  def ofRdd(spark: SparkSession,
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      sizeInBytes: BigInt): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, org.apache.spark.sql.execution.LogicalRDD(output, rdd)(
      session, Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes))))
  }

  /** True iff a planner strategy of class `cls` is registered in this
    * session (i.e. the session was built `.withExtensions(GraftExtensions)`
    * or with the `spark.sql.extensions` conf). Custom-operator APIs use
    * this to fall back to an equivalent builtin composition on vanilla
    * sessions, so the library never produces an unplannable logical node.
    */
  def hasStrategy(spark: SparkSession, cls: Class[_]): Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies.exists(cls.isInstance)
}
