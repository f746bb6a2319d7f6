package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to `private[sql]` constructors so graft can expose
  * custom Catalyst expressions as public `Column`s — the supported
  * extension seam in Spark 4 (`classic.ExpressionUtils`).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  def analyzedPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def addStrategy(spark: SparkSession,
      strategy: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Block until the async listener bus has delivered every queued
    * event (private[spark] in core): a harness reading accumulated
    * SparkListener metrics immediately after an action races the bus —
    * the final stage's completion event may still be queued. A stopped
    * context's bus was drained by `stop()`; a bus that never empties
    * within the timeout is reported, not thrown, since the caller is
    * only reading metrics.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMs: Long = 30000L): Unit =
    if (!sc.isStopped) {
      try sc.listenerBus.waitUntilEmpty(timeoutMs)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[metrics] WARNING: listener bus not drained " +
          s"in $timeoutMs ms; stage metrics read now may be incomplete")
      }
    }

  /** The checkpointed InternalRow RDD behind a `Dataset.checkpoint` /
    * `localCheckpoint` result (its plan is a single `LogicalRDD`) — the
    * handle an iterative operator needs to UNPERSIST a superseded
    * round's blocks. Dataset-level checkpoints store compact UnsafeRows
    * and preserve output partitioning in the LogicalRDD, unlike the
    * `df.rdd`-based pin (boxed external Rows, partitioning erased).
    */
  def checkpointedRdd(df: Dataset[_]): org.apache.spark.rdd.RDD[_] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd
      case p => throw new IllegalStateException(
        s"not a checkpointed Dataset (plan root ${p.getClass.getSimpleName})")
    }
}
