package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`, Spark 4.x). Lives
  * under `org.apache.spark.sql` solely to satisfy the package-private
  * access; the rest of the engine goes through this one object.
  */
object ColumnShim {
  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw logical plan (private[sql]
    * `Dataset.ofRows`) — the entry point for custom logical nodes
    * like graft.plans.AsOfJoin.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Build a batch DataFrame from raw InternalRows (private[sql]
    * `internalCreateDataFrame`) — the standard Sink.addBatch bridge:
    * a streaming-tagged micro-batch frame cannot be re-planned for a
    * batch write, but its executed rows can be re-wrapped.
    */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean = false)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming)

  /** Re-declare the physical layout of a checkpointed frame.
    *
    * Under AQE, `repartition(n, col).localCheckpoint()` produces a
    * LogicalRDD advertising `UnknownPartitioning` — the adaptive
    * plan's pre-execution outputPartitioning is unknown, so the
    * checkpoint cannot carry the layout forward and every downstream
    * join/groupBy on the key re-exchanges data that is ALREADY
    * hash-placed. When the caller has GUARANTEED the layout
    * (`repartition(n, col)` is REPARTITION_BY_NUM: AQE never
    * coalesces it, so the materialized RDD is exactly
    * HashPartitioning(key, n)), this stamps that fact onto the
    * LogicalRDD — the same thing `Dataset.checkpoint` does when AQE
    * is off. No-op if the frame is not a direct LogicalRDD or the
    * key is absent. UNSOUND if the declared layout is not the true
    * one — only call it right after the guaranteeing repartition.
    */
  def withDeclaredHashPartitioning(df: org.apache.spark.sql.DataFrame,
      key: String, numPartitions: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.output.find(_.name == key) match {
          case Some(attr) => ofRows(df.sparkSession,
            LogicalRDD(lr.output, lr.rdd,
              HashPartitioning(Seq(attr), numPartitions),
              Nil, lr.isStreaming, lr.stream)(
              df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
          case None => df
        }
      case _ => df
    }
  }

  /** Drain the context's listener bus (private[spark]) — event
    * delivery is async, so a listener-based counter (graft.Dev's
    * jobs command) must flush before reading its totals.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a function on an EXISTING session's registry (the
    * extensions path only applies when a brand-new session is built).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
