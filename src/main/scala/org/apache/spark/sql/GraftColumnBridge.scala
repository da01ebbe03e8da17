package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 hid the classic `Column(expr)`/`.expr` surface behind
  * `private[sql]` (`classic.ExpressionUtils`), so third-party libraries
  * that ship their own `Expression`s compile one forwarding object into
  * the `org.apache.spark.sql` package — the same pattern the public
  * Spark ecosystem uses (frameless, sedona, spark-nlp). Nothing here
  * but forwarders; all graft code lives in `graft.*`.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Forwarder for `Dataset.ofRows` (`private[sql]`): wrap an
    * already-ANALYZED logical plan as a DataFrame. The SQL row-level
    * commands hold the analyzer's resolved target/source plans and
    * re-attach them as DataFrames at run time — by-plan attachment is
    * what keeps the merge condition's `AttributeReference`s (bound by
    * exprId during analysis) resolving against the right side of the
    * join, something a by-name rebuild could not guarantee. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Forwarder for `SparkSession.internalCreateDataFrame`
    * (`private[sql]`): wrap an already-planned `InternalRow` RDD as a
    * DataFrame WITHOUT the per-row Catalyst→Scala→Catalyst round-trip
    * `createDataFrame(RDD[Row], schema)` pays. The streaming sink uses
    * it to detach a micro-batch from its incremental execution (the
    * file-sink discipline) while keeping the columnar representation;
    * the streaming SOURCE uses the `isStreaming = true` form, which is
    * how Spark's own V1 sources (FileStreamSource) mark their batch
    * plans as streaming. */
  def internalDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean = false): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** Forwarder for the listener bus drain (`private[spark]`): block
    * until every posted event has reached its listeners, so counts a
    * listener keeps are complete once an action has returned. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
