package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  *
  * Spark 4 moved Column construction behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); extension libraries
  * conventionally expose it through a shim in the sql package. This is the
  * only file outside the `graft` namespace.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary LogicalPlan (e.g. a custom operator node) —
    * `Dataset.ofRows` is `private[sql]` in Spark 4.
    */
  def dataFrame(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Lineage- AND stats-free pin for iterative loops
    * ([[graft.operators.Lineage]]'s engine): the frame's InternalRow RDD,
    * localCheckpoint'ed and rewrapped as a fresh leaf via
    * `internalCreateDataFrame` (`private[sql]`). Skips the double
    * field-by-field conversion a `df.rdd` → `createDataFrame(RDD[Row])`
    * round-trip pays per loop round, and carries none of
    * `Dataset.localCheckpoint`'s origin statistics (which compound k^n
    * across rounds until planning grinds and BigInteger overflows).
    */
  def pinInternal(df: DataFrame, eager: Boolean): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // unsafe row buffers are reused within a partition — copy before caching
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    if (eager) rdd.count()
    ds.sparkSession.internalCreateDataFrame(rdd, ds.schema)
  }

  /** The frame's executed InternalRow RDD (`queryExecution.toRdd`,
    * `private[sql]` plumbing) — for operators that run driver-coordinated
    * passes over partitions ([[graft.operators.GlobalRank]]'s two-pass
    * stamps) without paying the `df.rdd` external-Row deserialization of
    * every field. Rows may be REUSED buffers per the SparkPlan contract:
    * copy anything held across `next()` calls.
    */
  def internalRdd(df: DataFrame): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Wrap an InternalRow RDD as a DataFrame (`internalCreateDataFrame`,
    * `private[sql]`) — the output side of the same operators. Rows must
    * match `schema`; the standard operator contract applies (consumers
    * copy when buffering), so producers may reuse row objects.
    */
  def internalDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Waits until the listener bus (`private[spark]`) has delivered every
    * posted event, so a listener has seen all jobs of the work just done.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
