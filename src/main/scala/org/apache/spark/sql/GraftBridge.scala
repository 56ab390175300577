package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column ↔ Expression conversions — the
  * supported pattern for libraries that define custom Catalyst expressions
  * against Spark 4's split Column API (sql-api vs classic).
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  /** DataFrame from a custom logical plan (classic.Dataset.ofRows is
    * private[sql]) — the construction path for custom operators like
    * [[graft.plans.TopKPerGroupNode]].
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every listener event posted so far has been delivered
    * (`SparkContext.listenerBus` is private[spark]), so a listener's
    * counters are complete when read, without a sleep.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The `QueryExecution` a successful SQL execution's end event carries —
    * the object QueryExecutionListeners receive, which holds the final
    * plan and the planning tracker. The field is private[sql]; a listener
    * reads it here because only the event also carries the execution id
    * (a QueryExecution's own `id` is a different counter), and that id is
    * what ties the execution to its start event's job group.
    */
  def succeededExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
      : Option[execution.QueryExecution] =
    if (e.executionFailure.isEmpty) Option(e.qe) else None

  /** Cap the statistics a checkpoint's [[execution.LogicalRDD]] carried
    * over from its origin plan (`Dataset.checkpoint` →
    * `LogicalRDD.rewriteStatsAndConstraints` stores the origin's
    * `sizeInBytes`/`rowCount`). In an iterative algorithm those carried
    * stats COMPOUND: every join multiplies its children's sizeInBytes, so
    * round k's checkpoint stores a product of round k−1's stored products
    * — the BigInt's digit count grows geometrically with the round number
    * and the driver ends up in million-digit Toom-Cook multiplications
    * inside stats estimation (observed: a graph_sssp probe run pinned
    * one core for minutes inside BigInteger.multiplyToomCook3 under
    * SizeInBytesOnlyStatsPlanVisitor once the Δ-stepping merge became a
    * join). Anything past Long.MaxValue is equally "don't broadcast" to
    * the planner, so capping there preserves every planning decision while
    * keeping all downstream stats walks on word-sized integers.
    * Partitioning, ordering, and constraints pass through untouched.
    */
  def capCheckpointStats(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        val s = lr.stats
        val cap = BigInt(Long.MaxValue)
        // An EAGER checkpoint's blocks are already in the block manager, so
        // the frame's TRUE size is known — use it instead of the origin
        // plan's estimate (join-product sizeInBytes overestimates a bounded
        // loop frame by orders of magnitude: a ~700 KB label table carried
        // a ~600 GB estimate, forcing sort-merge plans on every round).
        // Deserialized block size overestimates serialized bytes a little,
        // which only errs toward NOT broadcasting — safe at any scale.
        val measured: Option[BigInt] =
          df.sparkSession.sparkContext.getRDDStorageInfo
            .find(i => i.id == lr.rdd.id && i.isCached)
            .map(i => BigInt(math.max(i.memSize + i.diskSize, 1L)))
        if (measured.isEmpty && s.sizeInBytes <= cap &&
            s.rowCount.forall(_ <= cap)) df
        else {
          val refined = Statistics(
            sizeInBytes = measured.getOrElse(s.sizeInBytes.min(cap)),
            rowCount = s.rowCount.map(_.min(cap)))
          val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
          classic.Dataset.ofRows(spark,
            LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
              lr.outputOrdering, lr.isStreaming)(
              spark, Some(refined), Some(lr.constraints)))
        }
      case _ => df
    }
  }
}
