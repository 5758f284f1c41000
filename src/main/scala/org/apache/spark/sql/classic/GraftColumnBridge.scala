package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's package-private Column <-> Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`); Spark 4 removed the
  * public `Column(expr)`/`col.expr` surface that custom Catalyst
  * expressions need to expose themselves as user-facing Columns.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan — the `Dataset.ofRows`
    * entry point custom operators need (package-private in Spark 4).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Release a local checkpoint's cached blocks NOW. A checkpointed
    * round of an iterative fixpoint (Closure's path doubling) holds
    * MEMORY_AND_DISK blocks that only the driver GC + ContextCleaner
    * would otherwise reclaim — and GC rarely fires inside one query,
    * so every superseded round stays pinned and starves execution
    * memory (the 1000× q13 AGGREGATE_OUT_OF_MEMORY). The checkpoint
    * RDD hides behind the Dataset's LogicalRDD; there is no public
    * unpersist for it, hence this bridge.
    *
    * The argument must be the checkpoint Dataset ITSELF (the value
    * `localCheckpoint` returned): only a ROOT LogicalRDD is released.
    * Matching every LogicalRDD leaf of a composite plan would silently
    * free caller-owned checkpoints still in use — and a truncated
    * local checkpoint cannot be recomputed, so that is a job failure,
    * not a slowdown. Non-checkpoint plans are a no-op.
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The checkpoint RDD behind a ROOT LogicalRDD plan, or None for any
    * other plan shape — the handle [[graft.core.StagingScope]] registers
    * (weakly) so a query-boundary drain can release the blocks without
    * holding the Dataset itself alive. Same root-only rule as
    * [[unpersistLocalCheckpoint]].
    */
  def checkpointRootRdd(
      df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Measured storage footprint (memory + disk bytes) of an EAGER
    * local checkpoint's cached blocks — the post-materialization
    * number a pin budget must gate on (pre-flight row×width estimates
    * can't see string payloads). 0 for non-checkpoint plans or if the
    * blocks have already been evicted/released.
    */
  def localCheckpointStorageBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize).getOrElse(0L)
      case _ => 0L
    }

  /** Rebuild a local-checkpoint DataFrame with its hash partitioning
    * DECLARED. Under AQE `Dataset.localCheckpoint` captures
    * `UnknownPartitioning` (the adaptive root's partitioning is not
    * final when the checkpoint snapshots it), so every consumer
    * re-shuffles a frame that is already hash-partitioned — exactly
    * the k·|corpus| re-exchange Apss.verifyAuto's sequential shards
    * must not pay. The checkpointed RDD's layout is the caller's
    * INVARIANT to uphold: the checkpoint must have been taken directly
    * on a `repartition(numPartitions, keys…)` result (explicit
    * numPartitions — AQE never coalesces REPARTITION_BY_NUM shuffles,
    * and the checkpoint's map(_.copy()) is partition-preserving), with
    * the same key columns in the same order. Declaring a partitioning
    * the rows do not have silently mis-joins; the hash LAYOUT is not
    * runtime-checkable, but the partition COUNT is — so count drift
    * (e.g. a future AQE behavior change coalescing the repartition)
    * fails fast here instead of corrupting joins. Non-checkpoint roots
    * pass through unchanged.
    */
  def declareHashPartitioned(
      df: org.apache.spark.sql.DataFrame,
      numPartitions: Int,
      keys: String*): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        require(lr.rdd.getNumPartitions == numPartitions,
          s"checkpoint has ${lr.rdd.getNumPartitions} partitions but the " +
            s"caller declares HashPartitioning over $numPartitions — the " +
            "layout invariant (checkpoint taken directly on a " +
            "repartition(n, keys…) result) does not hold; declaring it " +
            "anyway would silently mis-join")
        val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"column $k not in checkpoint output ${lr.output.map(_.name)}")))
        val session = df.sparkSession.asInstanceOf[SparkSession]
        Dataset.ofRows(session,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd,
            org.apache.spark.sql.catalyst.plans.physical
              .HashPartitioning(attrs, numPartitions),
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            session, None, None))
      case _ => df
    }

  /** Block until every listener has seen every event posted so far, so
    * counters a listener keeps are complete once an action returns.
    */
  def awaitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
