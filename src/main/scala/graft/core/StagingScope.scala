package graft.core

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Lifecycle for ONE-SHOT staged intermediates — the cut points where
  * an operator materializes a shared subtree once so N consumers stop
  * replaying its upstream DAG (the round-16 staging sweep: BM25's tf
  * table, the PPJoin pair tables, the churn deltas, ...).
  *
  * A local checkpoint's MEMORY_AND_DISK blocks are freed only when the
  * driver GC collects the RDD object and the ContextCleaner gets to it
  * — which inside a long session running many queries means every
  * staged table of every past query stays pinned until GC happens to
  * fire (round 16 measured 28–31 s of GC per bench pass, up from
  * 18–23 s before the staging sweep). Every frame staged here is
  * REGISTERED; the harness calls [[drain]] at each query boundary
  * (after the query's terminal action — a staged table may be consumed
  * lazily right up to it) and the blocks free deterministically
  * instead of by GC luck. Registration holds only weak references, so
  * an un-drained session (a caller that never reaches a boundary)
  * degrades to exactly the old GC-reclaimed behavior, never worse.
  *
  * The engine runs local sessions only, so a lost executor is a lost
  * application, and a query retry is the recovery.
  *
  * NOT routed through here: iteration-round checkpoints with an
  * explicit supersede-and-release lifecycle (Closure, Components,
  * PageRank, BpeLearn, the one streaming fold-state holder
  * `streaming.StreamGate.FoldState` — each round frees the previous
  * one immediately; only their FINAL frame is registered for the
  * boundary drain), and session-cached state that must survive
  * query boundaries (`Similarity.ivfIndexFor`'s persisted indexes own
  * a release-on-evict lifecycle; `Closure.closureTable` backs the
  * `partClosure` memo).
  */
object StagingScope {

  private val pending = new ConcurrentLinkedQueue[WeakReference[RDD[_]]]()

  /** Cut `df`'s lineage with a local checkpoint and register the
    * result for the next [[drain]]. `eager` materializes at the cut
    * instead of at the first downstream action — for staged frames
    * whose producer must run exactly once BEFORE fan-out jobs that
    * would otherwise race to compute it.
    */
  def stage(df: DataFrame, eager: Boolean = false): DataFrame =
    register(df.localCheckpoint(eager = eager))

  /** Register an ALREADY-checkpointed frame (a root LogicalRDD — the
    * value `localCheckpoint` returned) so the next [[drain]] releases
    * its blocks. Non-checkpoint plans pass through untouched. Used by
    * iteration loops whose final round is already a checkpoint but
    * still wants the query-boundary release.
    */
  def register(df: DataFrame): DataFrame = {
    org.apache.spark.sql.classic.GraftColumnBridge.checkpointRootRdd(df)
      .foreach(rdd => pending.add(new WeakReference[RDD[_]](rdd)))
    df
  }

  /** Release every staged frame registered since the last drain. Call
    * ONLY at a query boundary — after the query's terminal action has
    * returned, when no registered frame can be consumed again (each
    * query invocation rebuilds its plan from scratch). Blocks free
    * non-blockingly; already-collected or never-materialized entries
    * are no-ops.
    */
  def drain(): Unit = {
    var ref = pending.poll()
    while (ref != null) {
      val rdd = ref.get
      if (rdd != null) rdd.unpersist(blocking = false)
      ref = pending.poll()
    }
  }
}
