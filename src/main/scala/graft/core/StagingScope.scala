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
  * Two problems this object owns, that a bare `localCheckpoint(false)`
  * leaves open:
  *
  *  1. RELEASE. A local checkpoint's MEMORY_AND_DISK blocks are freed
  *     only when the driver GC collects the RDD object and the
  *     ContextCleaner gets to it — which inside a long session running
  *     many queries means every staged table of every past query stays
  *     pinned until GC happens to fire (round 16 measured 28–31 s of
  *     GC per bench pass, up from 18–23 s before the staging sweep).
  *     Every frame staged here is REGISTERED; the harness calls
  *     [[drain]] at each query boundary (after the query's terminal
  *     action — a staged table may be consumed lazily right up to it)
  *     and the blocks free deterministically instead of by GC luck.
  *     Registration holds only weak references, so an un-drained
  *     session (a caller that never reaches a boundary) degrades to
  *     exactly the old GC-reclaimed behavior, never worse.
  *
  *  2. FAULT TOLERANCE. `localCheckpoint` truncates lineage and its
  *     blocks are unreplicated: on a cluster, losing an executor after
  *     the cut kills the QUERY (Spark cannot recompute a truncated
  *     lineage) instead of recomputing a partition. For a single-query
  *     batch job a driver-level retry is an acceptable trade (guide §5
  *     sanctions exactly this), but it should be a CHOICE. The
  *     `graft.staging.mode` conf makes it one:
  *
  *     - `local` (default): `localCheckpoint` — no files written,
  *       fastest, query-retry fault semantics. What the bench and the
  *       oracle gate run.
  *     - `reliable`: `Dataset.checkpoint` into `graft.staging.dir`
  *       (distributed storage on a cluster) — the staged table
  *       survives executor loss; the job pays one parquet-ish write +
  *       re-read per cut point. The production setting for multi-hour
  *       100 TB runs where a lost executor must not void hours of
  *       work. Checkpoint FILES live until the application cleans its
  *       checkpoint dir (or `spark.cleaner.referenceTracking
  *       .cleanCheckpoints=true` reaps them on GC); [[drain]] frees
  *       only block-manager state.
  *     - `off`: no cut at all — every consumer replays the lineage.
  *       Debugging/plan-inspection setting; results are identical,
  *       wall-clock is not.
  *
  * The mode governs PERFORMANCE AND FAULT SEMANTICS ONLY — results are
  * bit-identical under all three (StagingScopeSpec pins it), which is
  * what makes it sound as ambient session config (cf. [[graft.Budgets]]
  * on semantics-changing knobs, which must stay per-call parameters).
  *
  * NOT routed through here: iteration-round checkpoints with an
  * explicit supersede-and-release lifecycle (Closure, Components,
  * PageRank, BpeLearn, the streaming state holders — each round frees
  * the previous one immediately; only their FINAL frame is registered
  * for the boundary drain), correctness pins (HeavyHitters'
  * non-deterministic-input pin is budget-gated where it is taken), and
  * session-cached serving state (`Similarity.ivfIndexFor`'s persisted
  * indexes own a release-on-evict lifecycle and must survive query
  * boundaries).
  */
object StagingScope {

  /** Staging mode conf key: `local` (default) | `reliable` | `off` —
    * see the object doc for the semantics of each.
    */
  val ModeKey = "graft.staging.mode"

  /** Directory for `reliable` mode's checkpoint files (set once per
    * SparkContext on first use; on a cluster this must be distributed
    * storage). Defaults to a fresh temp dir — fine in local mode,
    * wrong on a cluster, hence the conf. Once the context checkpoints
    * somewhere, a different value here is refused, not ignored.
    */
  val DirKey = "graft.staging.dir"

  private val pending = new ConcurrentLinkedQueue[WeakReference[RDD[_]]]()

  /** Cut `df`'s lineage per the session's staging mode and register
    * the result for the next [[drain]]. `eager` materializes at the
    * cut instead of at the first downstream action — for staged frames
    * whose producer must run exactly once BEFORE fan-out jobs that
    * would otherwise race to compute it.
    */
  def stage(df: DataFrame, eager: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "off" => df
      case "reliable" =>
        val sc = spark.sparkContext
        val wanted = spark.conf.getOption(DirKey)
        synchronized {
          sc.getCheckpointDir match {
            case None =>
              sc.setCheckpointDir(wanted.getOrElse(java.nio.file.Files
                .createTempDirectory("graft-staging-").toString))
            case Some(have) => wanted.foreach { w =>
              // setCheckpointDir files under a per-context subdirectory
              // of the dir it is given, qualified with its file system
              val want = new org.apache.hadoop.fs.Path(w)
              val parent = new org.apache.hadoop.fs.Path(have).getParent
              if (want.getFileSystem(sc.hadoopConfiguration)
                  .makeQualified(want) != parent)
                throw new IllegalStateException(
                  s"$DirKey is '$w' but this SparkContext already " +
                    s"checkpoints to '$have'; unset $DirKey or set it to " +
                    s"'$parent' (the checkpoint dir is fixed per context)")
            }
          }
        }
        register(df.checkpoint(eager = eager))
      case "local" => register(df.localCheckpoint(eager = eager))
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be local, reliable, or off — got '$other'")
    }
  }

  /** Register an ALREADY-checkpointed frame (a root LogicalRDD — the
    * value `localCheckpoint`/`checkpoint` returned) so the next
    * [[drain]] releases its blocks. Non-checkpoint plans pass through
    * untouched. Used by ops that manage their own checkpoint shape
    * (iteration finals, eager sharded outputs) but still want the
    * query-boundary release.
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

  /** Number of registrations awaiting drain — spec/diagnostic surface
    * (live weak refs only; collected entries still count until drained).
    */
  private[graft] def pendingCount: Int = pending.size()
}
