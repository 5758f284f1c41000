package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive ancestor closure over a DAG / forest.
  *
  * The reference computes ancestors three ways: DFS over `is_a`/`part_of`
  * edges in Perl (`ontologies/obo2json.pl:97-114`), parent-pointer walks
  * (`trees/taxonomy.js:13-28`), and indent-stack paths
  * (`ontologies/parseInterpro.js:22-35`) — all single-threaded, whole
  * graph in one heap. Here the closure is a distributed fixpoint of
  * self-joins with *path doubling*: after k rounds the paths table holds
  * every ancestor within distance 2^k, so a depth-d hierarchy needs
  * ceil(log2(d)) joins instead of d. Each round is a shuffle hash join +
  * distinct; `localCheckpoint` truncates lineage so the plan doesn't grow
  * exponentially. At 100 TB this is the standard closure-table build:
  * shuffle on node id, no driver-side graph.
  */
object Closure {

  /** `edges` must have columns (`child`, `parent`). Returns the closure
    * as (`node`, `ancestor`) with `ancestor` strictly above `node`
    * (self-pairs excluded). Cycles would not terminate — callers supply
    * acyclic data, as in the reference's ontologies.
    */
  def transitiveClosure(edges: DataFrame): DataFrame =
    // the FINAL round's checkpoint serves the caller; registered so the
    // harness's query-boundary drain frees it instead of driver GC
    graft.core.StagingScope.register(closureTable(edges))

  /** [[transitiveClosure]] without the drain registration: the final
    * round's local checkpoint, fully materialized (every round is
    * counted), whose blocks the caller owns. For session memos that
    * must outlive the query that built them.
    */
  private[graft] def closureTable(edges: DataFrame): DataFrame = {
    var paths = edges
      .select(col("child").as("node"), col("parent").as("ancestor"))
      .distinct()
      .localCheckpoint()
    var prev = paths.count()
    var done = false
    while (!done) {
      val doubled = paths
        .as("a")
        .join(paths.as("b"), col("a.ancestor") === col("b.node"))
        .select(col("a.node").as("node"), col("b.ancestor").as("ancestor"))
      // LAZY checkpoint + count: the count IS the materializing action,
      // so a round runs exactly one job (the eager-checkpoint-then-count
      // form ran two). Convergence = fixpoint of the path-pair count.
      val next = paths.union(doubled).distinct().localCheckpoint(eager = false)
      val cnt = next.count()
      if (cnt == prev) {
        // converged: the freshly-materialized (identical) round is
        // redundant — free it, keep serving the previous one
        org.apache.spark.sql.classic.GraftColumnBridge
          .unpersistLocalCheckpoint(next)
        done = true
      } else {
        // free the SUPERSEDED round's blocks immediately: `next` is
        // materialized, nothing references the old round any more, and
        // waiting for driver GC + ContextCleaner leaves every round's
        // closure table pinned in MEMORY_AND_DISK — at the 1000× audit
        // (200M+ closure rows/round) the pinned rounds starved the
        // distinct's hash aggregation into AGGREGATE_OUT_OF_MEMORY.
        org.apache.spark.sql.classic.GraftColumnBridge
          .unpersistLocalCheckpoint(paths)
        paths = next
        prev = cnt
      }
    }
    paths
  }

  /** Closure-table rollup (reference: `num_genes` summed up taxonomy
    * ancestors, `trees/speciesTree.js:193-219`,
    * `ontologies/filter_taxonomy2.js:100-116`): once ancestors are
    * materialized, "aggregate a measure over every descendant incl.
    * self" is a plain explode + groupBy — no recursion at query time.
    *
    * `facts` has (`node`, measure columns); returns one row per node
    * with `agg` applied over the node's subtree (descendants + itself).
    */
  def subtreeSum(
      closure: DataFrame,
      facts: DataFrame,
      measure: String,
      out: String): DataFrame = {
    val selfPairs =
      facts.select(col("node"), col("node").as("ancestor"))
    val pairs = closure.select("node", "ancestor").union(selfPairs)
    pairs
      .join(facts, "node")
      .groupBy(col("ancestor").as("node"))
      .agg(sum(col(measure)).as(out))
  }
}
