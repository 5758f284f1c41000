package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Components

/** INCREMENTAL connected components over a stream of near-duplicate
  * pairs — the cluster-membership completion of [[DocStreams
  * .nearDupStream]]'s incremental dedup story (its pairs previously
  * required a full batch [[Components.components]] rerun to become
  * clusters).
  *
  * The state is the component mapping itself, kept as a STAR FOREST
  * (id → min-of-component): a star forest is connectivity-equivalent
  * to every edge ever consumed, so folding a new batch is just the
  * batch star-contraction over (new pairs ∪ prior star edges) — the
  * O(log² n) alternating-star rounds from [[Components]], but seeded
  * with an input that is already almost entirely stars, so it
  * converges in 1–2 rounds per batch in practice. Nothing is ever
  * replayed: per batch the work is proportional to (batch pairs +
  * nodes already clustered), and no component must fit on one
  * machine — the same guarantees as the batch operator, made
  * incremental.
  *
  * This is deliberately a `foreachBatch` fold
  * ([[StreamGate.foldAvailableNow]]) rather than a
  * `flatMapGroupsWithState` operator: component merging is a GLOBAL
  * fixpoint (one edge can fuse two arbitrary clusters), which keyed
  * per-group state cannot express without routing every pair through
  * one key. The batch hook is Spark's sanctioned escape hatch for
  * exactly this cross-row shape.
  */
object StreamComponents {

  /** The empty (id, component) mapping — the fold's initial state. */
  def empty(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("id", "component")
  }

  /** Fold one batch of (u, v) pairs (first two columns = the edge)
    * into the `state` mapping. Returns the updated full mapping
    * (id, component) — component = min id of the connected component
    * across ALL pairs consumed so far. Held between batches by
    * [[StreamGate.FoldState]], which keeps `state` one materialized
    * frame.
    */
  def fold(state: DataFrame, pairs: DataFrame): DataFrame = {
    val starEdges = state
      .where(col("id") =!= col("component"))
      .select(col("id").as("u"), col("component").as("v"))
    val batchEdges = pairs.select(
      col(pairs.columns(0)).cast("long").as("u"),
      col(pairs.columns(1)).cast("long").as("v"))
    val merged = Components.components(batchEdges.unionByName(starEdges))
    // singleton clusters (id == component) have no star edge and may
    // not appear in the new pairs — carry them over untouched
    val carried = state
      .join(merged.select(col("id")), Seq("id"), "left_anti")
    merged.unionByName(carried)
  }
}
