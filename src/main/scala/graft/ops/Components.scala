package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair graph — the step that
  * turns near-duplicate PAIRS (exact Jaccard / MinHash / SimHash /
  * embedding-cosine) into duplicate CLUSTERS with one canonical
  * representative per cluster, i.e. the "keep one copy" decision of a
  * corpus dedup pipeline.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — each
  * round re-points nodes at the minimum of their closed neighborhood,
  * provably converging in O(log² n) rounds with per-round cost linear
  * in the edge count. Every round is two keyed aggregations + a join:
  * no component ever needs to fit on one machine, unlike
  * label-propagation-until-diameter (O(diameter) rounds) or
  * collect-to-driver union-find. Lineage is cut per round with
  * `localCheckpoint` like [[Closure]]'s fixpoint.
  *
  * Returns (id, component) for every node appearing in `pairs`, where
  * `component` is the minimum node id of the node's component.
  */
object Components {

  /** Below this many distinct edges the fixpoint solves driver-local
    * (union-find over a few MB) instead of spending O(log² n) rounds
    * of cluster stage barriers on a graph that fits in one hand — the
    * same scale-adaptive reasoning as a broadcast-join threshold. At
    * the default, the collected edge list is ≤ ~16 MB; above it the
    * alternating-star rounds run exactly as before, and no component
    * ever needs to fit on one machine.
    */
  val LocalSolveMaxEdges: Long = 1L << 20

  /** Driver-local union-find (path halving), min-id component labels —
    * bit-identical to the distributed fixpoint's output.
    */
  private def componentsLocal(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent.getOrElse(x, x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent.getOrElse(x, x)
      }
      x
    }
    edges.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val nodes = parent.keys.toArray
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach { n =>
      val r = find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
    }
    nodes.sorted.map(n => (n, minOfRoot(find(n)))).toSeq
      .toDF("id", "component")
  }

  /** `localSolveMaxEdges` overrides [[LocalSolveMaxEdges]] — pass 0 to
    * force the distributed fixpoint (tests pin local ≡ distributed).
    */
  def components(
      pairs: DataFrame,
      localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    def bidir(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))

    // m(u) = min of the closed neighborhood of u
    def minNbr(bi: DataFrame): DataFrame =
      bi.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))

    // large-star: strictly larger neighbors re-point at m(u)
    def largeStar(e: DataFrame): DataFrame = {
      val bi = bidir(e)
      bi.join(minNbr(bi), Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: smaller-or-equal neighbors (and u itself) re-point at m(u)
    def smallStar(e: DataFrame): DataFrame = {
      val bi = bidir(e)
      val m = minNbr(bi)
      bi.where(col("v") <= col("u"))
        .join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var edges = pairs
      .select(col(pairs.columns(0)).cast("long").as("u"),
        col(pairs.columns(1)).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    // converge when a round is a no-op: identical (u, v) edge set.
    // EXACT fixpoint test: both sides are distinct sets, so equal
    // cardinality plus an empty difference proves set equality — no
    // hash-collision failure mode (a prior xor-of-hashes checksum had a
    // ~2⁻⁶⁴ early-stop risk). The count gate skips the except job on
    // every round where the edge count still moves.
    var stable = edges.isEmpty
    var curCount = if (stable) 0L else edges.count()
    // Dataset.unpersist only touches the CacheManager — it never
    // releases a localCheckpoint's RDD blocks (the bridge exists for
    // exactly that), so every release below goes through the bridge;
    // plain .unpersist() here silently pinned every round until GC.
    import org.apache.spark.sql.classic.GraftColumnBridge.unpersistLocalCheckpoint
    if (!stable && curCount <= localSolveMaxEdges) {
      val local = componentsLocal(spark,
        edges.as[(Long, Long)].collect())
      unpersistLocalCheckpoint(edges)
      return local
    }
    val allNodes = graft.core.StagingScope.stage(
      bidir(edges).select(col("u").as("id")).distinct(), eager = true)
    while (!stable) {
      // checkpoint the large-star intermediate too: small-star's
      // bidir unions + minNbr join would otherwise replay the
      // large-star lineage ~4x within the round
      val ls = largeStar(edges).localCheckpoint()
      val next = smallStar(ls).localCheckpoint()
      unpersistLocalCheckpoint(ls)
      val nextCount = next.count()
      stable = nextCount == curCount && next.except(edges).isEmpty
      unpersistLocalCheckpoint(edges) // previous round's blocks released
      edges = next
      curCount = nextCount
    }
    // the FINAL round's checkpoint serves the returned plan; registered
    // so the harness's query-boundary drain frees it
    graft.core.StagingScope.register(edges)

    // fixpoint is a forest of stars (u → root). Roots map to themselves.
    allNodes
      .join(edges.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Canonical-per-cluster dedup verdict: every node with its
    * component representative (the minimum id) and whether it is the
    * copy to KEEP. The composition point for any pair generator.
    */
  def canonicalize(pairs: DataFrame): DataFrame =
    components(pairs)
      .select(col("id"), col("component").as("canonical_id"),
        (col("id") === col("component")).as("keep"))
}
