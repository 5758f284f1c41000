package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Dev/audit tool: measures what the hierarchical quantizer's
  * multi-level routing actually COSTS in recall — the one scale claim
  * in the similarity tier that was argued, not measured (the
  * boundary-miss-cancels analysis at `ops/Similarity.scala`).
  *
  * Builds a seeded k-cell index (k > 65536 forces L = 3 routing
  * levels; the ML k-means fit at that k is infeasible, and the seeded
  * quantizer — real corpus vectors as centroids — is the same
  * configuration the engine ships for the q84b twin), then compares
  * against the EXACT argmin-L2 assignment over the same k centroids,
  * computed with the literal kernel at O(k·dim) per row (audit-only
  * cost; the engine routes in O(L·k^(1/L)·dim)). Reports:
  *
  *  - single-probe assignment agreement (routed cell == exact argmin);
  *  - PAIR RECALL: semanticNearDup pairs under routed assignment vs
  *    the same pipeline under exact assignment — the gated metric
  *    (pairs, not argmins, are what dedup consumes);
  *  - keyed-attach equality: the routed run repeats under a 1-byte
  *    broadcast budget (every level through keyedLevelAttach) and must
  *    produce the identical pair set — the 100-TB reroute exercised at
  *    real scale, not just spec scale.
  *
  * Seed modes (arg 4): `first` = the corpus's first k vectors by id —
  * the q84b twin rule, which on a ScaleUp corpus covers only the first
  * ~k/20000 copies' flip patterns (an out-of-distribution quantizer:
  * the audit's HARD mode, where most vectors are near-equidistant to
  * many centroids and argmin is routing-fragile); `stride` = every
  * (n/k)-th vector by id — covers every copy's pattern, the
  * distribution-tracking shape a fitted k-means would have (the FAIR
  * routing test: quantizer quality held fixed, only routed-vs-exact
  * assignment differs).
  *
  * Arg 5 (`nCoarseProbe`, default 4, stride mode only) widens the
  * per-level probe — the cost/recall knob on unclustered data, where
  * argmin margins are tiny and a narrow probe path prunes the true
  * argmin's route often.
  *
  * Usage: runMain graft.tools.HierarchyRecallAudit [sfDir] [k]
  * [threshold] [first|stride] [nCoarseProbe]
  */
object HierarchyRecallAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/testdata_sf100")
    val k = args.lift(1).map(_.toInt).getOrElse(70000)
    val threshold = args.lift(2).map(_.toDouble).getOrElse(0.35)
    val seedMode = args.lift(3).getOrElse("first")
    val nCoarseProbe = args.lift(4).map(_.toInt).getOrElse(4)
    val spark = graft.core.Session.start()

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[recall] $label%-46s ${(System.nanoTime() - t0) / 1e9}%8.1fs")
      r
    }

    val corpus = graft.core.Tables.embeddings(spark, sfDir)
    val n = corpus.count()
    println(s"[recall] corpus $sfDir: $n vectors; k=$k threshold=$threshold " +
      s"seedMode=$seedMode")

    val strideSeeds: Option[Array[(Int, Array[Double])]] = seedMode match {
      case "first" => None
      case "stride" => Some {
        val stride = math.max(1L, n / k)
        corpus.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v"))
          .where(pmod(col("id"), lit(stride)) === 0)
          .orderBy("id").limit(k).collect()
          .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
      }
      case other => sys.error(s"unknown seed mode '$other' (first|stride)")
    }
    def buildRouted(fresh: Boolean): Similarity.IvfIndex = {
      // fresh=true re-runs the whole assignment (the keyed-attach leg);
      // where-true defeats the session index cache on the seeded path
      val c = if (fresh) corpus.where(lit(true)) else corpus
      val idx = strideSeeds match {
        case None => Similarity.ivfSeededIndexFor(c, "vec_id", "embedding", k)
        case Some(s) =>
          Similarity.ivfFromCentroids(c, "vec_id", "embedding", s, nCoarseProbe)
      }
      idx.assigned.count()
      idx
    }
    val routedIdx = timed(s"build routed index ($seedMode k=$k)") {
      buildRouted(fresh = false)
    }
    val h = routedIdx.hierarchy.getOrElse(
      sys.error(s"k=$k did not build a hierarchical index"))
    println(s"[recall] hierarchy: L=${h.levels.length + 1} " +
      s"(root ${h.coarse.length} literal + ${h.levels.length} attached), " +
      s"levelCentroids=${h.levelCentroids.mkString(",")}, dim=${h.dim}")
    if (k > 65536 && h.levels.length < 2)
      sys.error(s"expected >= 2 attached levels (L=3) for k=$k")

    // EXACT-argmin baseline over the SAME centroids: full-matrix
    // literal kernel, no routing tree anywhere in the plan
    val exactIdx = timed("exact-argmin assignment (O(k*dim)/row)") {
      val sel = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
        .repartition(spark.sparkContext.defaultParallelism)
      val assigned = Similarity.IvfIndex(routedIdx.centroids, sel, None)
        .withCells(sel, "cv", 1, Seq("neighbor_id"))
        .select(element_at(col("cells"), 1).as("cell"),
          col("neighbor_id"), col("cv"))
        .persist()
      assigned.count()
      Similarity.IvfIndex(routedIdx.centroids, assigned, None)
    }

    // distributed set arithmetic throughout — sf100's cross-copy pair
    // mass runs to tens of millions, past any sane driver collect
    val agree = timed("single-probe agreement join") {
      val a = routedIdx.assigned.select(
        col("neighbor_id").cast("long").as("id"), col("cell").as("rc"))
        .join(exactIdx.assigned.select(
          col("neighbor_id").cast("long").as("id"), col("cell").as("ec")),
          "id")
        .where(col("rc") === col("ec"))
        .select("id").localCheckpoint()
      a.count()
      a
    }
    val nAgree = agree.count()
    println(f"[recall] single-probe argmin agreement: $nAgree/$n " +
      f"(${nAgree.toDouble / n}%.4f)")

    def pairsOf(idx: Similarity.IvfIndex, label: String)
        : (org.apache.spark.sql.DataFrame, Long) = timed(label) {
      val df = graft.ops.Dedup.semanticPairsFromIndex(idx, threshold, n,
        stageMulti = true)
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
        .localCheckpoint()
      (df, df.count())
    }
    val (exactPairs, nExact) = pairsOf(exactIdx, "pairs via EXACT assignment")
    val (routedPairs, nRouted) = pairsOf(routedIdx,
      s"pairs via L=${h.levels.length + 1} routing (broadcast attach)")

    // the keyed attach at real scale: a 1-byte budget forces every
    // level through keyedLevelAttach; where(lit(true)) defeats the
    // session index cache so assignment itself re-runs keyed
    spark.conf.set(Similarity.LevelBroadcastBytesKey, "1")
    val (keyedPairs, nKeyed) =
      try {
        val kidx = timed("build routed index under KEYED attach") {
          buildRouted(fresh = true)
        }
        val r = pairsOf(kidx, "pairs via routed assignment (KEYED attach)")
        if (strideSeeds.nonEmpty) kidx.release()
        r
      } finally spark.conf.unset(Similarity.LevelBroadcastBytesKey)
    val interKeyed = keyedPairs.join(routedPairs, Seq("id_a", "id_b")).count()
    if (nKeyed != nRouted || interKeyed != nKeyed) sys.error(
      s"keyed vs broadcast attach DIVERGED: keyed=$nKeyed " +
        s"broadcast=$nRouted shared=$interKeyed")
    println(s"[recall] keyed == broadcast attach: $nRouted pairs identical")

    val inter = routedPairs.join(exactPairs, Seq("id_a", "id_b")).count()
    val recall = if (nExact == 0) 1.0 else inter.toDouble / nExact
    // routed-only pairs are TRUE pairs (both paths verify exact cosine
    // >= threshold) that exact single-probe scoping happened to miss —
    // reported for completeness, they are not errors
    println(f"[recall] PAIR RECALL of L=${h.levels.length + 1} routing vs " +
      f"exact assignment: $inter/$nExact = $recall%.4f " +
      s"(routed=$nRouted, routed-only=${nRouted - inter})")
    println(f"[recall] pair YIELD ratio (routed true pairs / exact true " +
      f"pairs; both verified >= $threshold): " +
      f"${nRouted.toDouble / math.max(1L, nExact)}%.4f")
    // decomposition: recall restricted to pairs whose BOTH endpoints
    // argmin-agree — isolates probe-lottery divergence (2nd-probe cells
    // differing) from first-cell routing misses
    val bothAgree = exactPairs
      .join(agree.withColumnRenamed("id", "id_a"), "id_a")
      .join(agree.withColumnRenamed("id", "id_b"), "id_b")
      .localCheckpoint()
    val nBoth = bothAgree.count()
    val condInter = bothAgree.join(routedPairs, Seq("id_a", "id_b")).count()
    val cond = if (nBoth == 0) 1.0 else condInter.toDouble / nBoth
    println(f"[recall] conditional recall on argmin-agreeing endpoints: " +
      f"$condInter/$nBoth = $cond%.4f")
    exactIdx.release()
    spark.stop()
  }
}
