package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Audit: BULK kNN through [[graft.ops.Similarity.IvfIndex.probe]] —
  * the corpus handed in AS the query set (label every doc with its k
  * nearest neighbors, the curation-pipeline shape) — at real scale.
  *
  * Round 14 byte-budgeted the probe's query side: within the
  * `graft.similarity.levelBroadcastBytes` budget the exploded query
  * frame broadcasts (the serving shape — corpus never shuffled); past
  * it the join flips to a keyed shuffle-hash on `cell`, the reroute
  * that removes the last unconditional broadcast of a potentially
  * corpus-sized frame. This tool proves the two paths produce the
  * IDENTICAL result at bulk scale and prices the keyed path against
  * the broadcast one where both still fit, plus reports the decision
  * the default budget takes for the given corpus.
  *
  * Quantizer: stride-seeded corpus vectors (a k-means fit at audit k
  * would dwarf the audit itself — same configuration
  * [[HierarchyRecallAudit]] runs); the probe machinery under test is
  * identical either way.
  *
  * Usage: runMain graft.tools.BulkProbeAudit [sfDir] [nLists] [k]
  * [nProbe] [both|keyed]
  *   `both` (default) runs broadcast vs keyed and compares; `keyed`
  *   runs only the keyed path (for corpora whose query payload is past
  *   any sane broadcast).
  */
object BulkProbeAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/testdata_sf10")
    val nLists = args.lift(1).map(_.toInt).getOrElse(2048)
    val k = args.lift(2).map(_.toInt).getOrElse(5)
    val nProbe = args.lift(3).map(_.toInt).getOrElse(2)
    val mode = args.lift(4).getOrElse("both")
    val spark = graft.core.Session.start()

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val stride = math.max(1L, n / nLists)
    val seeds: Array[(Int, Array[Double])] = emb
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .where(pmod(col("id"), lit(stride)) === 0)
      .orderBy("id").limit(nLists).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
    val dim = seeds(0)._2.length
    println(s"[bulkprobe] corpus $sfDir: $n vectors dim $dim, " +
      s"${seeds.length} stride-seeded cells, k=$k nProbe=$nProbe")
    val idx = Similarity.ivfFromCentroids(emb, "vec_id", "embedding", seeds)
    // materialize the persisted assignment OUTSIDE the probe timers —
    // both paths reuse it, the audit prices the probe join only
    idx.assigned.count()

    // the same pricing the probe performs: what does the DEFAULT
    // budget decide for this corpus-as-queries payload?
    val queryBytes = n * (dim.toLong * 8 + 64) * nProbe
    val wouldKey = queryBytes > Similarity.DefaultLevelBroadcastBytes
    println(f"[bulkprobe] query payload $queryBytes%,d bytes vs default " +
      f"budget ${Similarity.DefaultLevelBroadcastBytes}%,d -> default " +
      s"path = ${if (wouldKey) "KEYED shuffle" else "broadcast"}")

    def run(tag: String, budget: Long): (Long, Long, Double) = {
      spark.conf.set(Similarity.LevelBroadcastBytesKey, budget.toString)
      val t0 = System.nanoTime()
      val res = idx.probe(emb, "vec_id", "embedding", k, nProbe)
      // bit_xor, not sum: ANSI mode makes a Long hash-sum overflow
      // throw; xor is order-independent and can't (rows are unique by
      // (query_id, rank), so no self-cancelling duplicates)
      val row = res.agg(
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("query_id"), col("rank"),
          col("neighbor_id"), col("sim"))), lit(0L)).as("h")).head()
      val dt = (System.nanoTime() - t0) / 1e9
      val plan = res.queryExecution.executedPlan.toString
      val shape =
        if (plan.contains("ShuffledHashJoin")) "ShuffledHashJoin"
        else if (plan.contains("BroadcastHashJoin")) "BroadcastHashJoin"
        else "?"
      println(f"[bulkprobe] $tag%-9s rows=${row.getLong(0)}%,d " +
        f"hash=${row.getLong(1)} time=$dt%.1fs join=$shape")
      (row.getLong(0), row.getLong(1), dt)
    }

    // keyed-budget just above the largest routing level's payload: the
    // hierarchy still attaches by broadcast (its own r13-audited
    // trade), ONLY the probe's query side flips — clean attribution of
    // the r14 change
    val levelMax = idx.hierarchy
      .map(h => h.levels.indices.map(h.levelBytes).max).getOrElse(0L)
    try {
      val keyed = run("keyed", math.max(1L, levelMax + 1))
      if (mode == "both") {
        val bcast = run("broadcast", Long.MaxValue)
        val same = keyed._1 == bcast._1 && keyed._2 == bcast._2
        println(f"[bulkprobe] equality: ${if (same) "IDENTICAL" else "DIVERGED"} " +
          f"(keyed/broadcast time ratio ${keyed._3 / bcast._3}%.2f)")
        if (!same) sys.error("bulk-probe keyed vs broadcast DIVERGED")
      }
    } finally {
      spark.conf.unset(Similarity.LevelBroadcastBytesKey)
      idx.release()
    }
    spark.stop()
  }
}
