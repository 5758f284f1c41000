package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, SimilarityGuard}

/** Audit: the round-14 clusteredness RUNTIME signal on real corpora —
  * [[graft.ops.SimilarityGuard.clusterednessProbe]] fires (WARN + the
  * measured within-cell pair survival) when `semanticNearDup` is
  * launched on a boundary-dominated corpus, and stays silent where the
  * SemDeDup regime holds. Each argument names a corpus:threshold pair;
  * for each, the tool launches semanticNearDup's pre-flight machinery
  * (count, quantizer fit/assignment, volume guard, clusteredness
  * probe — the pair join itself stays unexecuted) and reports the
  * probe's verdict.
  *
  * Usage: runMain graft.tools.ClusterednessAudit [dir:threshold ...]
  * Default matrix: the clustered audit corpus at 0.8 (expected SILENT),
  * the unclustered 100x bench corpus at 0.8 (expected WARN), and the
  * same corpus at q84's 0.35 operating point (dup-dense ScaleUp copies
  * push survival over the bar — expected SILENT: at that operating
  * point the verify compute is NOT wasted, which is exactly what the
  * signal measures).
  */
object ClusterednessAudit {
  def main(args: Array[String]): Unit = {
    val cases =
      if (args.nonEmpty) args.toSeq
      else Seq(
        "/root/repo/testdata_clustered:0.8",
        "/root/repo/testdata_sf10:0.8",
        "/root/repo/testdata_sf10:0.35")
    val spark = graft.core.Session.start()
    cases.foreach { c =>
      val Array(dir, t) = c.split(":")
      val threshold = t.toDouble
      val df = spark.read.parquet(s"$dir/embeddings.parquet")
      SimilarityGuard.lastClusterednessWarning = None
      SimilarityGuard.lastClusterednessSurvival = None
      val t0 = System.nanoTime()
      // plan construction runs the pre-flight jobs (fit, guard,
      // clusteredness probe); the pair join stays lazy — this audit
      // prices the SIGNAL, not the dedup
      Dedup.semanticNearDup(df, "vec_id", "embedding", threshold)
      val dt = (System.nanoTime() - t0) / 1e9
      val survival = SimilarityGuard.lastClusterednessSurvival
        .map(s => f"$s%.4f").getOrElse("n/a (pair floor unmet)")
      val verdict = SimilarityGuard.lastClusterednessWarning
        .map(_ => "WARN boundary-dominated").getOrElse("silent")
      println(f"[clusteredness] $dir t=$threshold survival=$survival " +
        f"-> $verdict (pre-flight ${dt}%.1fs)")
      SimilarityGuard.lastClusterednessWarning.foreach(w =>
        println(s"[clusteredness]   $w"))
    }
    spark.stop()
  }
}
