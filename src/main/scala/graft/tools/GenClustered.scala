package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: synthesize a CLUSTERED embeddings table — the corpus
  * shape SemDeDup's cell scoping assumes (tight blobs, wide
  * separation) — for [[HierarchyRecallAudit]] runs in the regime where
  * the op's recall claim applies. The driver's bench embeddings are
  * deliberately unclustered; this fills the other half of the
  * measurement matrix.
  *
  * Deterministic and RNG-free (the repo's splits/mixing discipline):
  * every component derives from xxhash64. Blob centers are uniform in
  * [-1,1]^dim (inter-center L2 ~ 6.5 at dim 64); members sit at
  * center + 0.05·uniform noise (within-blob cosine ~0.997, cross-blob
  * ~0) — so within-blob pairs clear any high threshold and cross-blob
  * pairs clear none.
  *
  * Usage: runMain graft.tools.GenClustered [outDir] [n] [membersPerBlob] [dim]
  */
object GenClustered {
  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse("/root/repo/testdata_clustered")
    val n = args.lift(1).map(_.toLong).getOrElse(500000L)
    val members = args.lift(2).map(_.toInt).getOrElse(50)
    val dim = args.lift(3).map(_.toInt).getOrElse(64)
    val spark = graft.core.Session.start()

    // uniform in [-1, 1] from a keyed hash — same idea as the engine's
    // salted-md5 splits, xxhash64 for speed
    def u(keys: org.apache.spark.sql.Column*) =
      pmod(xxhash64(keys: _*), lit(2000001L)).cast("double") / 1000000.0 - 1.0

    val df = spark.range(n).repartition(32)
      .withColumn("blob", (col("id") / members).cast("long"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (u(lit("c"), col("blob"), d) + u(lit("m"), col("id"), d) * 0.05)
            .cast("float")).as("embedding"))
    df.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"[genclustered] wrote $n vectors (${n / members} blobs of " +
      s"$members, dim $dim) to $outDir/embeddings.parquet")
    spark.stop()
  }
}
