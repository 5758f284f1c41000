package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: prices INCREMENTAL posting-artifact maintenance against
  * the from-scratch rebuild (the q105-style cost measurement for
  * q118), on a LOCALIZED churn fixture — the nightly-refresh regime
  * the op exists for: churn confined to a fraction of shards, so the
  * dirty-shard re-tokenize is a slice of the corpus, not all of it.
  * (q118's GATE fixture is modular-uniform so every status appears at
  * every SF; uniform churn at 100× dirties every shard, where the
  * honest answer is "just rebuild" — this tool measures the regime
  * where incrementality pays.)
  *
  * Fixture (shard-aligned, span 100): within every block of 10
  * shards, shard 0's first 10 docs are EDITED, shard 3's first 10
  * REMOVED, shard 6's first 10 ADDED (absent from v1) — churn = 3% of
  * docs, dirty shards ≤ 30%. Digest equality between the incremental
  * result and the full v2 rebuild is REQUIRED (sys.error otherwise),
  * so the timing claim can never detach from correctness.
  *
  * Usage: runMain graft.tools.IncrementalIndexAudit [sfDir] [span]
  */
object IncrementalIndexAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val span = args.lift(1).map(_.toLong).getOrElse(100L)
    val spark = graft.core.Session.start("ERROR")

    val docs = graft.core.Tables.documents(spark, sfDir)
    // churn lands in 3 shards of every `block` (arg 3, default 10):
    // block 10 → 30% dirty shards, block 100 → 3% — the knob that
    // sweeps the refresh regime from heavy to sparse churn
    val block = args.lift(2).map(_.toInt).getOrElse(10)
    val shardMod = (expr(s"doc_id div ${span}L") % block).as("sm")
    val inBand = pmod(col("doc_id"), lit(span)) < 10
    val v1 = docs.where(!(shardMod === 6 && inBand))
    val v2 = docs.where(!(shardMod === 3 && inBand))
      .withColumn("text",
        when(shardMod === 0 && inBand, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))

    val nDocs = docs.count()
    val churn = docs.where((shardMod === 0 || shardMod === 3 || shardMod === 6) && inBand).count()
    println(f"[incaudit] corpus=$nDocs docs, churn=$churn (${100.0 * churn / nDocs}%.2f%%), span=$span")

    // the stored artifact: built once, materialized, NOT part of the
    // incremental timing (production reads it back from storage)
    val prior = graft.ops.InvertedIndex
      .postingShardsBinary(v1, "text", "doc_id", span).localCheckpoint()
    println(s"[incaudit] v1 artifact: ${prior.count()} (term,shard) rows (materialized)")

    def digestOf(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        md5(concat_ws("|", sort_array(collect_list(concat_ws(":",
          col("term"), col("shard"), md5(lower(hex(col("bin")))))))))).head()
      (r.getLong(0), r.getString(1))
    }
    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[incaudit] $what: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }

    val inc = timed("incremental maintenance (diff + dirty rebuild + carry)") {
      digestOf(graft.ops.InvertedIndex.incrementalShardsBinary(
        prior, v1, v2, "text", "doc_id", span))
    }
    val full = timed("full from-scratch v2 rebuild") {
      digestOf(graft.ops.InvertedIndex.postingShardsBinary(
        v2, "text", "doc_id", span))
    }
    if (inc != full)
      sys.error(s"DIGEST MISMATCH: incremental=$inc full=$full")
    println(s"[incaudit] digest-equal: ${inc._1} rows, md5 ${inc._2}")

    // dirty-shard accounting straight from the data
    val totalShards = docs.select(expr(s"doc_id div ${span}L")).distinct().count()
    val dirtyShards = docs
      .where((shardMod === 0 || shardMod === 3 || shardMod === 6) && inBand)
      .select(expr(s"doc_id div ${span}L")).distinct().count()
    println(f"[incaudit] dirty shards: $dirtyShards/$totalShards (${100.0 * dirtyShards / totalShards}%.1f%%)")

    // APPEND path (q129's kernel): fold the pure-add band into the
    // stored artifact from the artifact ALONE (decode-merge-encode,
    // no document store) vs the from-scratch rebuild of the union —
    // digest equality required before the timing is reported
    val addBand = docs.where(shardMod === 6 && inBand)
    val nAdd = addBand.count()
    val priorV1 = prior // v1 excludes exactly the add band
    val app = timed(s"append-only fold ($nAdd docs, artifact-only)") {
      digestOf(graft.ops.InvertedIndex.appendToShardsBinary(
        priorV1, addBand, "text", "doc_id", span))
    }
    // v1 ∪ addBand is exactly the unedited corpus
    val fullUnion = timed("full from-scratch v1+added rebuild") {
      digestOf(graft.ops.InvertedIndex.postingShardsBinary(
        docs, "text", "doc_id", span))
    }
    if (app != fullUnion)
      sys.error(s"APPEND DIGEST MISMATCH: append=$app full=$fullUnion")
    println(s"[incaudit] append digest-equal: ${app._1} rows, md5 ${app._2}")
    spark.stop()
  }
}
