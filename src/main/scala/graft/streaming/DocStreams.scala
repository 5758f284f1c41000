package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics
import graft.ops.Dedup

/** Streaming document operators: near-duplicate detection of an
  * incoming stream against a STATIC corpus index — the incremental
  * corpus-dedup shape (index the existing corpus once in batch, screen
  * every newly crawled batch against it forever). Spark-first: the
  * index is a plain DataFrame on the static side of a stream-static
  * equi-join, so every micro-batch plans the same narrow
  * (band, bucket)-keyed hash join — no state grows with the corpus,
  * and the stream never shuffles against more than its candidates.
  */
object DocStreams {

  /** Batch-side MinHash index of the existing corpus: one row per
    * (band-bucket, corpus doc) with the sorted shingle set for the
    * exact verify. Persist it (or write it as a table bucketed by
    * `bb`) and hand it to [[nearDupStream]].
    */
  def minHashIndex(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame =
    bucketed(corpus, textCol, idCol, shingleN, bands, rowsPerBand)
      .select(col("bb"), col("id").as("corpus_id"), col("sh").as("corpus_sh"))

  /** Shared shingle→signature→band-bucket derivation — pure column
    * expressions, so it runs identically on batch and streaming frames.
    * Signatures and bucket keys are those of
    * [[graft.ops.Decontaminate.minHashScreen]], so a SQL oracle replays
    * collisions bit-for-bit.
    */
  private def bucketed(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    docs
      .withColumn("id", col(idCol))
      .withColumn("sh",
        graft.functions.Shingling.sortedShingles(
          TextAnalytics.tokens(col(textCol)), shingleN))
      .where(size(col("sh")) > 0)
      .withColumn("sig", Dedup.minHashSignature(col("sh"), numHashes))
      .select(col("*"), Dedup.bandBuckets(col("sig"), bands, rowsPerBand).as("bb"))
      .drop("sig")
  }

  /** Streaming near-dup screen: each incoming document meets the index
    * in any shared (band, bucket) — a stream-static hash join — and
    * candidates are verified with the exact Jaccard at `threshold`.
    * Multi-band re-matches of the same (doc, corpus) pair are
    * deduplicated with watermark-bounded state (`tsCol` event time), so
    * state stays O(matches within the watermark), independent of the
    * corpus size. Emits (id, ts, corpus_id, jaccard).
    *
    * `docs` is a STREAMING frame with (`idCol`, `textCol`, `tsCol`);
    * `index` comes from [[minHashIndex]] with the SAME parameters.
    */
  def nearDupStream(
      docs: DataFrame,
      index: DataFrame,
      textCol: String,
      idCol: String,
      tsCol: String,
      threshold: Double = 0.5,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame =
    bucketed(
      docs.withWatermark(tsCol, EventStreams.Watermark),
      textCol, idCol, shingleN, bands, rowsPerBand)
      .join(index, Seq("bb"))
      .withColumn("jaccard",
        graft.functions.SetSimilarity.jaccardSorted(
          col("sh"), col("corpus_sh"), threshold))
      .where(col("jaccard") >= threshold)
      .select(col("id").as(idCol), col(tsCol).as("ts"), col("corpus_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .dropDuplicatesWithinWatermark(idCol, "corpus_id")
}
