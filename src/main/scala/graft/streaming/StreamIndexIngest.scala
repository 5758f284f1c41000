package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.InvertedIndex

/** STREAMING index ingest — documents ARRIVE as micro-batches and
  * FOLD into the stored posting artifact ([[graft.ops.InvertedIndex
  * .appendToShardsBinary]]): each batch tokenizes once, decode-merges
  * only the (term, shard) groups it touches, and the artifact (never
  * the accumulated corpus) is the ONLY state carried between batches
  * — the ingest half of the serving story whose query half is
  * [[StreamBm25]]. Batches are sequential and each folds into the
  * previous state ([[StreamGate.foldAvailableNow]]). On bounded input
  * the final artifact must be byte-identical to the from-scratch batch
  * build — q109's oracle gates the streamed form verbatim (q130), the
  * equivalence proof that batch-by-batch append ≡ one-shot build
  * whatever the slicing.
  */
object StreamIndexIngest {

  /** The q130 gate: the documents corpus staged as hash-sliced files,
    * streamed with one file per trigger, folded into an
    * initially-empty artifact; returns the flat digest view of the
    * final artifact.
    */
  def ingestAvailableNow(
      s: SparkSession, d: String,
      shardSpan: Long = 100L, slices: Int = 3): DataFrame = {
    val docs = graft.core.Tables.documents(s, d)
    val dir = StreamGate.stageSlices(docs, col("doc_id"), slices, "ingest")
    // the empty artifact, with the canonical schema
    val empty = InvertedIndex
      .postingShardsBinary(docs.limit(0), "text", "doc_id", shardSpan)
    InvertedIndex.compressedView(
      StreamGate.foldAvailableNow(StreamGate.streamStaged(s, dir), empty) {
        (index, batch) =>
          InvertedIndex.appendToShardsBinary(index, batch, "text", "doc_id", shardSpan)
      })
  }
}
