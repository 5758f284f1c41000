package graft

import graft.ops.InvertedIndex
import graft.streaming.StreamIndexIngest

/** Streaming index ingest: the artifact folded batch by batch must
  * equal the one-shot compressed build, whatever the slicing.
  */
class StreamIndexIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols: _*).collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("\u0001"))
  }

  test("the streamed artifact equals postingShardsCompressed for slicings 1, 3 and 5") {
    val want = rows(InvertedIndex.postingShardsCompressed(
      graft.core.Tables.documents(spark, sf), "text", "doc_id", shardSpan = 100L))
    assert(want.nonEmpty)
    for (slices <- Seq(1, 3, 5)) {
      val got = rows(StreamIndexIngest.ingestAvailableNow(spark, sf, 100L, slices))
      assert(got == want, s"slices=$slices")
    }
  }
}
