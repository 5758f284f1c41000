package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamHeavyHitters

/** Streaming MG heavy hitters: bounded state, and on bounded input
  * the exact-verified output equals the batch operator verbatim
  * across slicings and group counts.
  */
class StreamHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def batchAnswer(denom: Long): Map[String, Long] = {
    val terms = graft.core.Tables.documents(spark, sf).select(
      explode(graft.functions.Shingling.orderedShingles(
        graft.functions.TextAnalytics.tokens(col("text")), 2)).as("term"))
    graft.ops.HeavyHitters.heavyHitters(terms, "term", denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("equals the batch operator on bounded input across slicings " +
      "and group counts") {
    val want = batchAnswer(1000L)
    assert(want.nonEmpty)
    for ((groups, slices) <- Seq((1, 1), (4, 3), (16, 5))) {
      val got = StreamHeavyHitters
        .heavyHittersAvailableNow(spark, sf, 1000L, groups, slices)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want, s"groups=$groups slices=$slices")
    }
  }

  test("state is bounded: every emission carries at most k = denom+1 " +
      "candidates however much stream has passed") {
    val k = 6 // denom 5: tiny budget, heavy eviction
    val terms = (1 to 400).flatMap(i => Seq.fill(1 + i % 7)(s"t${i % 40}"))
      .zipWithIndex
      .map { case (t, i) => (i % 3, t) } // 3 spray groups
    val dir = graft.streaming.StreamGate.stageSlices(
      terms.toDF("g", "term"), col("term"), 4, "mgterms")
    val stream = graft.streaming.StreamGate.streamStaged(spark, dir)
      .select(col("g").cast("int"), col("term")).as[(Int, String)]
    val emissions = graft.streaming.StreamGate.runAvailableNow(
      StreamHeavyHitters.mgSummaryStream(stream, k).toDF())
      .collect()
    assert(emissions.nonEmpty)
    emissions.foreach { r =>
      assert(r.getSeq[String](2).size <= k,
        s"group ${r.getInt(0)} emission exceeded k=$k")
    }
    // multi-batch statefulness actually exercised: some group emitted
    // more than once with growing n
    val byGroup = emissions.groupBy(_.getInt(0))
    assert(byGroup.values.exists(_.length > 1))
    byGroup.values.foreach { es =>
      val ns = es.map(_.getLong(1)).sorted
      assert(ns.distinct.length === ns.length, "n must be monotone per group")
    }
  }
}
