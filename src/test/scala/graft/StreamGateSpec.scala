package graft

import org.apache.spark.sql.DataFrame
import graft.queries.Queries

/** The streaming tier under the oracle gate: q59/q60 run REAL
  * Structured Streaming queries (file source, AvailableNow, file sink)
  * over the same events parquet as their batch twins — on bounded
  * input the answers must be IDENTICAL, which is exactly what the
  * driver's DuckDB gate will assert at sf0.01.
  */
class StreamGateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols: _*).collect().map(_.toSeq).toSet
  }

  test("q59: streamed sessionize equals batch q10 exactly (sentinel flush)") {
    val stream = rows(Queries.q59SessionizeStream(spark, sf))
    val batch = rows(Queries.q10Sessionize(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("q60: streamed as-of enrichment equals batch q39 exactly") {
    val stream = rows(Queries.q60AsofStream(spark, sf))
    val batch = rows(Queries.q39AsofJoin(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("q61: stream-accumulated components equal batch q53 exactly") {
    val stream = rows(Queries.q61ComponentsStream(spark, sf))
    val batch = rows(Queries.q53DedupComponents(spark, sf))
    assert(stream == batch)
  }

  test("q73: streamed decontamination screen equals batch minHashScreen exactly") {
    // sf0.01: the sf0.001 corpus plants no cross-set near-dups, and an
    // empty == empty equality would prove nothing
    val dir = "/root/testdata/sf0.01"
    val stream = rows(Queries.q73DecontaminateStream(spark, dir))
    val batch = rows(Queries.q70DecontaminateMinhash(spark, dir))
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("q59/q60/q61 are wired into the catalog with their twins' oracles") {
    assert(Queries.all.contains("q59_sessionize_stream"))
    assert(Queries.all.contains("q60_asof_stream"))
    assert(Queries.all.contains("q61_components_stream"))
    assert(Queries.oracles("q59_sessionize_stream") ==
      Queries.oracles("q10_sessionize"))
    assert(Queries.oracles("q60_asof_stream") ==
      Queries.oracles("q39_asof_join"))
    assert(Queries.oracles("q61_components_stream") ==
      Queries.oracles("q53_dedup_components"))
  }

  test("q26/q70/q73 are wired into the catalog with their twins' oracles") {
    for ((q, twin) <- Seq(
        "q26_minhash_lsh" -> "q26b_minhash_lsh_portable",
        "q70_decontaminate_minhash" -> "q70b_minhash_portable",
        "q73_decontaminate_stream" -> "q73b_decontaminate_stream_portable")) {
      assert(Queries.all.contains(q) && Queries.all.contains(twin))
      assert(Queries.oracles(q) == Queries.oracles(twin), q)
    }
  }
}
