package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Queries
import graft.streaming.{StreamBm25, StreamGate, StreamIndexIngest}

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

  private def entries(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  test("the stager writes each non-empty slice as exactly one file, " +
      "mtimes increasing in slice order, and skips the empty slices") {
    val s = spark
    import s.implicits._
    val slices = 7
    // three keys over seven slices: at least four slices stay empty
    val input = (1 to 30).map(i => ((i % 3).toLong, s"v$i")).toDF("k", "v")
    val sliceOf = input.select(col("k"), pmod(xxhash64(col("k")), lit(slices)))
      .as[(Long, Long)].collect().toMap
    val dir = StreamGate.stageSlices(input, col("k"), slices, "contract")

    val name = """contract_(\d\d)\.parquet""".r
    val staged = entries(dir).map { p =>
      p.getFileName.toString match {
        case name(i) => i.toInt -> p
        case other => fail(s"unexpected staged entry $other")
      }
    }.sortBy(_._1)
    assert(staged.map(_._1) == sliceOf.values.map(_.toInt).toSeq.distinct.sorted)
    assert(staged.size >= 2 && staged.size < slices)
    val mtimes = staged.map { case (_, p) => Files.getLastModifiedTime(p).toMillis }
    assert(mtimes.zip(mtimes.drop(1)).forall { case (a, b) => a < b }, mtimes)
    val perSlice = staged.map { case (i, p) =>
      i -> spark.read.parquet(p.toString).as[(Long, String)].collect().toSeq
    }
    perSlice.foreach { case (i, rs) =>
      assert(rs.nonEmpty && rs.forall { case (k, _) => sliceOf(k) == i }, s"slice $i")
    }
    assert(perSlice.flatMap(_._2).sorted == input.as[(Long, String)].collect().toSeq.sorted)
  }

  test("the q112 and q130 gates leave no checkpoint dir in the system temp dir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def ckpts(): Set[String] = entries(tmp).map(_.getFileName.toString)
      .filter(_.matches("graft_.*_ckpt_.*")).toSet
    val before = ckpts()
    val dir = "/root/testdata/sf0.01"
    assert(StreamBm25.bm25StreamAvailableNow(spark, dir).count() > 0)
    assert(StreamIndexIngest.ingestAvailableNow(spark, dir).count() > 0)
    val gained = ckpts() -- before
    assert(gained.isEmpty, s"checkpoint dirs leaked into $tmp: ${gained.mkString(", ")}")
  }
}
