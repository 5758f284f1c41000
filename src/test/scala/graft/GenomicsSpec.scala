package graft

import org.apache.spark.sql.functions._
import graft.functions.Genomics

class GenomicsSpec extends SparkSpec {
  import spark.implicits._

  private def expand(cigar: String, seq: String): Any =
    Seq((cigar, seq)).toDF("c", "s")
      .select(Genomics.cigarExpand(col("c"), col("s"))).head().get(0)

  test("cigar expansion: M copies, D gaps, bare letters are run 1") {
    assert(expand("3M", "ABC") == "ABC")
    assert(expand("2M2D1M", "ABC") == "AB--C")
    assert(expand("MDM", "AB") == "A-B")
    assert(expand("10M", "ABCDEFGHIJ") == "ABCDEFGHIJ")
  }

  test("cigar expansion: malformed input yields null") {
    assert(expand("5M", "ABC") == null)   // sequence exhausted
    assert(expand("2X", "ABC") == null)   // unknown op
  }

  test("percent identity: gap-aware match fraction") {
    def pid(a: String, b: String): Double =
      Seq((a, b)).toDF("a", "b")
        .select(Genomics.percentIdentity(col("a"), col("b"))).head().getDouble(0)
    assert(pid("ABCD", "ABCD") == 1.0)
    assert(pid("ABCD", "ABCX") == 0.75)
    assert(pid("A-CD", "ABCD") == 1.0)     // gap positions excluded
    assert(pid("A-CD", "AB-D") == 1.0)     // both gaps excluded
    assert(pid("----", "ABCD") == 0.0)     // no comparable position
    assert(pid("AXCD", "AYCD") == 0.75)
  }

  test("expressions evaluate identically with and without codegen") {
    val df = Seq(("2M1D2M", "ABCD", "AB-CD")).toDF("c", "s", "ref")
      .select(
        Genomics.cigarExpand(col("c"), col("s")).as("exp"),
        col("ref"))
    val rows = df.collect()
    assert(rows(0).getString(0) == "AB-CD")
    // force interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val r2 = Seq(("2M1D2M", "ABCD")).toDF("c", "s")
        .select(Genomics.cigarExpand(col("c"), col("s"))).collect()
      assert(r2(0).getString(0) == "AB-CD")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("functions are SQL-registered via GraftExtensions") {
    // the shared session is built with graft.GraftExtensions, which
    // injects the SQL functions alongside the planner strategies
    val got = spark.sql("SELECT cigar_expand('2M1D1M', 'abc') AS e, " +
      "percent_identity('AB-D', 'ABCD') AS p").head()
    assert(got.getString(0) == "ab-c")
    assert(got.getDouble(1) == 1.0)
  }

  test("null inputs propagate to null output") {
    val df = Seq((Option.empty[String], Option("ABC"))).toDF("c", "s")
    val r = df.select(Genomics.cigarExpand(col("c"), col("s"))).head()
    assert(r.isNullAt(0))
  }
}
