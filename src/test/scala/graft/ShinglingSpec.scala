package graft

import org.apache.spark.sql.functions._

import graft.functions.{Shingling, TextAnalytics}
import graft.ops.Dedup

/** Parity of the native shingle/MinHash kernels with the HOF
  * formulations they replace — the native versions must be
  * bit-identical drop-ins (DocStreams' static index and the LSH
  * buckets both depend on signatures agreeing across code paths).
  * The randomized parity property lives in [[GraftProperties]].
  */
class ShinglingSpec extends SparkSpec {
  import spark.implicits._

  private def hofSortedShingles(toks: org.apache.spark.sql.Column, n: Int) =
    sort_array(TextAnalytics.shinglesOf(toks, n))

  // parity reference for the md5 kernel: one interpreted
  // md5 -> hex -> base-16 parse per (shingle, permutation)
  private def hofMd5MinHash(sh: org.apache.spark.sql.Column, k: Int) =
    array((0 until k).map { i =>
      array_min(transform(sh, g =>
        conv(substring(md5(concat(lit(s"$i:"), g).cast("binary")), 1, 15),
          16, 10).cast("long")))
    }: _*)

  test("native tokens matches filter(split) on crafted cases") {
    val texts = Seq("a  b   c", "", "   ", " x", "x ", "héllo  wörld",
      "a\tb", "one two  three")
    val df = texts.toDF("text").select(
      Shingling.tokens(col("text")).as("native"),
      filter(split(col("text"), " "), t => t =!= lit("")).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"row=$r")
    }
  }

  test("sortedShingles matches the HOF formulation on crafted cases") {
    val texts = Seq(
      "a b c d e",
      "a a a a",
      "b a b a b",
      "x",
      "",
      "one two three two one",
      "zz aa zz aa mm")
    for (n <- Seq(1, 2, 3, 5, 6)) {
      val df = texts.toDF("text")
        .select(TextAnalytics.tokens(col("text")).as("toks"))
        .select(
          Shingling.sortedShingles(col("toks"), n).as("native"),
          hofSortedShingles(col("toks"), n).as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n row=$r")
      }
    }
  }

  test("orderedShingles matches the positional HOF formulation") {
    // positional HOF: window i joins tokens [i, i+n) in order — no
    // sort, no dedup; empty when the doc is shorter than n
    def hofOrdered(toksC: org.apache.spark.sql.Column, n: Int) =
      when(size(toksC) >= n,
        transform(sequence(lit(0), size(toksC) - n),
          i => concat_ws(" ", slice(toksC, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    val texts = Seq(
      "a b c d e",
      "a a a a",
      "b a b a b",
      "x",
      "",
      "one two three two one")
    for (n <- Seq(1, 2, 3, 5, 6)) {
      val df = texts.toDF("text")
        .select(TextAnalytics.tokens(col("text")).as("toks"))
        .select(
          Shingling.orderedShingles(col("toks"), n).as("native"),
          hofOrdered(col("toks"), n).as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n row=$r")
      }
    }
  }

  test("md5 minHashSignaturePortable matches the md5 HOF formulation") {
    // the last text has multi-byte UTF-8 shingles (2- and 3-byte chars)
    val texts = Seq("a b c d e f g", "q w e r t y", "a a a", "single",
      "héllo wörld naïve café 東京 タワー")
    for (k <- Seq(1, 8, 32)) {
      val df = texts.toDF("text")
        .select(TextAnalytics.tokens(col("text")).as("toks"))
        .select(Shingling.sortedShingles(col("toks"), 2).as("sh"))
        .where(size(col("sh")) > 0)
        .select(
          Dedup.minHashSignature(col("sh"), k).as("native"),
          hofMd5MinHash(col("sh"), k).as("hof"))
      val rows = df.collect()
      assert(rows.length == texts.size - 1)
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k row=$r")
      }
    }
  }

  test("md5 signature of an empty or all-null shingle set is all nulls (HOF parity)") {
    val df = Seq(Seq.empty[String], Seq[String](null, null)).toDF("sh")
      .select(
        Dedup.minHashSignature(col("sh"), 4).as("native"),
        hofMd5MinHash(col("sh"), 4).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[Any](0) == Seq(null, null, null, null))
      assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    }
  }

  test("shingleStats matches explode/groupBy counting on crafted cases") {
    val texts = Seq(
      "a b c d e",
      "a a a a",
      "b a b a b",
      "x",
      "",
      "one two three two one",
      "zz aa zz aa mm zz aa")
    for (n <- Seq(1, 2, 3, 5, 8)) {
      val toks = texts.toDF("text")
        .withColumn("i", monotonically_increasing_id())
        .select(col("i"), TextAnalytics.tokens(col("text")).as("toks"))
      val native = toks
        .select(col("i"), Shingling.shingleStats(col("toks"), n).as("s"))
        .select(col("i"), col("s.total"), col("s.n_distinct"), col("s.max_freq"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
        .toMap
      // oracle: explode the NON-distinct gram bag and count
      // (shinglesOf dedups, so build the raw bag with the HOFs directly)
      val grams = toks.select(col("i"),
        explode(
          when(size(col("toks")) >= n,
            transform(sequence(lit(0), size(col("toks")) - n),
              j => concat_ws(" ", slice(col("toks"), j + 1, lit(n)))))
            .otherwise(array())).as("g"))
      val expected = grams.groupBy("i", "g").count()
        .groupBy("i")
        .agg(sum("count").cast("int").as("total"),
          count(lit(1)).cast("int").as("nd"),
          max("count").cast("int").as("mf"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
        .toMap
      toks.select("i").collect().map(_.getLong(0)).foreach { i =>
        assert(native(i) == expected.getOrElse(i, (0, 0, 0)), s"n=$n i=$i")
      }
    }
  }

  test("shingleStats is null-element safe at every width (concat_ws semantics)") {
    val df = Seq(1).toDF("x")
      .select(array(lit("a"), lit(null).cast("string"), lit("a"), lit(null).cast("string"))
        .as("toks"))
      .select(
        Shingling.shingleStats(col("toks"), 1).as("s1"),
        Shingling.shingleStats(col("toks"), 2).as("s2"))
      .head()
    // n=1: nulls collapse to "" -> grams (a, "", a, "") -> 4 total, 2 distinct
    assert(df.getStruct(0).toSeq == Seq(4, 2, 2))
    // n=2: concatWs skips nulls -> ("a", "a", "a") -> 3 total, 1 distinct
    assert(df.getStruct(1).toSeq == Seq(3, 1, 3))
  }

  test("repetitionStats fractions and keep rule on crafted docs") {
    val df = Seq(
      // 10 distinct tokens: dup fractions 0, top-2-gram 1/9 = 0.1111, keep
      ("clean", "a b c d e f g h i j"),
      // "x x x x x": dup_tok 4/5=0.8, top2 4/4=1.0, dup3 2/3=0.6667 -> drop
      ("loop", "x x x x x"),
      ("empty", "")).toDF("name", "text")
      .select(col("name"), TextAnalytics.repetitionStats(
        TextAnalytics.tokens(col("text"))).as("r"))
      .select(col("name"), col("r.dup_tok_frac"), col("r.top_2gram_frac"),
        col("r.dup_3gram_frac"), col("r.keep"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(df("clean") == (0.0, 0.1111, 0.0, true))
    assert(df("loop") == (0.8, 1.0, 0.6667, false))
    assert(df("empty") == (0.0, 0.0, 0.0, true))
  }

  test("native kernels stay inside whole-stage codegen") {
    // spark.range source: a local Seq collapses into a LocalRelation at
    // optimize time and never reaches the codegen planner
    val plan = spark.range(10).select(concat_ws(" ",
        lit("a"), col("id").cast("string"), lit("b c")).as("text"))
      .select(TextAnalytics.tokens(col("text")).as("toks"))
      .select(Shingling.sortedShingles(col("toks"), 2).as("sh"))
      .select(Dedup.minHashSignature(col("sh"), 8).as("sig"))
      .queryExecution.executedPlan
    // the Project carrying all three kernels must sit INSIDE a
    // WholeStageCodegen stage (printed as the `*(n)` prefix)
    def inCodegen(kernel: Class[_]) = plan.exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.exists {
          case p: org.apache.spark.sql.execution.ProjectExec =>
            p.projectList.exists(_.exists(_.getClass == kernel))
          case _ => false
        }
      case _ => false
    }
    assert(inCodegen(classOf[Shingling.Md5MinHashSig]),
      s"expected Md5MinHashSig inside codegen:\n$plan")
  }
}
