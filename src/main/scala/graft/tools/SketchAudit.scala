package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Decontaminate, HeavyHitters, Packing}

/** Scale audit for the sketch-accelerated operators: measures the
  * NAIVE plan and the sketch plan on the same data and proves the
  * outputs identical (order-insensitive bit_xor-of-xxhash64 digest +
  * row count — exact, no float tolerance). Three pairs:
  *
  *   A. decontamination: plain gram-join screen vs Bloom-prefiltered
  *   B. heavy hitters:   groupBy-the-vocabulary vs MG-candidates+verify
  *   C. quantiles:       one-task global window vs distributed prefix sum
  *
  * Usage: runMain graft.tools.SketchAudit [sfDir]
  * (defaults to the 100x testdata_sf10; ~2-3 min there)
  */
object SketchAudit {

  private def digestOf(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => col(c).cast("string"))
    val row = df
      .agg(count(lit(1)).as("n"),
        bit_xor(xxhash64(concat_ws("", cols: _*))).as("h"))
      .head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  private def timed(label: String)(f: => (Long, Long)): (Long, Long) = {
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[sketchaudit] $label%-34s ${secs}%8.1fs rows=${r._1} hash=${r._2}")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/testdata_sf10")
    val spark = graft.core.Session.start("ERROR")
    println(s"[sketchaudit] sfDir=$sfDir")
    val docs = Tables.documents(spark, sfDir)

    // ---- A. decontamination: plain vs Bloom-prefiltered ----
    // Two regimes on the same corpus: the %10 split is ADVERSARIAL for
    // the prefilter (the benchmark gram set nearly saturates the
    // training vocabulary, so almost nothing filters and the second
    // shingle pass is pure overhead), the %1000 split is the shape the
    // op exists for (benchmark ≪ corpus, selectivity ≪ 1: the gram
    // exchange shrinks to the candidate trickle).
    for (mod <- Seq(10, 1000)) {
      val train = docs.where(col("doc_id") % mod =!= 0)
      val bench = docs.where(col("doc_id") % mod === 0)
      val plainScreen = timed(s"A%$mod plain ngramOverlap") {
        digestOf(Decontaminate.ngramOverlap(train, bench, "text", "doc_id", 3))
      }
      val bloomScreen = timed(s"A%$mod bloomOverlap") {
        digestOf(Decontaminate.bloomOverlap(train, bench, "text", "doc_id", 3))
      }
      require(plainScreen == bloomScreen,
        s"bloom screen diverged at mod=$mod: $plainScreen vs $bloomScreen")
      println(s"[sketchaudit] A%$mod outputs IDENTICAL")
    }

    // ---- A'. the same pair on the WIDE-VOCABULARY corpus ----
    // The driver corpus's 31-word vocabulary makes even the %1000
    // split only moderately selective; the 16k Zipfian corpus
    // (Tables.documentsWide) puts the %10 split at realistic sub-1%
    // gram selectivity — the regime the prefilter exists for, now
    // measurable without an extreme split ratio.
    val wide = Tables.documentsWide(spark, sfDir).localCheckpoint()
    try {
      for (mod <- Seq(10, 1000)) {
        val train = wide.where(col("doc_id") % mod =!= 0)
        val bench = wide.where(col("doc_id") % mod === 0)
        val sel = {
          def grams(df: DataFrame) = df.select(explode(
            graft.functions.Shingling.sortedShingles(
              graft.functions.TextAnalytics.tokens(col("text")), 3))
            .as("gram")).distinct()
          val b = grams(bench)
          val t = grams(train)
          val hit = t.join(b, Seq("gram"), "left_semi").count()
          hit.toDouble / math.max(t.count(), 1L)
        }
        println(f"[sketchaudit] A'%%$mod wide gram selectivity = $sel%.4f")
        val plainScreen = timed(s"A'%$mod wide plain ngramOverlap") {
          digestOf(Decontaminate.ngramOverlap(train, bench, "text", "doc_id", 3))
        }
        val bloomScreen = timed(s"A'%$mod wide bloomOverlap") {
          digestOf(Decontaminate.bloomOverlap(train, bench, "text", "doc_id", 3))
        }
        require(plainScreen == bloomScreen,
          s"wide bloom screen diverged at mod=$mod: $plainScreen vs $bloomScreen")
        println(s"[sketchaudit] A'%$mod outputs IDENTICAL")
      }
    } finally org.apache.spark.sql.classic.GraftColumnBridge
      .unpersistLocalCheckpoint(wide)

    // ---- B. heavy hitters: naive vocabulary shuffle vs MG ----
    val terms = docs.select(
      explode(graft.functions.Shingling.orderedShingles(
        graft.functions.TextAnalytics.tokens(col("text")), 2)).as("term"))
    val denom = 1000L
    val naiveHitters = timed("B naive groupBy+threshold") {
      val n = terms.agg(count(col("term"))).head().getLong(0)
      val t = if (n == 0) 1L else (n + denom - 1) / denom
      digestOf(terms.groupBy("term").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= t))
    }
    val mgHitters = timed("B MG candidates + verify") {
      digestOf(HeavyHitters.heavyHitters(terms, "term", denom))
    }
    require(naiveHitters == mgHitters,
      s"heavy hitters diverged: $naiveHitters vs $mgHitters")
    println("[sketchaudit] B outputs IDENTICAL")

    // ---- C. quantiles: one-task window vs distributed prefix sum ----
    val values = docs.select(
      greatest(coalesce(size(graft.functions.TextAnalytics.tokens(col("text"))),
        lit(0)), lit(0)).cast("long").as("v"))
    val qs = Seq(10L -> 100L, 25L -> 100L, 50L -> 100L,
      75L -> 100L, 90L -> 100L, 99L -> 100L)
    val naiveQ = timed("C one-task window quantiles") {
      // the plan exactQuantiles exists to avoid: global sort + one-task
      // cumulative window over the distinct-value table
      val n = values.count()
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("value").rowsBetween(Long.MinValue, -1)
      val ranked = values.groupBy(col("v").as("value"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("start", coalesce(sum("cnt").over(w), lit(0L)))
      val targets = qs.map { case (num, den) =>
        (num, den, (num * n + den - 1L) / den) }
      digestOf(targets.map { case (num, den, t) =>
        ranked.where(col("start") < t && lit(t) <= col("start") + col("cnt"))
          .select(lit(num).as("pct_num"), lit(den).as("pct_den"),
            col("value"))
      }.reduce(_ unionAll _))
    }
    val fastQ = timed("C distributed prefix-sum quantiles") {
      digestOf(graft.ops.Quantiles.exactQuantiles(values, "v", qs))
    }
    require(naiveQ == fastQ, s"quantiles diverged: $naiveQ vs $fastQ")
    println("[sketchaudit] C outputs IDENTICAL")

    // Packing reference consistency: the naive layout equals the
    // distributed one on the same frame (differential spot check at
    // this SF, complementing PackingProperties)
    val pk = docs.select(lit(0).as("g"), col("doc_id"),
      greatest(coalesce(size(graft.functions.TextAnalytics.tokens(col("text"))),
        lit(0)), lit(0)).cast("long").as("w"))
    val a = digestOf(Packing.startOffsetsAuto(pk, "g", "doc_id", "w"))
    val b = digestOf(Packing.startOffsetsNaive(pk, "g", "doc_id", "w"))
    require(a == b, s"packing layouts diverged: $a vs $b")
    println("[sketchaudit] D startOffsets distributed == naive")

    spark.stop()
  }
}
