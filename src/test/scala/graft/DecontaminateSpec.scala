package graft

import org.apache.spark.sql.functions._

import graft.ops.{Decontaminate, Dedup}

/** Benchmark n-gram decontamination: crafted corpus with known overlap
  * structure, checked against hand-computed expectations (one row per
  * training doc, zero-hit docs included).
  */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("ngramOverlap flags exactly the docs sharing a benchmark n-gram") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")).toDF("id", "text")
    val train = Seq(
      // shares "quick brown fox" with bench 100
      (1L, "a quick brown fox appeared"),
      // shares nothing (no common 3-gram)
      (2L, "the dog sleeps all day long"),
      // verbatim copy of bench 101 -> every 3-gram hits
      (3L, "pack my box with five dozen liquor jugs"),
      // too short for any 3-gram
      (4L, "hi there")).toDF("id", "text")

    val out = Decontaminate.ngramOverlap(train, bench, "text", "id", n = 3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap

    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // doc 1: 3 distinct 3-grams, exactly "quick brown fox" hits
    assert(out(1L) == (3L, 1L, 0.3333, true))
    // doc 2: 4 distinct 3-grams, none in the benchmark
    assert(out(2L) == (4L, 0L, 0.0, false))
    // doc 3: all 6 grams hit (verbatim benchmark copy)
    assert(out(3L) == (6L, 6L, 1.0, true))
    // doc 4: no 3-grams at all -> clean by definition
    assert(out(4L) == (0L, 0L, 0.0, false))
  }

  private def spans(
      train: Seq[(Long, String)], bench: Seq[(Long, String)], n: Int) =
    Decontaminate.ngramHitSpans(
      train.toDF("id", "text"), bench.toDF("id", "text"), "text", "id", n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("ngramHitSpans: single hit covers [pos, pos+n), clean docs emit no rows") {
    val got = spans(
      train = Seq(
        (1L, "a quick brown fox appeared"), // hit at token offset 1
        (2L, "nothing in common here at all")),
      bench = Seq((100L, "the quick brown fox jumps")), n = 3)
    assert(got === Seq((1L, 1L, 4L, 1L)))
  }

  test("ngramHitSpans: overlapping and adjacent hits merge; distant hits split") {
    // bench grams (n=2): "p q", "q r", "x y"
    // train doc: p q r s t u x y v w p q
    //   hits at pos 0 ("p q"), 1 ("q r") -> overlap, merge to [0, 3)
    //   hit at pos 6 ("x y"): gap 6-1=5 > 2 -> new span [6, 8)
    //   hit at pos 10 ("p q"): gap 4 > 2 -> new span [10, 12)
    val got = spans(
      train = Seq((1L, "p q r s t u x y v w p q")),
      bench = Seq((100L, "p q r"), (101L, "x y")), n = 2)
    assert(got === Seq((1L, 0L, 3L, 2L), (1L, 6L, 8L, 1L), (1L, 10L, 12L, 1L)))
  }

  test("ngramHitSpans: exactly-adjacent covers merge; one-token gap splits") {
    // "a b c d" -> hits "a b"@0 and "c d"@2: covers [0,2) and [2,4)
    // touch (gap 2 == n) -> one span [0,4)
    val touching = spans(
      train = Seq((1L, "a b c d")),
      bench = Seq((100L, "a b"), (101L, "c d")), n = 2)
    assert(touching === Seq((1L, 0L, 4L, 2L)))
    // "a b z c d" -> hits @0 and @3: gap 3 > n -> token 2 ("z") stays
    // uncovered, two spans
    val split = spans(
      train = Seq((1L, "a b z c d")),
      bench = Seq((100L, "a b"), (101L, "c d")), n = 2)
    assert(split === Seq((1L, 0L, 2L, 1L), (1L, 3L, 5L, 1L)))
  }

  test("ngramHitSpans: repeated gram hits every occurrence positionally") {
    val got = spans(
      train = Seq((1L, "k k x x x k k")),
      bench = Seq((100L, "k k")), n = 2)
    // "k k" occurs at pos 0 and pos 5; far apart -> two spans
    assert(got === Seq((1L, 0L, 2L, 1L), (1L, 5L, 7L, 1L)))
  }

  test("exciseSpans: cuts windows, splits docs, passes clean docs through whole") {
    val docs = Seq(
      (1L, "a b c d e f g h"), // spans [2,4) and [6,8) -> 3 cuts, middle+head survive
      (2L, "x y z"),           // no spans -> whole doc, one segment
      (3L, "p q r s"),         // span [0,4) covers everything -> no segments
      (4L, "")                 // token-less -> no segments
    ).toDF("id", "text")
    val spans = Seq(
      (1L, 2L, 4L), (1L, 6L, 8L),
      (3L, 0L, 4L)).toDF("id", "span_start", "span_end")
    val got = Decontaminate.exciseSpans(docs, spans, "text", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq.sorted
    assert(got === Seq(
      (1L, 0L, 2L, "a b"),
      (1L, 4L, 6L, "e f"),
      (2L, 0L, 3L, "x y z"),
      (3L, 0L, 0L, "")).filter(s => s._3 > s._2))
    assert(got === Seq(
      (1L, 0L, 2L, "a b"),
      (1L, 4L, 6L, "e f"),
      (2L, 0L, 3L, "x y z")))
  }

  test("exciseSpans composes with ngramHitSpans: excised corpus has zero hits left") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("id", "text")
    val train = Seq(
      (1L, "intro words the quick brown fox jumps and a clean tail here"),
      (2L, "totally unrelated content stays untouched")).toDF("id", "text")
    val spans = Decontaminate.ngramHitSpans(train, bench, "text", "id", n = 3)
    val cleaned = Decontaminate.exciseSpans(train, spans, "text", "id")
    // re-screening the surviving segments finds nothing: excision is
    // complete by construction (every hit window was cut)
    val rescreen = Decontaminate.ngramHitSpans(
      cleaned.select(col("id"), col("seg_text").as("text")),
      bench, "text", "id", n = 3)
    assert(rescreen.count() === 0)
    // the clean doc survived verbatim as one segment
    val seg2 = cleaned.where(col("id") === 2).collect()
    assert(seg2.length === 1 && seg2.head.getString(3) ===
      "totally unrelated content stays untouched")
  }

  test("jaccardScreen finds exactly the cross-set pairs at-or-above threshold") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (101L, "pack my box with five dozen liquor jugs tonight")).toDF("id", "text")
    val train = Seq(
      // one word substituted in a copy of bench 100 -> high Jaccard
      (1L, "the quick brown fox jumps over the lazy cat near the river bank"),
      // unrelated
      (2L, "completely different content with no shared phrasing at all"),
      // verbatim copy of bench 101 -> Jaccard 1.0
      (3L, "pack my box with five dozen liquor jugs tonight")).toDF("id", "text")
    val got = Decontaminate.jaccardScreen(
      train, bench, "text", "id", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 100L), (3L, 101L)))
    assert(got(1)._3 === 1.0)
    // doc 1: 12 distinct 2-grams per side, 9 shared ("lazy cat",
    // "cat near" replace "lazy dog", "dog near"; one substitution hits
    // 2 grams + sets stay 12) -> 9/15 = 0.6
    assert(got(0)._3 > 0.5 && got(0)._3 < 1.0)
  }

  private def screenRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The cross-set verify paths run directly on Dedup's shared shingle
    * tables: the count verify over their postings, the array verify
    * over every (train, bench) pair — a candidate superset.
    */
  private def verifyPaths(
      train: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame,
      bucketCap: Int = 4096) = {
    val shT = Dedup.shingleTable(train, "text", "id", 2)
    val shB = Dedup.shingleTable(bench, "text", "id", 2)
    val viaCount = Decontaminate.gramCountCrossVerify(
      Dedup.postings(shT), Dedup.postings(shB), 0.5, bucketCap)
    val allPairs = shT.select(col("id"))
      .crossJoin(shB.select(col("id").as("bench_id")))
    val viaArray = Dedup.arrayVerify(allPairs, shT, shB, "id", "bench_id", 0.5)
    (screenRows(viaCount), screenRows(viaArray))
  }

  test("jaccardScreen: count verify == array verify == auto, jaccard included") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (101L, "pack my box with five dozen liquor jugs tonight")).toDF("id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy cat near the river bank"),
      (2L, "completely different content with no shared phrasing at all"),
      (3L, "pack my box with five dozen liquor jugs tonight")).toDF("id", "text")
    // at test scale the public screen stays under the verify decision's
    // element floor, so it takes the array path
    val viaAuto = screenRows(Decontaminate.jaccardScreen(
      train, bench, "text", "id", shingleN = 2, threshold = 0.5))
    val (viaCount, viaArray) = verifyPaths(train, bench)
    assert(viaCount === viaAuto)
    assert(viaArray === viaAuto)
    assert(viaAuto.map(p => (p._1, p._2)) === Set((1L, 100L), (3L, 101L)))
  }

  test("jaccardScreen: the count verify's train-side salt split (cap 1, " +
      "every gram splits) keeps the array verify's rows") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "one two three four five six seven eight nine ten")).toDF("id", "text")
    // repeated near-copies give the shared grams train-side df >= 2
    val train = ((0 until 4).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota v$i")) ++
      (0 until 4).map(i =>
        (10L + i, s"one two three four five six seven eight w$i ten")) ++
      Seq((20L, "unrelated words that share nothing with any benchmark")))
      .toDF("id", "text")
    val (viaCount, viaArray) = verifyPaths(train, bench, bucketCap = 1)
    assert(viaCount === viaArray)
    assert(viaArray.map(p => (p._1, p._2)) ===
      ((0L until 4L).map((_, 100L)) ++ (10L until 14L).map((_, 101L))).toSet)
  }

  test("minHashScreen recall vs the exact screen on planted near-contaminated docs") {
    // 30 clean train docs + 3 planted near-copies of benchmark docs;
    // seeded-xxhash64 banding is deterministic, so this pins recall on
    // THIS corpus exactly (the q22<->q26 cross-check pattern)
    val bench = Seq(
      (200L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (201L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("id", "text")
    val clean = (0 until 30).map(i =>
      (i.toLong, s"unique$i filler$i words$i nothing$i shared$i here$i at$i all$i"))
    val planted = Seq(
      (50L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (51L, "one two three four five six seven eight nine ten eleven thirteen"),
      (52L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
    val train = (clean ++ planted).toDF("id", "text")

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Decontaminate.jaccardScreen(
      train, bench, "text", "id", shingleN = 2, threshold = 0.5))
    val fuzzy = pairs(Decontaminate.minHashScreen(
      train, bench, "text", "id", shingleN = 2, bands = 8, rowsPerBand = 4,
      threshold = 0.5))
    assert(exact === Set((50L, 200L), (51L, 201L), (52L, 200L)))
    // LSH may only lose pairs, never invent them (verify is exact)...
    assert(fuzzy.subsetOf(exact))
    // ...and at these J levels (>= 0.83) with 8 bands it loses none
    assert(fuzzy === exact)
    // the train-side bucket skew guard redistributes work only:
    // forcing every bucket to salt-split reproduces the pair set
    val salted = pairs(Decontaminate.minHashScreen(
      train, bench, "text", "id", shingleN = 2, bands = 8, rowsPerBand = 4,
      threshold = 0.5, bucketCap = 1))
    assert(salted === fuzzy)
  }

  test("overlap counts distinct grams once however often they repeat") {
    val bench = Seq((9L, "x y x y x y")).toDF("id", "text")
    // "x y" 3-grams: "x y x", "y x y" both appear repeatedly in bench;
    // the training doc's distinct grams each count once
    val train = Seq((1L, "x y x y")).toDF("id", "text")
    val r = Decontaminate.ngramOverlap(train, bench, "text", "id", n = 3)
      .head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L && r.getDouble(3) == 1.0)
  }

  private def selfSpans(docs: Seq[(Long, String)], n: Int) =
    Decontaminate.selfHitSpans(docs.toDF("id", "text"), "text", "id", n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("selfHitSpans: owner doc emits no rows; non-owner spans merge; " +
      "distant repeats split islands") {
    val got = selfSpans(Seq(
      // owner of "p q r" (minimum id) — keeps all its occurrences
      (1L, "p q r u1 u2"),
      (2L, "v1 p q r v2"),
      // two occurrences 8 apart (> n) -> two islands
      (4L, "p q r a1 a2 a3 a4 a5 p q r")), n = 3)
    assert(got === Seq(
      (2L, 1L, 4L, 1L),
      (4L, 0L, 3L, 1L), (4L, 8L, 11L, 1L)))
  }

  test("selfHitSpans: overlapping shared windows merge into one span") {
    val got = selfSpans(Seq(
      (1L, "alpha beta gamma delta t1 t2"),
      // shares "alpha beta gamma" (pos 2) and "beta gamma delta"
      // (pos 3): gap 1 <= n -> one merged span [2, 6)
      (2L, "s1 s2 alpha beta gamma delta s3")), n = 3)
    assert(got === Seq((2L, 2L, 6L, 2L)))
  }

  test("selfHitSpans: a gram repeated only WITHIN one doc is not a dup") {
    // "r1 r2 r3" occurs twice in doc 5 and nowhere else — duplication
    // is cross-document (>= 2 distinct ids), so nothing is flagged
    val got = selfSpans(Seq(
      (5L, "r1 r2 r3 filler r1 r2 r3"),
      (6L, "unrelated words entirely here")), n = 3)
    assert(got.isEmpty)
  }

  test("selfHitSpans composes with exciseSpans: one excision pass " +
      "leaves a corpus with no cross-doc duplicate grams") {
    val docs = Seq(
      (1L, "alpha beta gamma delta t1 t2"),
      (2L, "s1 s2 alpha beta gamma delta s3")).toDF("id", "text")
    val spans = Decontaminate.selfHitSpans(docs, "text", "id", n = 3)
    val cleaned = Decontaminate.exciseSpans(docs, spans, "text", "id")
      // segments of one doc re-key as distinct ids so the re-screen
      // sees them as separate documents
      .select((col("id") * 100 + col("seg_start")).as("id"),
        col("seg_text").as("text"))
    assert(Decontaminate.selfHitSpans(cleaned, "text", "id", n = 3)
      .count() === 0)
  }

  // --- Bloom-prefiltered screen -------------------------------------

  private val bloomBench = Seq(
    (100L, "the quick brown fox jumps over the lazy dog"),
    (101L, "pack my box with five dozen liquor jugs"))
  private val bloomTrain = Seq(
    (1L, "a quick brown fox appeared"),
    (2L, "the dog sleeps all day long"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "hi there"),
    (5L, null.asInstanceOf[String])) // null text -> n_grams = 0 row

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
      .toSet

  // a tiny bench fits any sane broadcast budget, so the self-routing
  // would delegate to the plain screen — delegateBytes = 0L forces the
  // sketch machinery
  test("bloomOverlap is bit-identical to ngramOverlap (null text included)") {
    val train = bloomTrain.toDF("id", "text")
    val bench = bloomBench.toDF("id", "text")
    val exact = asRows(Decontaminate.ngramOverlap(train, bench, "text", "id", 3))
    val bloom = asRows(Decontaminate.bloomOverlap(train, bench, "text", "id", 3,
      delegateBytes = 0L))
    assert(bloom === exact)
    assert(bloom.map(_._1) === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("bloomOverlap under a 1-byte budget (saturated filter, all false " +
      "positives) still verifies exactly") {
    spark.conf.set(graft.functions.Bloom.BloomBytesKey, "1")
    try {
      val train = bloomTrain.toDF("id", "text")
      val bench = bloomBench.toDF("id", "text")
      assert(
        asRows(Decontaminate.bloomOverlap(train, bench, "text", "id", 3,
          delegateBytes = 0L)) ===
          asRows(Decontaminate.ngramOverlap(train, bench, "text", "id", 3)))
    } finally spark.conf.unset(graft.functions.Bloom.BloomBytesKey)
  }

  test("bloomOverlap's candidate prefilter is in the plan (codegen predicate " +
      "before the gram join)") {
    val out = Decontaminate.bloomOverlap(
      bloomTrain.toDF("id", "text"), bloomBench.toDF("id", "text"),
      "text", "id", 3, delegateBytes = 0L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"))
  }

  test("bloomOverlap self-routes: a broadcast-sized bench delegates to " +
      "the plain screen (no sketch in the plan), same rows") {
    val train = bloomTrain.toDF("id", "text")
    val bench = bloomBench.toDF("id", "text")
    val out = Decontaminate.bloomOverlap(train, bench, "text", "id", 3)
    assert(!out.queryExecution.executedPlan.toString
      .contains("bloom_might_contain"))
    assert(asRows(out) ===
      asRows(Decontaminate.ngramOverlap(train, bench, "text", "id", 3)))
  }

  test("Bloom.buildString caps the bitset at the byte budget and never " +
      "false-negatives") {
    import graft.functions.Bloom
    val df = (1 to 1000).map(i => s"tok$i").toDF("gram")
    val capped = Bloom.buildString(df, "gram",
      expectedItems = 1000, fpp = 0.001, maxBytes = 64)
    assert(capped.bitSize() <= 64 * 8)
    val roomy = Bloom.buildString(df, "gram",
      expectedItems = 1000, fpp = 0.01, maxBytes = 1L << 20)
    assert(roomy.bitSize() >
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(1000, 0.01) - 64)
    // no false negatives on either filter
    (1 to 1000).foreach { i =>
      assert(capped.mightContainString(s"tok$i"))
      assert(roomy.mightContainString(s"tok$i"))
    }
  }

  test("incremental minHash screen (carry-unchanged + re-screen-delta) " +
      "equals the full recompute on a dense near-dup corpus") {
    // bench docs 0-9; pool docs 100-179 where every doc is a noisy copy
    // of bench doc (id % 10) — dense hits, so carried AND rescreened
    // rows both appear in the output being compared
    def benchText(i: Long) = s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
    val bench = (0L until 10L).map(i => (i, benchText(i))).toDF("doc_id", "text")
    def v(edit: Long => Boolean) = (100L until 180L).map { i =>
      val base = benchText(i % 10) + s" tail$i"
      (i, if (edit(i)) base + " edited" else base)
    }.toDF("doc_id", "text")
    val v1 = v(_ => false).where(col("doc_id") % 9 =!= 0)   // some added in v2
    val v2 = v(i => i % 4 == 0).where(col("doc_id") % 6 =!= 1) // some removed

    def screen(train: org.apache.spark.sql.DataFrame) =
      Decontaminate.minHashScreen(train, bench, "text", "doc_id",
        shingleN = 2, bands = 8, rowsPerBand = 4, threshold = 0.5)
        .withColumnRenamed("id", "doc_id")

    val delta = graft.ops.SnapshotDiff.diff(v1, v2, "doc_id", Seq("text"))
      .withColumnRenamed("id", "doc_id")
    val carried = screen(v1).join(
      delta.where(col("status") === "unchanged").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val rescreen = screen(v2.join(
      delta.where(col("status").isin("added", "changed")).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val got = carried.unionByName(rescreen)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = screen(v2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // both incremental branches contributed rows
    assert(carried.count() > 0 && rescreen.count() > 0)
  }
}
