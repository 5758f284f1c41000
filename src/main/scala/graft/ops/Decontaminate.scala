package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Shingling, TextAnalytics}

/** Benchmark DECONTAMINATION for a pretraining corpus: flag every
  * training document that shares at least one n-gram with a held-out
  * evaluation/benchmark set, so contaminated documents can be dropped
  * before training (the standard n-gram overlap screen — GPT-3 used
  * 13-gram matches, The Pile/Gopher variants the same shape with
  * different widths; Brown et al. 2020 appendix C).
  *
  * Plan shape, built for the 100 TB side being the TRAINING side:
  *
  *  - The benchmark's distinct n-gram set is built once — benchmarks
  *    are small (10⁴–10⁷ grams), so this side of the join is
  *    broadcast-able and Spark's planner broadcasts it under the
  *    threshold; above it the join degrades gracefully to a keyed
  *    shuffle on the gram string. Nothing is ever collected to the
  *    driver.
  *  - The training side is read ONCE: `explode_outer` over the
  *    DISTINCT per-doc grams (the
  *    [[graft.functions.Shingling.SortedShingles]] kernel dedups
  *    per-doc, bounding the explode at distinct-gram count) carries
  *    the doc's gram count alongside, a LEFT equi-join marks benchmark
  *    hits, and one keyed re-aggregation on the doc id (map-side
  *    partials) rebuilds the per-doc row. Nothing is checkpointed or
  *    persisted — at corpus scale a materialized gram table would be
  *    corpus-sized executor-local state.
  *  - Clean documents (zero hits) survive: `explode_outer` keeps
  *    gram-less docs as a null-gram row and the left join leaves all
  *    misses unmarked, so the output has exactly one row per training
  *    doc — what a filter stage consumes.
  */
object Decontaminate {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-training-document overlap against the benchmark's n-gram set:
    * `(id, n_grams, n_hit, hit_frac, contaminated)` — `n_grams` the
    * doc's distinct n-gram count, `n_hit` how many of those occur
    * anywhere in the benchmark, `hit_frac` their ratio (0.0 for docs
    * too short to have any n-gram), `contaminated` = any hit at all.
    */
  def ngramOverlap(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    def grams(docs: DataFrame) = docs
      .select(col(idCol).as("id"),
        Shingling.sortedShingles(
          TextAnalytics.tokens(col(textCol)), n).as("grams"))

    val benchGrams = grams(bench)
      .select(explode(col("grams")).as("gram"))
      .distinct()
      .withColumn("hit", lit(1L))

    grams(train)
      // greatest(size, 0): size() of a null array is -1 (legacy
      // sizeOfNull) or null — a null-text doc must degrade to
      // n_grams = 0 exactly like the oracle's coalesced count
      .select(col("id"),
        greatest(coalesce(size(col("grams")), lit(0)), lit(0))
          .cast("long").as("n_grams"),
        explode_outer(col("grams")).as("gram"))
      .join(benchGrams, Seq("gram"), "left")
      .groupBy("id", "n_grams")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(
        col("id"),
        col("n_grams"),
        col("n_hit"),
        when(col("n_grams") > 0, round(col("n_hit") / col("n_grams"), 4))
          .otherwise(lit(0.0)).as("hit_frac"),
        (col("n_hit") > 0).as("contaminated"))
  }

  /** Bench gram payload below which [[bloomOverlap]] delegates to the
    * plain screen: a payload this small broadcasts RAW, the training
    * grams never shuffle, and a prefilter could only add cost.
    */
  val BenchDelegateBytesKey = "graft.decontaminate.benchBroadcastBytes"
  val DefaultBenchDelegateBytes: Long = 32L << 20

  /** [[ngramOverlap]] with a broadcast Bloom PREFILTER on the training
    * side — same output, bit-for-bit, different shuffle bill. The
    * plain screen shuffles every distinct training gram into the
    * equi-join (corpus-sized: the gram stream IS the token stream, to
    * a constant). Here the benchmark's gram set is additionally
    * sketched into one Bloom bitset ([[graft.functions.Bloom]],
    * distributed build, broadcast once), and the training explode
    * drops every gram the filter rejects BEFORE the exchange — the
    * join then carries only true hits + false positives, and the
    * exact inner join against the real benchmark gram set removes the
    * false positives, so the result CANNOT differ from
    * [[ngramOverlap]]: Bloom filters have no false negatives, and
    * every surviving candidate is re-verified exactly.
    *
    * Plan shape at 100 TB: per-doc spine `(id, n_grams)` straight off
    * the scan (no explode, no shuffle until the final narrow id-join);
    * candidate stream = explode → Bloom predicate (codegen, inside the
    * scan stage) → keyed join on gram (hits-sized) → per-id count;
    * spine LEFT-joins the counts (id + one long — the narrow shuffle).
    * For a typical contamination rate (≪1% of grams hit), the gram
    * exchange shrinks by orders of magnitude; the price is one extra
    * pass over the (small) benchmark side to build the sketch, a
    * SECOND tokenize+shingle pass over the training side (the spine),
    * and the broadcast of a budget-capped bitset
    * ([[graft.functions.Bloom.BloomBytesKey]] — capping degrades
    * selectivity, never results).
    *
    * REGIME — measured, and the op ROUTES ITSELF
    * (100× timings in `tools/check_sf10_r14.txt`): when the benchmark
    * gram payload fits a broadcast ([[BenchDelegateBytesKey]], default
    * 32 MiB), the PLAIN screen is already optimal — Catalyst
    * broadcasts the bench side and the training grams never cross an
    * exchange (map-side combine collapses the per-doc aggregation),
    * so a prefilter can only add overhead (measured 7.7× at a %1000
    * split, 100×). bloomOverlap therefore PRICES the bench payload
    * with the same count job that sizes the sketch and DELEGATES to
    * [[ngramOverlap]] under the budget — identical output by
    * construction. Above it, the bitset is the COMPRESSED broadcast
    * (a 50M-gram benchmark is GBs raw, tens of MB sketched) and the
    * prefilter is what keeps the training side from shuffling; its
    * win then scales with (1 − selectivity), and a benchmark covering
    * most of the corpus vocabulary (the 61%-selectivity %10 split) is
    * the documented adversarial case where even that loses to the
    * plain shuffle.
    */
  def bloomOverlap(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      fpp: Double = 0.01,
      delegateBytes: Option[Long] = None): DataFrame = {
    val spark = train.sparkSession
    def grams(docs: DataFrame) = docs
      .select(col(idCol).as("id"),
        Shingling.sortedShingles(
          TextAnalytics.tokens(col(textCol)), n).as("grams"))

    val benchGrams = grams(bench)
      .select(explode(col("grams")).as("gram"))
      .distinct()

    // ONE job over the (small) benchmark side both prices the payload
    // (delegate?) and sizes the sketch's hash count; the byte budget
    // caps the bitset.
    // octet_length, not length: the budget is BYTES and char count
    // under-prices multi-byte text up to 4x — a near-budget corpus
    // must not route to the raw broadcast with a larger real payload
    // than priced
    val stats = benchGrams
      .agg(count(lit(1)).as("n"),
        coalesce(sum(octet_length(col("gram"))), lit(0L)).as("bytes"))
      .head()
    val nBench = stats.getLong(0)
    val benchPayload = stats.getLong(1) + nBench * 48L // string + row overhead
    val delegateBudget = delegateBytes.orElse(
      spark.conf.getOption(BenchDelegateBytesKey).map(_.toLong))
      .getOrElse(DefaultBenchDelegateBytes)
    if (benchPayload <= delegateBudget) {
      log.info(
        s"bloomOverlap: bench gram payload $benchPayload B (" +
          s"$nBench grams) fits the $delegateBudget B broadcast budget " +
          s"($BenchDelegateBytesKey) — the plain screen broadcasts raw " +
          "and shuffles nothing; delegating to ngramOverlap")
      return ngramOverlap(train, bench, textCol, idCol, n)
    }
    val filter = graft.functions.Bloom.buildString(
      benchGrams, "gram", nBench, fpp,
      graft.functions.Bloom.bloomBytes(spark))
    log.info(
      s"bloomOverlap: $nBench benchmark grams sketched into " +
        s"${filter.bitSize() / 8} bytes (expected fpp " +
        f"${filter.expectedFpp()}%.4f)")
    val bc = spark.sparkContext.broadcast(filter)

    val spine = grams(train).select(
      col("id"),
      greatest(coalesce(size(col("grams")), lit(0)), lit(0))
        .cast("long").as("n_grams"))

    val hits = grams(train)
      .select(col("id"), explode(col("grams")).as("gram"))
      .where(graft.functions.Bloom.mightContain(col("gram"), bc))
      .join(benchGrams, Seq("gram")) // exact verify: false positives die here
      .groupBy("id")
      .agg(count(lit(1)).as("n_hit"))

    spine.join(hits, Seq("id"), "left")
      .select(
        col("id"),
        col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_grams") > 0,
          round(coalesce(col("n_hit"), lit(0L)) / col("n_grams"), 4))
          .otherwise(lit(0.0)).as("hit_frac"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  /** SPAN-LEVEL decontamination: WHERE in each training document the
    * benchmark hits are, as merged token-offset windows — so a
    * downstream stage can EXCISE contaminated spans and split the
    * document instead of dropping it wholesale (Brown et al. 2020
    * appendix C removes a window around each collision and retrains on
    * the clean splits).
    *
    * A hit at token offset p covers tokens `[p, p+n)`; overlapping and
    * exactly-adjacent covers merge (classic gaps-and-islands: a new
    * span starts when the gap to the previous hit exceeds `n`). Output
    * is one row per merged span — `(id, span_start, span_end, n_hits)`
    * with `[span_start, span_end)` 0-based token offsets — and no rows
    * for clean documents, which is exactly the shape an excision join
    * consumes (left side: corpus; right side: spans).
    *
    * Scale shape: same read-once / keyed-join plan as [[ngramOverlap]]
    * (the explode is NON-distinct here — positions matter — but still
    * bounded by per-doc gram count); the islands window partitions by
    * doc id over HITS only, so its per-partition state is bounded by
    * hits-per-doc, not corpus size.
    */
  def ngramHitSpans(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(Shingling.sortedShingles(
        TextAnalytics.tokens(col(textCol)), n)).as("gram"))
      .distinct()

    val hits = train
      .select(col(idCol).as("id"),
        posexplode(Shingling.orderedShingles(
          TextAnalytics.tokens(col(textCol)), n)).as(Seq("pos", "gram")))
      .join(benchGrams, Seq("gram"), "inner")
      .select(col("id"), col("pos"))

    mergeHitIslands(hits, n)
  }

  /** Gaps-and-islands merge of per-doc hit positions into spans: a hit
    * at token offset p covers `[p, p+n)`; a new span starts when the
    * gap to the previous hit exceeds `n`. `hits` is `(id, pos)`; output
    * `(id, span_start, span_end, n_hits)`. The window partitions by doc
    * id over HITS only — per-partition state bounded by hits-per-doc.
    */
  private def mergeHitIslands(hits: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy("pos")
    hits
      // first hit per doc: lag is null -> comparison null -> otherwise 0
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > n, lit(1)).otherwise(lit(0)))
      .withColumn("island", sum("brk").over(w))
      .groupBy("id", "island")
      .agg(
        min("pos").cast("long").as("span_start"),
        (max("pos") + n).cast("long").as("span_end"),
        count(lit(1)).as("n_hits"))
      .select("id", "span_start", "span_end", "n_hits")
  }

  /** CORPUS-SELF exact-substring duplication spans (the self-dedup
    * analog of [[ngramHitSpans]]; Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", finds ≥50-token
    * verbatim repeats with a suffix array — this is the same semantics
    * restated as keyed joins so it distributes): every token window of
    * width `n` that occurs in ≥2 DISTINCT documents is a duplicated
    * substring; the document with the smallest id OWNS the gram (its
    * occurrences are kept — "keep first occurrence"), every other
    * document's occurrences are duplication hits, merged per doc into
    * excisable spans exactly as the benchmark screen merges its hit
    * covers.
    *
    * No pair join anywhere: the gram table aggregates to
    * `(gram → owner, df)` — a map-side-combinable groupBy keyed by the
    * gram — and positions join BACK against that statistic, also keyed
    * by the gram. Candidate volume is Σ_dup-grams(occurrences), LINEAR
    * in corpus positions (contrast a pairwise dedup's Σ df²) — the
    * property that makes self-substring-dedup tractable at 100 TB where
    * a suffix array over the corpus is not. Mass-duplicated boilerplate
    * makes a gram hot in the stats aggregation (absorbed by partial
    * aggregation), not in a join fan-out.
    *
    * Output: `(id, span_start, span_end, n_hits)` for non-owner
    * occurrences of duplicated `n`-grams, `[span_start, span_end)`
    * 0-based token offsets; owner docs and unique text produce no rows.
    */
  def selfHitSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    // Grams are keyed by xxhash64 ([[Shingling.gramKey]]) — the stats
    // aggregation and the positions re-join then move 8-byte longs
    // instead of ~30-byte UTF-8 grams. A collision merges two grams'
    // stats and can create FALSE excision spans; the birthday bound
    // over 2⁶⁴ puts any-collision odds at ~2.7% for a 10⁹-gram
    // vocabulary (~2e-5 only holds near 3×10⁷ grams) — acceptable for
    // dedup screening.
    //
    // DELIBERATELY RECOMPUTED, NOT STAGED: this table has one row per
    // corpus token position, and a localCheckpoint of it is a
    // corpus-sized NON-EVICTABLE cache — at the 1000× audit (235M
    // positions) the pinned blocks starved execution memory and the
    // stats aggregation died in UNABLE_TO_ACQUIRE_MEMORY. The
    // tokenize+shingle pass is cheap per-row CPU; paying it twice
    // (once per consumer) is the scale-correct trade.
    val grams = docs
      .select(col(idCol).as("id"),
        posexplode(Shingling.orderedShingles(
          TextAnalytics.tokens(col(textCol)), n)).as(Seq("pos", "g")))
      .select(col("id"), col("pos"),
        Shingling.gramKey(col("g")).as("gram"))

    // one aggregation, keyed by gram: the owning (minimum) doc id and
    // whether a second distinct doc carries the gram. min+max distinct
    // ids decide df>=2 without a countDistinct rewrite.
    val stats = grams
      .groupBy("gram")
      .agg(min("id").as("owner"), max("id").as("maxid"))
      .filter(col("maxid") > col("owner"))
      .select("gram", "owner")

    val hits = grams
      .join(stats, Seq("gram"), "inner")
      .filter(col("id") =!= col("owner"))
      .select(col("id"), col("pos"))

    mergeHitIslands(hits, n)
  }

  /** EXCISION: apply a span table (the [[ngramHitSpans]] output shape)
    * to the corpus — cut every `[span_start, span_end)` token window
    * out of its document and emit the SURVIVING segments as rows,
    * splitting documents at the cuts instead of dropping them (the
    * downstream half of Brown et al. 2020 appendix C: remove a window
    * around each collision, keep the clean pieces). Spans must be
    * disjoint per doc ([[ngramHitSpans]] merges them by construction).
    *
    * Output: `(id, seg_start, seg_end, seg_text)` — one row per
    * non-empty surviving segment, `[seg_start, seg_end)` 0-based token
    * offsets into the original doc. Clean documents emit one full-span
    * segment; fully-excised (and token-less) documents emit none.
    *
    * Per-row HOFs end to end: the complement intervals come from
    * zipping `0 :: span ends` with `span starts :: doc length` — no
    * shuffle beyond the one keyed join of docs to their (tiny) span
    * lists, no UDFs, whole-stage codegen throughout.
    */
  def exciseSpans(
      docs: DataFrame,
      spans: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val sp = spans.groupBy(col(idCol).as("id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e")))).as("spans"))
    docs
      .select(col(idCol).as("id"), TextAnalytics.tokens(col(textCol)).as("toks"))
      .join(sp, Seq("id"), "left")
      .withColumn("spans",
        coalesce(col("spans"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("starts",
        concat(array(lit(0L)), transform(col("spans"), s => s("e"))))
      .withColumn("ends",
        concat(transform(col("spans"), s => s("s")),
          array(size(col("toks")).cast("long"))))
      .select(col("id"), col("toks"),
        explode(filter(
          zip_with(col("starts"), col("ends"),
            (a, b) => struct(a.as("s"), b.as("e"))),
          seg => seg("e") > seg("s"))).as("seg"))
      .select(
        col("id"),
        col("seg.s").as("seg_start"),
        col("seg.e").as("seg_end"),
        concat_ws(" ", slice(col("toks"),
          (col("seg.s") + 1).cast("int"),
          (col("seg.e") - col("seg.s")).cast("int"))).as("seg_text"))
  }

  /** Distinct-shingle table `(id, sh)` of a corpus, empty sets dropped
    * (sub-shingle-width docs have undefined set similarity — same rule
    * as [[graft.ops.Dedup.ngramJaccardPairs]]).
    */
  private def shingleTable(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"),
        Shingling.sortedShingles(
          TextAnalytics.tokens(col(textCol)), n).as("sh"))
      .where(size(col("sh")) > 0)

  /** NEAR-duplicate decontamination, EXACT: every (training doc,
    * benchmark doc) pair whose n-gram Jaccard reaches `threshold` —
    * the fuzzy complement of the exact-overlap screen ([[ngramOverlap]]
    * catches verbatim n-gram collisions; this catches lightly-edited
    * benchmark copies that share few exact long grams but most of
    * their shingle SET).
    *
    * Plan: the CROSS-SET form of the PPJoin prefix-filter join
    * ([[graft.ops.Dedup.ngramJaccardPairs]] is the self-join form —
    * same bounds, two tables): under a common total order (ascending
    * gram frequency over the union), two sets with Jaccard >= t must
    * share a token inside each side's `|S| - ceil(t*|S|) + 1` prefix,
    * so candidates come from a keyed equi-join of the two PREFIX
    * tables — never train × bench — then the size-ratio and positional
    * overlap bounds prune before the exact sorted-merge verify. All
    * shuffles are keyed; the benchmark side is small, so its prefix
    * and shingle tables broadcast under the planner's threshold and
    * the training side streams through map-side joins.
    *
    * Returns `(id, bench_id, jaccard)` — one row per contaminated
    * (train, bench) pairing, the shape a drop-or-review stage consumes.
    */
  def jaccardScreen(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int,
      threshold: Double,
      maxCandidates: Long = SimilarityGuard.Auto,
      verifyStrategy: String = Dedup.VerifyAuto): DataFrame = {
    require(Dedup.VerifyStrategies.contains(verifyStrategy),
      s"verifyStrategy must be one of ${Dedup.VerifyStrategies}, got $verifyStrategy")
    // both shingle tables feed the freq union, a prefix derivation, and
    // a verify side — materialize each once
    val shT = graft.core.StagingScope.stage(
      shingleTable(train, textCol, idCol, shingleN))
    val shB = graft.core.StagingScope.stage(
      shingleTable(bench, textCol, idCol, shingleN))

    def exploded(sh: DataFrame, side: Int) = sh.select(
      lit(side).as("side"), col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("tok"))
    // one COMMON total order for both sides: ascending gram frequency
    // over the UNION (any shared order is sound; rarest-first minimizes
    // prefix collisions). Frequency attaches via an unbounded COUNT
    // window — one exchange of the union, not groupBy + rejoin — and
    // the per-doc rarity window partitions by (side, id) so a train id
    // colliding with a bench id never mixes windows. Prefix rows carry
    // the gram as xxhash64: equality-only use, collisions only add
    // verify-discarded candidates (same reasoning as
    // [[graft.ops.Dedup.ngramJaccardPairs]]).
    val wFreq = Window.partitionBy("tok")
    val byRarity = Window.partitionBy("side", "id").orderBy(col("freq"), col("tok"))
    val prefixes = exploded(shT, 0).unionAll(exploded(shB, 1))
      .withColumn("freq", count(lit(1)).over(wFreq))
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select(col("side"), col("id"), col("sz"),
        xxhash64(col("tok")).as("htok"), col("rn"))
      .transform(graft.core.StagingScope.stage(_))
    // PRE-FLIGHT GUARD: predict the train×bench candidate join's row
    // volume (Σ over gram of df_train·df_bench) from the prefix tables
    // and refuse a closed-vocabulary blow-up before launching — see
    // [[SimilarityGuard]].
    // ONE fused pre-flight job (cross-join of single-row aggregates
    // over the three staged tables) — previously three sequential
    // driver round trips: train stats, bench stats, volume prediction
    def sideStats(sh: DataFrame, nd: String, tg: String) = sh
      .agg(count(lit(1)).as(nd), coalesce(sum(size(col("sh"))), lit(0L)).as(tg))
    val preflight = sideStats(shT, "ndT", "tgT")
      .crossJoin(sideStats(shB, "ndB", "tgB"))
      .crossJoin(SimilarityGuard.crossJoinVolumeAgg(
        prefixes.where(col("side") === 0), prefixes.where(col("side") === 1),
        Seq("htok")))
      .head()
    val (nTrain, totalGramsT) = (preflight.getLong(0), preflight.getLong(1))
    val (nBench, totalGramsB) = (preflight.getLong(2), preflight.getLong(3))
    val avgT = totalGramsT.toDouble / math.max(nTrain, 1L)
    val avgB = totalGramsB.toDouble / math.max(nBench, 1L)
    val predictedCandidates = SimilarityGuard.volumeOf(preflight, 4)
    SimilarityGuard.check(
      predictedCandidates,
      SimilarityGuard.resolveCap(maxCandidates, nTrain),
      "Decontaminate.jaccardScreen",
      "Re-route this corpus to Decontaminate.minHashScreen (signature-" +
        "collision-driven candidates)")
    // positional overlap bound checked per match row, map-side, before
    // the dedup shuffle — same pair decisions, only qualifying matches
    // travel (see the note in [[graft.ops.Dedup.ngramJaccardPairs]])
    val candidatesRaw = prefixes.where(col("side") === 0)
      .select(col("htok"), col("id"), col("sz"), col("rn"))
      .join(
        prefixes.where(col("side") === 1).select(col("htok"),
          col("id").as("bench_id"), col("sz").as("sz_b"), col("rn").as("rn_b")),
        Seq("htok"))
      .where(
        col("sz_b") * threshold <= col("sz") &&
          col("sz") * threshold <= col("sz_b") &&
          lit(1) + least(col("sz") - col("rn"), col("sz_b") - col("rn_b")) >=
            ceil(lit(threshold) / (1 + threshold) * (col("sz") + col("sz_b"))))
      .select("id", "bench_id")
      // predicted-vs-actual telemetry on the candidate matches (before
      // the pair dedup; actual <= predicted, positional prune fused)
      .transform(SimilarityGuard.observed(_,
        "Decontaminate.jaccardScreen", predictedCandidates))
      .distinct()
    // narrow; materializing buys an exact candidate count for the
    // verify-strategy decision — only paid when the decision runs
    // (same element-bound gate as the self-join form: predicted
    // candidate upper bound × both sides' average array length)
    val needDecision = verifyStrategy == Dedup.VerifyAuto &&
      predictedCandidates * (avgT + avgB) > Dedup.VerifyDecisionMinElements
    val candidates =
      if (needDecision) graft.core.StagingScope.stage(candidatesRaw)
      else candidatesRaw

    // VERIFY-STRATEGY DECISION — the cross-set form of the
    // [[graft.ops.Dedup.ngramJaccardPairs]] decision: array verify
    // ships candidates × (|train doc| + |bench doc|) array elements;
    // count verify ships Σ over grams of df_train·df_bench NARROW
    // rows. Same exact-measurement comparison, same result-identical
    // guarantee (spec-pinned both ways in DecontaminateSpec).
    def posts(sh: DataFrame) = sh.select(
      col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("tok"))
    val useCount = verifyStrategy match {
      case Dedup.VerifyCount => true
      case Dedup.VerifyArray => false
      case _ if !needDecision => false
      case _ =>
        // one fused job: exact candidate count (off the staged pair
        // table) + gram-join volume, instead of two round trips
        val decision = candidates.agg(count(lit(1)).as("nc"))
          .crossJoin(SimilarityGuard.crossJoinVolumeAgg(
            posts(shT), posts(shB), Seq("tok")))
          .head()
        val nCand = decision.getLong(0)
        val gramVolume = SimilarityGuard.volumeOf(decision, 1)
        val arrayElems = nCand * (avgT + avgB)
        val chooseCount = gramVolume < arrayElems
        log.warn(s"jaccardScreen verify decision: $nCand candidates x " +
          f"(${avgT}%.0f + ${avgB}%.0f) grams = ${arrayElems}%.3g array " +
          s"elements vs $gramVolume gram-join rows -> " +
          (if (chooseCount) "COUNT verify" else "ARRAY verify"))
        chooseCount
    }
    if (useCount)
      gramCountCrossVerify(posts(shT), posts(shB), threshold)
    else
      // hash-join verify attachments — the array-carrying intermediate
      // streams instead of sorting (see Dedup.ngramJaccardPairs)
      candidates
        .join(shT.select(col("id"), col("sh").as("sh_a"))
          .hint("shuffle_hash"), "id")
        .join(shB.select(col("id").as("bench_id"), col("sh").as("sh_b"))
          .hint("shuffle_hash"), "bench_id")
        .withColumn("jaccard",
          graft.functions.SetSimilarity.jaccardSorted(col("sh_a"), col("sh_b"), threshold))
        .where(col("jaccard") >= threshold)
        .select(col("id"), col("bench_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-set count verify (see [[graft.ops.Dedup]]'s self-join
    * twin): join the two NARROW posting tables per gram, count shared
    * grams per (train, bench) pair, jaccard = ov / (szT + szB − ov) —
    * the identical double division the sorted-merge kernel performs.
    * Hot grams salt-split by the TRAIN-side df, the big side
    * ([[SkewJoin.crossJoin]]): train rows keep their own salt, bench
    * rows fan out to all of them, so every (train, bench) pair still
    * meets exactly once per shared gram; bench grams absent from the
    * training corpus drop in the df join (they cannot contribute
    * overlap). The benchmark side is small by design — a benchmark
    * gram hot on BOTH sides would need the bench df salted too.
    */
  private def gramCountCrossVerify(
      postsT: DataFrame,
      postsB: DataFrame,
      threshold: Double,
      bucketCap: Int = 4096): DataFrame = {
    SkewJoin
      .crossJoin(postsT, postsB,
        SkewJoin.saltGroups(postsT, Seq("tok"), bucketCap), Seq("tok"),
        Seq(col("id"), col("sz")),
        Seq(col("id").as("bench_id"), col("sz").as("sz_b")))
      .groupBy("id", "bench_id", "sz", "sz_b")
      .agg(count(lit(1)).as("ov"))
      .withColumn("jaccard",
        col("ov").cast("double") / (col("sz") + col("sz_b") - col("ov")))
      .where(col("jaccard") >= threshold)
      .select(col("id"), col("bench_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** [[minHashScreen]] with the banding derived from the threshold via
    * [[graft.ops.Dedup.lshBanding]] (S-curve inflection closest to the
    * threshold, ties toward recall).
    */
  def minHashScreenAuto(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 2,
      threshold: Double = 0.5,
      numHashes: Int = 32): DataFrame = {
    val (b, r) = Dedup.lshBanding(threshold, numHashes)
    minHashScreen(train, bench, textCol, idCol, shingleN, b, r, threshold)
  }

  /** NEAR-duplicate decontamination, MinHash+LSH scale path: the
    * benchmark's banded signature index is built ONCE (benchmarks are
    * small — the index broadcasts; at worst it degrades to a keyed
    * join on the bucket key), each training doc's signature probes it
    * through a narrow (band, bucket) equi-join, and candidates verify
    * with the exact sorted-merge Jaccard. The train × bench pair space
    * never materializes and the training corpus is read once — the
    * stream-static shape of [[graft.streaming.DocStreams]], batch form.
    *
    * Same signature/banding machinery as [[graft.ops.Dedup.minHashLsh]]
    * (md5 signatures and raw-value band buckets, so the oracle replays
    * signature → band collision → exact-Jaccard verify in SQL; recall
    * is pinned against [[jaccardScreen]] in DecontaminateSpec).
    * Returns `(id, bench_id, jaccard)` like the exact screen — missed
    * pairs are LSH false negatives, rarer as `bands` grows.
    */
  def minHashScreen(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 2,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      bucketCap: Int = 4096): DataFrame = {
    val numHashes = bands * rowsPerBand
    val shT = graft.core.StagingScope.stage(
      shingleTable(train, textCol, idCol, shingleN))
    val shB = graft.core.StagingScope.stage(
      shingleTable(bench, textCol, idCol, shingleN))
    def buckets(sh: DataFrame) = sh
      .select(col("id"), Dedup.minHashSignature(col("sh"), numHashes).as("sig"))
      .select(col("id"), Dedup.bandBuckets(col("sig"), bands, rowsPerBand).as("bb"))
    // SKEW GUARD ([[SkewJoin.crossJoin]]): a hot bucket on the TRAIN
    // side — boilerplate mass-duplicated across the corpus —
    // concentrates dfT×dfB pair work in one task. Train buckets over
    // `bucketCap` rows split into g salt groups (train keeps its own
    // salt, the small bench side fans out to all g): per-task work
    // drops to (dfT/g)·dfB, the pair set is unchanged.
    val bT = graft.core.StagingScope.stage(buckets(shT))
    val candidates = SkewJoin
      .crossJoin(bT, buckets(shB),
        SkewJoin.saltGroups(bT, Seq("bb"), bucketCap), Seq("bb"),
        Seq(col("id")), Seq(col("id").as("bench_id")))
      .select("id", "bench_id")
      .distinct()
    candidates
      .join(shT.select(col("id"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id")
      .join(shB.select(col("id").as("bench_id"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "bench_id")
      .withColumn("jaccard",
        graft.functions.SetSimilarity.jaccardSorted(col("sh_a"), col("sh_b"), threshold))
      .where(col("jaccard") >= threshold)
      .select(col("id"), col("bench_id"), round(col("jaccard"), 4).as("jaccard"))
  }
}
