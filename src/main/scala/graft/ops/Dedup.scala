package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics

/** Document deduplication at pretraining-corpus scale: exact, MinHash+LSH
  * near-dup, SimHash, and n-gram Jaccard. The similarity hashes derive
  * from md5, so a SQL engine replays them bit-for-bit; salts and gram
  * keys use `xxhash64`. All are native codegen'd — deterministic across
  * runs and executors, no UDFs — so every stage is shuffle-bounded by design:
  * exact dedup is one groupBy on the content hash; MinHash-LSH shuffles
  * once on (band, bucket) instead of ever forming the O(n^2) pair space.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest id as the
    * canonical representative. One shuffle on a 128-bit key — works
    * unchanged at 100 TB (the hash groupBy is the classic exact-dedup
    * plan; no row content travels beyond the hash + id).
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** k-permutation MinHash signature over a *materialized* shingle-array
    * column. Permutation i hashes a shingle to the top 60 bits of
    * md5("i:gram"), reproducible bit-for-bit in any SQL engine, so a
    * banded screen built on it is ORACLE-GATED end-to-end; the
    * signature element is the min hash over the shingle set. Evaluated
    * row-local, no shuffle — by the native one-pass kernel
    * [[graft.functions.Shingling.Md5MinHashSig]] (the `transform` HOF
    * it equals lives in ShinglingSpec as the parity reference).
    */
  def minHashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.Shingling.minHashSignature(shingleCol, numHashes)

  /** LSH band buckets of a signature column, one exploded
    * `(band, bucket)` struct per band of `rowsPerBand` hashes. The
    * bucket is the band's raw value tuple joined by "," — exact
    * collision semantics, what a SQL oracle replays.
    */
  def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    explode(array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>")).as("bucket"))
    }: _*))

  /** Candidate probability of the (bands, rowsPerBand) banding for a
    * pair of true Jaccard `s`: `1 − (1 − s^r)^b` — the LSH S-curve.
    */
  def lshCandidateProb(bands: Int, rowsPerBand: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Derive (bands, rowsPerBand) from the target threshold: among the
    * divisor pairs b·r = numHashes, pick the one whose S-curve
    * inflection `(1/b)^(1/r)` (where candidate probability crosses
    * ~1−1/e) sits closest to the threshold — pairs below waste work on
    * sub-threshold candidates, pairs above lose recall at the
    * threshold. Ties break toward MORE bands (recall over precision:
    * LSH false positives are removed by the exact verify, false
    * negatives are gone forever). The fixed defaults used through
    * round 8 (8 bands × 4 rows at t = 0.5, 32 hashes) are exactly
    * what this returns, so auto-tuned call sites keep their recall.
    */
  def lshBanding(threshold: Double, numHashes: Int): (Int, Int) = {
    require(numHashes > 0, "numHashes must be positive")
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    val pairs = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r)) // (bands, rowsPerBand)
    pairs.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b)
    }
  }

  /** [[minHashLsh]] with the banding derived from the threshold via
    * [[lshBanding]] — the self-service form of the measured scale
    * path (a caller states WHAT similarity matters; the S-curve picks
    * HOW to bucket it).
    */
  def minHashLshAuto(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 32): DataFrame = {
    val (b, r) = lshBanding(threshold, numHashes)
    minHashLsh(docs, textCol, idCol, shingleN, b, r, threshold)
  }

  /** MinHash-LSH candidate pairs: signatures are cut into `bands` bands
    * of `rowsPerBand` hashes; docs sharing any (band, band-hash) bucket
    * become a candidate pair, then candidates are verified with the
    * exact Jaccard over shingle sets. The only shuffles are the bucket
    * groupBy-style self-join and the final distinct — the all-pairs
    * space is never materialized, which is what makes this viable on
    * billions of documents.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minHashLsh(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      bucketCap: Int = 4096): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Materialize shingles in their own projection so the signature's k
    // transforms reference one computed array instead of k inlined copies.
    val shingled = docs
      .select(col(idCol).as("id"), TextAnalytics.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        graft.functions.Shingling.sortedShingles(col("toks"), shingleN).as("sh"))
      // docs shorter than the shingle width have an empty set: their
      // similarity is undefined (and their all-null MinHash signatures
      // would collide into one giant bucket) — exclude them up front
      .where(size(col("sh")) > 0)
      // regex tokenize + shingle assembly feeds four plan consumers
      // (signatures, both verify sides, and the bucket fan-out);
      // materialize it once — storage is the shingle table, which the
      // verify joins shuffle anyway
      .transform(graft.core.StagingScope.stage(_))
    val sigs = shingled
      .select(col("id"), col("sh"), minHashSignature(col("sh"), numHashes).as("sig"))

    // Bucket rows are narrow (bucket key + id): the shuffled self-join
    // never carries shingle arrays — at corpus scale that is the
    // difference between shuffling ids and shuffling the corpus.
    val buckets = sigs
      .select(col("id"), bandBuckets(col("sig"), bands, rowsPerBand).as("bb"))
      // both self-join sides replay the k-hash signature otherwise;
      // bucket rows are narrow (bucket key + id), so this is cheap
      .transform(graft.core.StagingScope.stage(_))

    // SKEW GUARD ([[SkewJoin.selfJoin]]): a hot bucket — e.g.
    // mass-duplicated boilerplate hashing every band identically —
    // would make one join task quadratic; buckets over `bucketCap` rows
    // split by salt, the pair set unchanged (spec-pinned by the
    // cap-forcing invariance test).
    val candidates = SkewJoin
      .selfJoin(buckets, Seq("bb"), bucketCap,
        Seq(col("id").as("id_a")), Seq(col("id").as("id_b")))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // Verify candidates with exact Jaccard: re-join the shingle table
    // (small vs the pair space) on each side of the pair — hash joins,
    // so the array-carrying intermediate is never sorted (see
    // [[ngramJaccardPairs]]'s verify note).
    candidates
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "id_a")
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("jaccard",
        graft.functions.SetSimilarity.jaccardSorted(col("sh_a"), col("sh_b"), threshold))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Exact n-gram Jaccard similarity join within a blocking key
    * (reference-style "per (map, region) interval set" blocking, here
    * e.g. per language), accelerated by PREFIX FILTERING (PPJoin):
    * under any total order on shingles, two sets with Jaccard >= t must
    * share at least one element among the first `|S| - ceil(t*|S|) + 1`
    * of their sorted shingles. Candidates therefore come from an
    * equi-join on (block, prefix-shingle) — never the per-block cross
    * product — followed by a size-ratio prune (`t*|A| <= |B| <= |A|/t`)
    * and the exact Jaccard verification. This is the standard exact
    * set-similarity-join plan at corpus scale: every shuffle is keyed
    * (prefix token, then id), nothing quadratic materializes.
    *
    * DATA-REGIME PRECONDITION (measured in the 100× audit, NOTES_r7):
    * prefix filtering prunes only when the rare end of the vocabulary
    * stays rare as the corpus grows — Heaps'-law growth, true of
    * natural corpora. On a CLOSED vocabulary (the synthetic generator:
    * 4.6k distinct in-block 2-grams at any size, avg df 55), candidate
    * volume scales as Σdf² — ~10⁹ candidates at a 100× scale for ~8k
    * true pairs — and no exact plan avoids touching every co-occurring
    * pair. For such df-heavy corpora use the MinHash-LSH screen
    * ([[minHashLsh]]): its candidate volume is driven by signature
    * collisions (∝ true similarity), not gram frequency.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      shingleN: Int,
      threshold: Double,
      maxCandidates: Long = SimilarityGuard.Auto,
      verifyStrategy: String = VerifyAuto): DataFrame = {
    require(VerifyStrategies.contains(verifyStrategy),
      s"verifyStrategy must be one of $VerifyStrategies, got $verifyStrategy")
    val sh = docs
      .select(
        col(blockCol).as("block"),
        col(idCol).as("id"),
        TextAnalytics.tokens(col(textCol)).as("toks"))
      .select(col("block"), col("id"),
        graft.functions.Shingling.sortedShingles(col("toks"), shingleN).as("sh"))
      // empty shingle sets (sub-shingle-length docs) have undefined
      // similarity — the oracle's 0/0 is NaN and fails its filter too
      .where(size(col("sh")) > 0)
      // the shingle table feeds the prefix derivation AND both verify
      // sides; materialize once instead of re-tokenizing per consumer
      .transform(graft.core.StagingScope.stage(_))
    // Prefix length L = |S| - ceil(t*|S|) + 1, under ascending GLOBAL
    // FREQUENCY order (rarest shingles first) — the PPJoin ordering: any
    // common total order is correct, but frequency order makes prefixes
    // collide least, which is what bounds candidates when the vocabulary
    // is small. Frequency attaches via an unbounded COUNT window over
    // (block, tok) — one exchange of the gram table, where the
    // groupBy-then-rejoin formulation shuffled it twice. The prefix
    // rows then carry the gram as xxhash64 (htok): the candidate
    // equi-join only needs gram EQUALITY, a hash collision merely adds
    // a candidate the exact verify discards, and the shuffled pair
    // rows stay fixed-width. The ORDER stays (freq, tok) — computed
    // before the hash, identical on both sides, so the prefix bound's
    // common-total-order requirement is untouched.
    val exploded = sh.select(
      col("block"), col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("tok"))
    val wFreq = org.apache.spark.sql.expressions.Window.partitionBy("block", "tok")
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("block", "id").orderBy(col("freq"), col("tok"))
    val prefixes = exploded
      .withColumn("freq", count(lit(1)).over(wFreq))
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select(col("block"), col("id"), col("sz"),
        xxhash64(col("tok")).as("htok"), col("rn"))
      // both sides of the candidate self-join read this table; without
      // materialization the freq window + rarity window run twice
      .transform(graft.core.StagingScope.stage(_))
    // PRE-FLIGHT GUARD (the engine-behavior form of the data-regime
    // precondition above): predict the candidate join's row volume
    // from the prefix dfs and refuse the launch past the cap instead
    // of shuffling a quadratic blow-up to disk. The corpus stats and
    // the volume prediction FUSE into one driver job (cross-join of
    // single-row aggregates over the two staged tables) — previously
    // two sequential driver round trips per launch.
    val preflight = sh
      .agg(count(lit(1)).as("nd"),
        coalesce(sum(size(col("sh"))), lit(0L)).as("tg"))
      .crossJoin(SimilarityGuard.selfJoinVolumeAgg(
        prefixes, Seq("block", "htok")))
      .head()
    val (nDocs, totalGrams) = (preflight.getLong(0), preflight.getLong(1))
    val avgSz = totalGrams.toDouble / math.max(nDocs, 1L)
    val predictedCandidates = SimilarityGuard.volumeOf(preflight, 2)
    SimilarityGuard.check(
      predictedCandidates,
      SimilarityGuard.resolveCap(maxCandidates, nDocs),
      "Dedup.ngramJaccardPairs",
      "Re-route this corpus to Dedup.minHashLsh (signature-collision-" +
        "driven candidates) and keep the exact join for Heaps-law corpora")
    // Positional filter (PPJoin): jaccard >= t implies overlap >=
    // ceil(t/(1+t) * (|A|+|B|)), and a pair's overlap is bounded by
    // 1 + min(|A|-posA, |B|-posB) at its earliest matching prefix
    // token. The bound is checked PER MATCH ROW, map-side, BEFORE the
    // dedup shuffle: a row whose own bound fails can never be the max
    // that passes, so dropping it pre-shuffle decides every pair
    // identically while only qualifying matches travel the wire (the
    // earlier post-aggregation filter shuffled every join match — the
    // dominant cost of the candidate stage on df-heavy corpora).
    val candidatesRaw = prefixes
      .select(col("block"), col("htok"),
        col("id").as("id_a"), col("sz").as("sz_a"), col("rn").as("rn_a"))
      .join(
        prefixes.select(col("block"), col("htok"),
          col("id").as("id_b"), col("sz").as("sz_b"), col("rn").as("rn_b")),
        Seq("block", "htok"))
      .where(
        col("id_a") < col("id_b") &&
          col("sz_b") * threshold <= col("sz_a") &&
          col("sz_a") * threshold <= col("sz_b") &&
          lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
            ceil(lit(threshold) / (1 + threshold) * (col("sz_a") + col("sz_b"))))
      .select("id_a", "id_b")
      // predicted-vs-actual telemetry on the surviving candidate rows
      // (actual <= predicted: the positional prune is fused above)
      .transform(SimilarityGuard.observed(_,
        "Dedup.ngramJaccardPairs", predictedCandidates))
      .distinct()
    // narrow (two longs per row); materializing buys an exact candidate
    // count for the verify-strategy decision without recomputing the
    // candidate join — only paid when the decision actually runs. The
    // gate is the PREDICTED array-verify volume (candidate upper bound
    // × both arrays), free from the guard's aggregation: posting COUNT
    // is the wrong dimension (the 100× audit corpus holds only 25M
    // postings yet a catastrophic Σdf² candidate set).
    val needDecision = verifyStrategy == VerifyAuto &&
      predictedCandidates * 2.0 * avgSz > VerifyDecisionMinElements
    val candidates =
      if (needDecision) graft.core.StagingScope.stage(candidatesRaw)
      else candidatesRaw

    // VERIFY-STRATEGY DECISION. The array verify ships each candidate
    // pair's two full shingle arrays through a shuffle — candidates ×
    // 2·avgSz elements, which is what out-scratched the 100× audit box
    // (>75 GB for q22: per-pair cost ∝ document length). The count
    // verify never touches arrays: it re-joins the NARROW posting
    // table with itself per (block, gram) and counts shared grams per
    // pair — Σ df·(df−1)/2 rows over ALL grams. Neither dominates
    // universally: natural corpora have hot stopword grams (df ∝ n
    // makes the count join quadratic — exactly what PPJoin's
    // rarest-prefix order avoids) but few candidates; df-heavy
    // near-duplicate corpora have moderate dfs but candidate × length
    // products that dwarf the gram volume. Both inputs to the
    // comparison are EXACT and already cheap to measure here: the
    // candidate count (above) and the same df aggregation the guard
    // runs. Both paths compute identical pairs and identical
    // double-division jaccard, so the choice is invisible to results
    // (spec-pinned both ways).
    val useCount = verifyStrategy match {
      case VerifyCount => true
      case VerifyArray => false
      // below the element floor even a pessimal array verify is a few
      // GB of shuffle — the decision's extra jobs (candidate count +
      // gram-df aggregation) would cost more than they could save, so
      // small launches take the array path with zero overhead and the
      // decision runs only where the stake is real
      case _ if !needDecision => false
      case _ =>
        // one fused job: the exact candidate count (off the staged pair
        // table) and the gram-join volume, instead of two round trips
        val decision = candidates.agg(count(lit(1)).as("nc"))
          .crossJoin(SimilarityGuard.selfJoinVolumeAgg(
            exploded, Seq("block", "tok")))
          .head()
        val nCand = decision.getLong(0)
        val gramVolume = SimilarityGuard.volumeOf(decision, 1)
        val arrayElems = nCand * 2.0 * avgSz
        val chooseCount = gramVolume < arrayElems
        log.warn(s"ngramJaccardPairs verify decision: $nCand candidates × " +
          f"2×$avgSz%.0f grams = $arrayElems%.3g array elements vs " +
          s"$gramVolume gram-join rows → " +
          (if (chooseCount) "COUNT verify" else "ARRAY verify"))
        chooseCount
    }
    if (useCount)
      gramCountSelfVerify(exploded, threshold)
    else
      // SHUFFLE_HASH on the shingle side of both attachments: sort-merge
      // would SORT the candidate×array intermediate (KBs per row — on
      // df-heavy corpora the 100x audit measured multi-GB sort spills
      // per task exactly here); the hash join streams it instead, and
      // the build side is one hash-partition of the shingle table —
      // bounded by partition sizing at any corpus size.
      candidates
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
          .hint("shuffle_hash"), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
          .hint("shuffle_hash"), "id_b")
        // native merge-walk verify on the sorted arrays (early-exit
        // below threshold) — the per-candidate hot kernel
        .withColumn("jaccard",
          graft.functions.SetSimilarity.jaccardSorted(col("sh_a"), col("sh_b"), threshold))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  val VerifyAuto = "auto"
  val VerifyArray = "array"
  val VerifyCount = "count"
  val VerifyStrategies: Set[String] = Set(VerifyAuto, VerifyArray, VerifyCount)

  /** Array-element floor below which the auto verify decision
    * short-circuits to the array path: the gate compares the
    * PREDICTED candidate volume (an upper bound on candidates, already
    * computed for the guard) times both arrays' average length against
    * this; under a billion elements (~20 GB pessimal, and the
    * prediction typically overshoots the true candidate count by an
    * order) the array verify cannot be the binding resource, so the
    * decision's own jobs aren't worth running.
    */
  val VerifyDecisionMinElements: Double = 1e9

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact-similarity verify WITHOUT arrays: self-join the narrow
    * posting table per (block, gram), count shared grams per id pair,
    * and compute jaccard = ov / (szA + szB − ov) — the identical
    * double division the sorted-merge kernel performs, so results are
    * bit-equal to the array verify. Work is Σ df·(df−1)/2 NARROW rows
    * (~tens of bytes each) instead of candidates × document-length
    * array elements — the winning regime for df-heavy corpora whose
    * candidate sets are large but gram volume linear (the 100× audit
    * shape). Per-gram salting ([[SkewJoin.selfJoin]]) keeps a single
    * hot gram from becoming one quadratic task.
    *
    * Test hook: the count verify over a docs frame with a forced salt
    * cap — pins pair-set invariance under hot-gram splitting.
    */
  private[graft] def gramCountSelfVerifyForTest(
      docs: DataFrame,
      bucketCap: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      blockCol: String = "lang",
      shingleN: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val posts = docs
      .select(col(blockCol).as("block"), col(idCol).as("id"),
        graft.functions.Shingling.sortedShingles(
          TextAnalytics.tokens(col(textCol)), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("block"), col("id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("tok"))
    gramCountSelfVerify(posts, threshold, bucketCap)
  }

  private def gramCountSelfVerify(
      posts: DataFrame,
      threshold: Double,
      bucketCap: Int = 4096): DataFrame = {
    SkewJoin
      .selfJoin(posts, Seq("block", "tok"), bucketCap,
        Seq(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq(col("id").as("id_b"), col("sz").as("sz_b")))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("ov"))
      .withColumn("jaccard",
        col("ov").cast("double") / (col("sz_a") + col("sz_b") - col("ov")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Winnowing-fingerprint near-dup pair screen — the JOIN consumer of
    * the MOSS fingerprints (Schleimer et al. SIGMOD 2003; the per-row
    * set form is [[graft.functions.TextAnalytics
    * .winnowedFingerprints]], q117): pairs of documents sharing ≥
    * `minShared` fingerprints, i.e. candidate shared passages of
    * length ≥ k+w−1 tokens.
    *
    * The fingerprints here are computed RELATIONALLY, not with the
    * per-row nested-HOF kernel: posexplode tokenizes each document
    * exactly ONCE, gram hashes come from `lead` windows and window
    * minima from a `rowsBetween` frame — because nested array lambdas
    * re-evaluate their free expressions per element, and when the text
    * column is itself an expression (a synthesized corpus, a concat)
    * projection collapse turns the HOF form into O(len³) hashing per
    * document (measured: it hung the gate). The window form is one
    * keyed shuffle on the doc id and scales linearly.
    *
    * Then the standard posting screen: ELIDE fingerprints with
    * document frequency > `maxDf` (the stop-gram move — a ubiquitous
    * passage fingerprint would contribute df² candidate pairs for
    * near-zero signal; the [[InvertedIndex]] df-cap precedent), keyed
    * self-join on the fingerprint, pair count. Candidate volume is
    * bounded by Σ df² over kept fingerprints ≤ maxDf · Σ df — linear
    * in corpus size for fixed maxDf, never all-pairs.
    */
  /** The winnowed fingerprint TABLE `(id, fp)` — distinct window
    * minima per document, computed relationally (one posexplode
    * tokenize, `lead`-window gram hashes, `rowsBetween` window
    * minima): one keyed shuffle on the doc id, linear whatever the
    * text column's provenance. Semantically identical to the per-row
    * [[graft.functions.TextAnalytics.winnowedFingerprints]] set
    * (docs shorter than k+w−1 tokens emit nothing — the null guard
    * falls out of the window frame) — q117 gates the equivalence
    * through the unchanged oracle. This is the form to use whenever
    * the text column is an EXPRESSION (synthesized corpora, concat):
    * nested array lambdas re-evaluate free expressions per element,
    * and projection collapse makes the HOF kernel O(len³) per doc
    * there (measured: 870 s vs ~60 s at 100×).
    */
  def winnowedFingerprintTable(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      w: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"k must be in [1, 8], got $k")
    require(w >= 2, s"w must be >= 2, got $w")
    val tp = docs.select(
      col(idCol).cast("long").as("id"),
      posexplode(graft.functions.TextAnalytics.tokens(col(textCol)))
        .as(Seq("pos", "term")))
    val byPos = Window.partitionBy("id").orderBy("pos")
    // k-gram md5-60 hash at each start position (rows with fewer than
    // k-1 followers drop — their trailing leads are null)
    val gramParts = col("term") +:
      (1 until k).map(j => lead(col("term"), j).over(byPos))
    val grams = tp
      .withColumn("h",
        when(gramParts.map(_.isNotNull).reduce(_ && _),
          conv(substring(md5(concat_ws(" ", gramParts: _*)), 1, 15), 16, 10)
            .cast("long")))
      .where(col("h").isNotNull)
      .select(col("id"), col("pos"), col("h"))
    // window-min over each run of w consecutive gram hashes; starts
    // with fewer than w hashes left have no window (the short-doc
    // guard falls out: a doc with < k+w-1 tokens emits nothing)
    grams
      .withColumn("__nfollow", count(lit(1)).over(
        byPos.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("fp", min(col("h")).over(
        byPos.rowsBetween(Window.currentRow, w - 1)))
      .where(col("__nfollow") >= w)
      .select(col("id"), col("fp"))
      .distinct()
  }

  def winnowingPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      w: Int,
      maxDf: Long,
      minShared: Long): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (pairs need df >= 2), got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // fingerprint-table-sized (~|positions|/w rows per doc); THREE
    // consumers below (the df aggregation and both join sides) — the
    // un-checkpointed form replayed the tokenize + gram-hash + two-
    // window winnowing kernel per consumer
    val fps = graft.core.StagingScope.stage(
      winnowedFingerprintTable(docs, textCol, idCol, k, w))
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .where(col("__df") <= maxDf).select("fp"),
      Seq("fp"), "left_semi")
    val l = kept.select(col("fp"), col("id").as("id_a"))
    val r = kept.select(col("fp"), col("id").as("id_b"))
    l.join(r, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** 60-bit SimHash fingerprint per document: every token votes +1/-1
    * on each bit of its hash, and positive sums set the bit. The token
    * hash is the top 60 bits of the token's md5 (its first 15 hex
    * chars, so the value is non-negative in any signed-64 engine) —
    * bit-for-bit reproducible in standard SQL, which is what lets the
    * fingerprints (q27) and the chunk-blocked pair join
    * ([[simHashPairs]], q27b) be ORACLE-GATED end-to-end. Implemented
    * explode -> 60 conditional sums -> bit assembly, i.e. one shuffle
    * on the doc id with map-side partial aggregation.
    */
  def simHash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bits = 60
    val h = docs.select(
      col(idCol).as("id"),
      explode(TextAnalytics.tokens(col(textCol))).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until bits).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"b$b")
    }
    val summed = h.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    summed.select(col("id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: block on 16-bit fingerprint chunks (two
    * near-identical docs differing in <= 3 bits must agree on at least
    * one of the 4 chunks), then verify with exact Hamming distance.
    *
    * SKEW GUARD ([[SkewJoin.selfJoin]]): a popular chunk value (e.g. 0
    * across short docs) would make one bucket's pair space quadratic IN
    * ONE TASK; buckets larger than `bucketCap` split by salt, the
    * candidates unchanged.
    */
  def simHashPairs(
      fps: DataFrame,
      maxHamming: Int = 3,
      bucketCap: Int = 1024): DataFrame = {
    val chunks = fps.select(
      col("id"),
      col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          col("simhash").bitwiseAND(lit(0xFFFFL << (c * 16))).as("val"))
      }: _*)).as("ck"))
      // narrow (4 rows per doc); THREE consumers below (the bucket
      // sizing and both join sides) — the un-staged form replayed the
      // upstream fingerprint kernel per consumer
      .transform(graft.core.StagingScope.stage(_))
    SkewJoin
      .selfJoin(chunks, Seq("ck"), bucketCap,
        Seq(col("id").as("id_a"), col("simhash").as("fp_a")),
        Seq(col("id").as("id_b"), col("simhash").as("fp_b")))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding-cosine near-duplicate pairs, EXACT: every unordered pair
    * with cosine ≥ threshold, scored by the fused native kernel.
    *
    * Plan: a GRID-BLOCKED self-join ([[SkewJoin.gridSelfJoin]], the
    * triangle variant of 1-Bucket-Theta, Okcan & Riedewald, SIGMOD
    * 2011): each vector hashes to one of `numBlocks` blocks and every
    * unordered pair meets in exactly one upper-triangle cell. The join
    * is a pure equi-join on the cell key: KEYED shuffles only, no
    * broadcast, and per-task state is two block slices of
    * O(n/numBlocks) rows — nothing ever needs the whole corpus on one
    * executor (the previous formulation broadcast the entire table
    * through a BroadcastNestedLoopJoin, which dies at 100× scale).
    *
    * Exact all-pairs over DENSE vectors is inherently Θ(n²·dim) compute;
    * this plan spreads it evenly over numBlocks·(numBlocks+1)/2 cells at
    * a replication cost of numBlocks+1 copies of each row — size
    * numBlocks so cells ≈ a few waves of cluster cores. APSS-style
    * prefix filtering cannot prune here: a dense unit vector's prefix
    * bound Σ|w_i|·maxw_i reaches any t ≪ ‖w‖₁·maxw within a few of its
    * 64 dims, so every vector would post nearly every dim ([[Apss]]
    * implements that pruning where it is sound — sparse vectors).
    * The sub-quadratic scale path is [[embeddingNearDupLsh]].
    */
  def embeddingNearDupExact(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBlocks: Int = 8): DataFrame = {
    // both triangle-join sides read this; materialize the scan+cast
    // once (vector-table-sized — the join shuffles it anyway)
    val v = graft.core.StagingScope.stage(corpus.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"),
      SkewJoin.gridBlock(col(idCol), numBlocks).as("blk")))
    SkewJoin
      .gridSelfJoin(v, Nil, numBlocks,
        Seq(col("v").as("vl")), Seq(col("v").as("vr")))
      .withColumn("sim", Similarity.cosine(col("vl"), col("vr")))
      .where(col("sim") >= threshold)
      .select(
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        round(col("sim"), 4).as("sim"))
  }

  /** Embedding-cosine near-duplicate pairs, LSH scale path: candidates
    * meet in any shared (table, SRP-bucket) — a narrow equi-join, the
    * all-pairs space never materializes — then the exact kernel
    * verifies against the threshold. Approximate: recall rises with
    * `numTables`/falls with `bitsPerTable` and is cross-checked against
    * [[embeddingNearDupExact]] in DedupSpec.
    */
  def embeddingNearDupLsh(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bitsPerTable: Int = 0,
      numTables: Int = 8,
      maxCandidates: Long = SimilarityGuard.Auto): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // read by the sizing count, the bucket fan-out, and both verify
    // attach joins — materialize the scan+cast once (the minHashLsh
    // shingle-table precedent: the verify joins shuffle it anyway)
    val base = graft.core.StagingScope.stage(
      corpus.select(col(idCol).as("id"), v.as("v")))
    lazy val nVecs = math.max(1L, base.count())
    // bitsPerTable <= 0 → size the buckets from the corpus: expected
    // occupancy n/2^bits drives candidate volume QUADRATICALLY (each
    // bucket self-joins), so any fixed bits turns superlinear as the
    // corpus grows — the sf1.0 audit OOM'd exactly there (6 bits, 20k
    // vectors: ~300/bucket, ~50M candidates). Bits tracking log2(n)
    // hold occupancy ~constant, making candidate volume linear in n.
    // Costs one count job at plan time.
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else {
        math.max(3, math.min(24,
          math.ceil(math.log(nVecs / 32.0) / math.log(2.0)).toInt))
      }
    val tables = (0 until numTables).map(t => t -> Similarity.hyperplanes(dim, bits, t))
    // The candidate stage is NARROW — ids only. Carrying the vectors
    // through the bucket join and pair-dedup multiplies the ~KB array
    // payload by the candidate count (the other half of the audit OOM);
    // the verify re-attaches vectors by id, one keyed join per side.
    val bucketed = base.select(
      col("id"),
      explode(array(tables.map { case (t, planes) =>
        struct(lit(t).as("tbl"), Similarity.srpBucket(col("v"), planes).as("bucket"))
      }: _*)).as("tb"))
      // narrow (numTables rows per vector, ids only); THREE consumers
      // (the volume guard and both self-join sides) would otherwise
      // each replay the numTables × bits dot-product signature kernel
      .transform(graft.core.StagingScope.stage(_))
    // PRE-FLIGHT GUARD: bucket occupancy n/2^bits drives the self-join
    // volume QUADRATICALLY, so a FIXED bits choice (q51b's
    // static-SQL constraint, or a caller pin) that is right at one SF
    // out-spills the box ten SFs later — the round-11 100× audit killed
    // the disk exactly there (6 pinned bits, 200k vectors → ~2.5B
    // candidate pairs). Predict Σ df·(df−1)/2 over (table, bucket) and
    // REFUSE up front; the auto-sized bits path keeps occupancy — and
    // with it this prediction — linear in n, so in-regime launches
    // never trip it.
    val predicted = SimilarityGuard.selfJoinVolume(bucketed, Seq("tb"))
    SimilarityGuard.check(
      predicted,
      SimilarityGuard.resolveCap(maxCandidates, nVecs),
      site = "Dedup.embeddingNearDupLsh",
      reroute = "Auto-size the buckets (bitsPerTable = 0) so occupancy " +
        "tracks the corpus")
    val a = bucketed.select(col("tb"), col("id").as("id_a"))
    val b = bucketed.select(col("tb"), col("id").as("id_b"))
    SimilarityGuard.observed(
      a.join(b, Seq("tb"))
        .where(col("id_a") < col("id_b")),
      "Dedup.embeddingNearDupLsh", predicted)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(base.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-cluster the embedding
    * space — the SAME quantizer machinery the IVF ANN index fits
    * ([[graft.ops.Similarity.ivfIndexFor]]; session-cached and shared
    * with ANN probes when fitted at the same nLists — see the cache
    * note at the end of this doc) — then compare
    * pairs only WITHIN a cluster. Where the grid join
    * ([[embeddingNearDupExact]]) partitions pairs uniformly and SRP-LSH
    * ([[embeddingNearDupLsh]]) buckets by random projections, cluster
    * scoping prunes by the DATA's own structure: cross-cluster pairs —
    * the overwhelming majority, semantically distant by construction —
    * are never generated. Approximate exactly where SemDeDup is:
    * near-dups straddling a cluster boundary are missed (recall vs the
    * exact join is pinned in DedupSpec); identical vectors always
    * co-assign, so exact-duplicate recall is 1.0 by construction.
    *
    * Scale shape — deliberately DIFFERENT from the LSH path's
    * narrow-then-attach: each id sits in a BOUNDED number of cells
    * (`nProbe`), so vectors ride the cell join directly and the pair
    * stream is generated LOCALLY per join task and pipelined straight
    * into the cosine verify — no pair-sized shuffle exists anywhere in
    * the plan before the (output-sized) pair dedup; the bulk shuffles
    * move only the nProbe·n assigned vectors. A hot cell (clustering
    * imbalance) is parallelized by nesting [[embeddingNearDupExact]]'s
    * triangle grid INSIDE the cell key — join key (cell, ci, cj) —
    * splitting one cell's pairs across ~numBlocks²/2 tasks for
    * ~(numBlocks+1)/2× vector replication. Remaining knobs: `nLists`
    * auto-scales with the corpus (constant expected occupancy, as the
    * LSH bits track log2 n), and a pre-flight [[SimilarityGuard]]
    * check on the MULTI-PROBE assignment's Σ|cell|·(|cell|−1)/2
    * refuses a degenerate fit (mass-duplicated embeddings collapsing
    * into one giant cell — this op's closed-vocabulary regime) before
    * launching the quadratic work. The k-means fit itself (and, with
    * the default `nLists = 0`, one corpus count to size it) runs
    * BEFORE that guard — on a degenerate corpus the O(n·k·dim·iters)
    * fit cost is already paid when the refusal lands; only the
    * quadratic pair stage is guarded.
    *
    * `nProbe = 2` (the default) assigns each vector to its two nearest
    * cells: a boundary-straddling near-dup pair then co-occurs in one
    * of them far more often than under single-assignment (which missed
    * ~2/3 of threshold pairs on unclustered embeddings), for ≤4× the
    * guarded candidate volume and a pair dedup on the (small) output.
    * `nProbe = 1` restores strict Abbas et al. single-cell scoping.
    *
    * The quantizer comes from [[graft.ops.Similarity.ivfIndexFor]]'s
    * session cache, shared with ANN probes WHEN fitted at the same
    * `nLists` — q42/q55-style probes pin nLists=16 while this op
    * auto-scales k with the corpus, so beyond ~33k vectors the dedup
    * intentionally fits its own occupancy-scaled quantizer rather
    * than reuse a 16-cell one whose cells would be quadratically
    * overfull here.
    */
  def semanticNearDup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 0,
      seed: Long = 42L,
      numBlocks: Int = 8,
      nProbe: Int = 2,
      maxCandidates: Long = SimilarityGuard.Auto,
      seedQuantizer: Int = 0,
      nCoarseProbe: Int = 4): DataFrame = {
    // nCoarseProbe widens the hierarchical router's per-level probe
    // (only meaningful past MaxLiteralCells): the recall audit priced
    // 4 -> 8 at +73% pair recall vs exact assignment for ~2x per-row
    // routing flops on a boundary-dominated corpus
    // (tools/check_sf100_r13.txt) — raise it when cells are many and
    // the corpus is weakly clustered
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val base = corpus.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    lazy val n = math.max(1L, base.count())
    // occupancy-scaled cell count: a FIXED nLists makes per-cell pair
    // volume grow quadratically with the corpus; k ~ n/2048 holds
    // E[|cell|] constant. k ≤ MaxLiteralCells rides the plan as one
    // centroid literal (exact single-level argmin); past it the index
    // goes hierarchical ([[graft.ops.Similarity.IvfHierarchy]] — the
    // recursive keyed centroid attach: L = ceil(log256 k) routing
    // levels), so occupancy scaling is UNBOUNDED by the quantizer —
    // two levels to 65k cells (~134M vectors), three to 16.7M cells
    // (~34B vectors). A level whose centroid payload outgrows the
    // broadcast byte budget (Similarity.LevelBroadcastBytesKey,
    // default 2 GiB) attaches by keyed shuffle automatically — no
    // broadcast envelope remains; the binding constant past ~1B
    // vectors is the distributed k-means fit itself, a resource
    // envelope rather than a hardcoded cap.
    val k =
      if (nLists > 0) nLists
      else math.min(Int.MaxValue.toLong,
        math.max(16L, math.ceil(n / 2048.0).toLong)).toInt
    // seedQuantizer > 0 is the ORACLE-TWIN configuration (q84b): cells
    // are argmin-L2 over the corpus's first seedQuantizer vectors by
    // id — a quantizer SQL replays — instead of the fitted k-means
    val index =
      if (seedQuantizer > 0)
        Similarity.ivfSeededIndexFor(corpus, idCol, vecCol, seedQuantizer,
          nCoarseProbe)
      else Similarity.ivfIndexFor(corpus, idCol, vecCol, k, seed, nCoarseProbe)
    // The multi-probe assignment feeds THREE plan consumers (the guard's
    // Σ|cell|² aggregate and both triangle sides), so its per-row kernel
    // re-evaluates 3x — left lazy on purpose: the routed kernel is
    // O(L·k^(1/L)·dim)/row, noise next to the pair join.
    val assigned = index
      .multiAssigned(nProbe)
      .select(col("cell"), col("neighbor_id").as("id"), col("cv").as("v"))

    val predicted = SimilarityGuard.selfJoinVolume(
      assigned.select("cell", "id"), Seq("cell"))
    SimilarityGuard.check(
      predicted,
      SimilarityGuard.resolveCap(maxCandidates, n),
      site = "Dedup.semanticNearDup",
      reroute = "Re-route to embeddingNearDupLsh (SRP buckets hold " +
        "occupancy constant regardless of embedding-space collapse)")
    // the r13 recall finding as a RUNTIME signal: one bounded sampled
    // job warns (never refuses) when the corpus is boundary-dominated —
    // the regime where this op's routing recall measured 0.07 and the
    // verify stage below would burn ~all its compute on sub-threshold
    // pairs. Silent on clustered corpora (survival well above the bar).
    SimilarityGuard.clusterednessProbe(
      assigned, threshold, n, "Dedup.semanticNearDup")

    // triangle grid WITHIN each cell (cf. embeddingNearDupExact): the
    // (ci, cj) sub-keys spread a hot cell's pairs across tasks
    val v = assigned.withColumn("blk",
      SkewJoin.gridBlock(col("id"), numBlocks))
    SimilarityGuard.observed(
      SkewJoin.gridSelfJoin(v, Seq("cell"), numBlocks,
        Seq(col("v").as("vl")), Seq(col("v").as("vr"))),
      "Dedup.semanticNearDup", predicted)
      .withColumn("sim", Similarity.cosine(col("vl"), col("vr")))
      .where(col("sim") >= threshold)
      .select(
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        round(col("sim"), 4).as("sim"))
      // a pair co-assigned to BOTH of its probes' shared cells emits
      // once per cell — dedup on the canonical key. Output-sized (only
      // verified >= threshold pairs), unlike the candidate stream.
      .dropDuplicates("id_a", "id_b")
  }
}
