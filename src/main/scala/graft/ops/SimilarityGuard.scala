package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-flight candidate-volume guard for the EXACT similarity joins
  * ([[Dedup.ngramJaccardPairs]], [[Decontaminate.jaccardScreen]], the
  * [[Apss]] entries).
  *
  * Why: prefix/posting filtering bounds candidate volume only when the
  * rare end of the vocabulary stays rare as the corpus grows (Heaps'-
  * law growth — true of natural corpora). On a CLOSED vocabulary the
  * candidate stage scales as Σ df² over the prefix grams — the 100×
  * scale audit (NOTES_r7) measured ~10⁹ candidates for ~8k true pairs,
  * and no exact plan avoids touching every co-occurring pair. Through
  * round 8 that finding was documentation only: the engine would still
  * launch the doomed join. The reference's analog is a hard size bound
  * pushed into the candidate query itself (`search/dump_homologs.js:20`
  * caps the id range a single dump walks); ours is computed from the
  * data: the prefix/posting tables the joins are built from already
  * carry exactly the per-gram document frequencies needed to PREDICT
  * the candidate volume with one cheap aggregation, so the engine can
  * refuse a quadratic-regime launch up front — minutes of cluster time
  * and a clear message instead of a disk-filling shuffle.
  *
  * The default cap is AUTO: `max(floor, perDoc · corpusSize)` — scale-
  * free, so a launch whose per-document amplification is constant (the
  * linear regime prefix filtering is designed for) passes at any
  * corpus size, while a closed vocabulary's per-doc volume grows with
  * the corpus and refuses past the budget. An explicit positive
  * `maxCandidates` is a hard cap; `Long.MaxValue` opts out. The
  * refusal names the measured volume and the documented re-route (the
  * LSH screens, whose candidate volume is driven by signature
  * collisions ∝ true similarity, not gram frequency).
  */
object SimilarityGuard {

  /** Refusal carries the numbers so an operator can decide to re-route
    * or consciously raise the cap.
    */
  final class CandidateVolumeExceeded(
      val predicted: Long,
      val cap: Long,
      site: String,
      reroute: String)
    extends RuntimeException(
      s"$site: predicted exact-join candidate volume $predicted exceeds cap $cap. " +
        s"This corpus is in the closed-vocabulary / high-df regime where prefix " +
        s"filtering cannot prune (candidates scale as sum(df^2), independent of " +
        s"true-pair count). $reroute, or raise maxCandidates explicitly if the " +
        s"volume is intended.")

  /** Refusal for a similarity launch whose BROADCAST payload prices
    * past the tier's byte budget AND which has no keyed fallback plan
    * (no equi-key to shuffle on): the broadcast would die mid-job, and
    * the non-broadcast physical alternative is a shuffled nested loop
    * with the same infeasible compute, so the only honest answer is to
    * refuse up front and name the scale path.
    */
  final class BroadcastPayloadExceeded(
      val bytes: Long,
      val budgetBytes: Long,
      site: String,
      reroute: String)
    extends RuntimeException(
      s"$site: measured broadcast payload $bytes bytes exceeds the " +
        s"similarity-tier broadcast budget $budgetBytes bytes " +
        s"(${graft.ops.Similarity.LevelBroadcastBytesKey}). This operator " +
        s"has no keyed fallback (no equi-key to shuffle on) and its " +
        s"compute is |corpus| x |queries| regardless of join strategy — " +
        s"past the serving contract's bounded query batches it is the " +
        s"wrong plan, not just the wrong join. $reroute, or raise the " +
        s"budget conf if the payload is intended.")

  /** Measured broadcast-payload pre-flight for a frame about to be
    * broadcast whole: Σ over rows of (|vecCol| · 8 + [[RowOverheadBytes]])
    * — the same pricing model [[graft.ops.Similarity.IvfIndex.probe]]
    * and the routing-level attach use, but MEASURED per row (one cheap
    * aggregation) because the caller has no static dim. Refuses past
    * `budgetBytes` with the named reroute; logs the headroom at INFO so
    * an operator sees the payload creeping toward the budget before the
    * first refusal, exactly like [[check]].
    */
  def broadcastBudgetCheck(
      frame: DataFrame,
      vecCol: String,
      budgetBytes: Long,
      site: String,
      reroute: String): Unit = {
    val bytes = frame
      .agg(coalesce(
        sum(size(col(vecCol)).cast("long") * 8L + RowOverheadBytes),
        lit(0L)))
      .head().getLong(0)
    log.info(s"$site: measured broadcast payload $bytes bytes / budget " +
      f"$budgetBytes (${bytes.toDouble / budgetBytes}%.3f of budget)")
    if (bytes > budgetBytes)
      throw new BroadcastPayloadExceeded(bytes, budgetBytes, site, reroute)
  }

  /** Per-row overhead the broadcast pricing model adds on top of the
    * vector payload (UnsafeRow header, id column, offsets) — the same
    * constant [[graft.ops.Similarity.IvfIndex.probe]]'s static model
    * uses.
    */
  val RowOverheadBytes: Long = 64L

  /** Sentinel for the default `maxCandidates` parameter: resolve the
    * cap from corpus size ([[autoCap]]). An explicit positive value is
    * a hard cap.
    */
  val Auto: Long = 0L

  /** Auto-mode per-document candidate budget. Calibrated on the
    * driver's df-heavy synthetic corpus — the heaviest gated workload
    * (q63's TF-IDF posting join) runs ~12k join rows per doc at ANY
    * scale of that corpus, and the 100× audit's exact screens hold
    * per-doc volume constant (tagged copies keep dfs disjoint), so
    * 20k/doc passes every same-workload-bigger launch while a closed
    * vocabulary (per-doc volume ∝ corpus size) still crosses it and
    * refuses once the corpus outgrows the floor.
    */
  val DefaultPerDocCandidates: Double = 20000.0

  /** Auto-mode floor: corpora small enough that even a quadratic
    * candidate stage is cheap never refuse — the guard exists to stop
    * cluster-scale blow-ups, not unit tests.
    */
  val DefaultFloor: Long = 50L * 1000 * 1000

  /** The auto cap: scale-free in corpus size, so a workload whose
    * per-doc amplification is constant (the linear regime prefix
    * filtering is designed for) passes at ANY scale — the round-9
    * 100× audit measured q22 at 406M predicted rows on 500k docs
    * (812/doc, identical to its sf0.1 ratio) and the earlier absolute
    * default wrongly refused it. Quadratic regimes grow per-doc volume
    * with the corpus and cross the per-doc budget instead.
    */
  def autoCap(nDocs: Long): Long =
    math.max(DefaultFloor, (DefaultPerDocCandidates * nDocs).toLong)

  def resolveCap(maxCandidates: Long, nDocs: => Long): Long =
    if (maxCandidates > 0) maxCandidates else autoCap(nDocs)

  /** Predicted candidate volume of a SELF equi-join on `keys`:
    * Σ over key of df·(df−1)/2 — the join rows surviving the
    * id_a &lt; id_b half-plane (a pair meeting on k shared keys counts
    * k times: this is the WORK the candidate stage performs, which is
    * what must stay bounded). One aggregation over the (already
    * materialized) prefix table — O(|prefixes|), vs the join it
    * guards being O(result).
    */
  /** Saturating double→Long: volumes near/over 2⁶³ mean "refuse" — a
    * silent Long wrap would flip `predicted > cap` to false in exactly
    * the catastrophic regime the guard exists for. Doubles lose ULP
    * precision above 2⁵³, irrelevant for a threshold comparison.
    */
  private def toVolume(d: Double): Long =
    if (d >= Long.MaxValue.toDouble) Long.MaxValue else d.toLong

  def selfJoinVolume(prefixes: DataFrame, keys: Seq[String]): Long =
    volumeOf(selfJoinVolumeAgg(prefixes, keys).head(), 0)

  /** [[selfJoinVolume]]'s aggregation as a SINGLE-ROW FRAME (one double
    * column) instead of an immediate action — the seam that lets a
    * caller FUSE the guard's pre-flight with its other single-row stats
    * aggregates into ONE driver job (cross-join of 1-row aggregates,
    * then one `head()`), instead of 2–3 sequential driver round trips
    * per guarded launch. Decode the column with [[volumeOf]].
    */
  def selfJoinVolumeAgg(prefixes: DataFrame, keys: Seq[String]): DataFrame =
    prefixes.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
      // double arithmetic: df ~1e9 makes df² overflow Long per-key
      .agg(coalesce(sum(expr("CAST(df AS DOUBLE) * (df - 1) / 2")), lit(0.0))
        .as("__predicted_volume"))

  /** Predicted candidate volume of a CROSS equi-join on `keys`:
    * Σ over key of df_a·df_b.
    */
  def crossJoinVolume(a: DataFrame, b: DataFrame, keys: Seq[String]): Long =
    volumeOf(crossJoinVolumeAgg(a, b, keys).head(), 0)

  /** [[crossJoinVolume]] as a single-row frame — see
    * [[selfJoinVolumeAgg]] for the fusion contract.
    */
  def crossJoinVolumeAgg(
      a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    def dfs(t: DataFrame, name: String) =
      t.groupBy(keys.map(col): _*).agg(count(lit(1)).as(name))
    dfs(a, "dfa").join(dfs(b, "dfb"), keys)
      .agg(coalesce(sum(col("dfa").cast("double") * col("dfb")), lit(0.0))
        .as("__predicted_volume"))
  }

  /** Decode a fused pre-flight row's volume column (saturating — see
    * [[toVolume]]).
    */
  def volumeOf(row: org.apache.spark.sql.Row, idx: Int): Long =
    toVolume(row.getDouble(idx))

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Monotonic launch counter: CollectMetrics names must be unique
    * within one query plan, and a composed pipeline (q72) embeds
    * several guarded launches.
    */
  private val launchSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Production telemetry for every guarded launch: wrap the candidate
    * stream in a `Dataset.observe` (CollectMetrics) node named
    * `graft.similarity.<site>#<k>` carrying the ACTUAL candidate rows
    * next to the volume the guard PREDICTED. The pre-flight check
    * refuses obvious blow-ups; this makes the predictor's calibration
    * observable in flight — an operator (or a QueryExecutionListener)
    * watching actual/predicted drift toward 1 sees the df regime
    * shifting before the first refusal, with no extra job, shuffle, or
    * action (the metric aggregates ride the existing partition pass).
    * `actual` counts rows AFTER the join's fused static prunes
    * (positional filters, id ordering), so actual ≤ predicted always;
    * APSS/SemDeDup launches carry no post-key prune and sit at
    * equality (property-pinned in SimilarityGuardSpec).
    */
  def observed(candidates: DataFrame, site: String, predicted: Long): DataFrame =
    candidates.observe(
      s"graft.similarity.$site#${launchSeq.incrementAndGet()}",
      count(lit(1)).as("actual_candidates"),
      max(lit(predicted)).as("predicted_candidates"))

  // -------------------------------------------------------------------
  // Clusteredness signal for the SEMANTIC dedup tier. Round 13 measured
  // hierarchical-routing pair recall at 0.985 on clustered corpora (the
  // regime SemDeDup assumes: tight blobs, duplicates within a blob) and
  // 0.07 on unclustered ones (boundary-dominated: argmin margins tiny,
  // near-dup pairs straddle every cell boundary) — but until this round
  // only the scaladoc knew. The probe below turns the finding into a
  // RUNTIME warning: sample the within-cell pair survival (the fraction
  // of co-assigned sampled pairs actually at/above the threshold — the
  // verify-survival rate the pipeline is about to pay for in full) with
  // one bounded job, and warn with the measured reroutes when the
  // corpus is in the low-recall regime. A warning, not a refusal: the
  // pair YIELD on boundary-dominated corpora still measured 0.67-0.88
  // (a near-equal lottery for dedup mass), so the launch can be the
  // right call — the operator just should not read its output as the
  // threshold pair set.
  // -------------------------------------------------------------------

  /** Within-cell sampled pair survival below which the corpus is
    * called boundary-dominated. Calibrated against the r13 measurement
    * matrix: a clustered corpus (blobs of 50 at within-blob cosine
    * ~0.997) samples survival ~0.1-0.4 (same-blob pairs are a solid
    * minority of within-cell pairs), while unclustered bench embeddings
    * sample ~0 (random cosine clears a 0.8 threshold essentially never)
    * — an order of magnitude of separation on each side of 0.02. The
    * 100× readings (0.41 clustered, 0.0000 unclustered) are in
    * `tools/check_sf10_r14.txt`.
    */
  val MinClusteredSurvival: Double = 0.02

  /** Target sample size (rows) for the clusteredness probe. */
  val ClusterednessSampleRows: Long = 65536L

  /** Sampled-pair floor below which the probe stays silent — too few
    * co-assigned sampled pairs to call a regime (unit-test corpora,
    * near-empty cells).
    */
  val ClusterednessMinPairs: Long = 200L

  /** Per-cell cap on sampled members: bounds the probe's self-join at
    * cells × C(cap, 2) pairs regardless of occupancy skew.
    */
  private val PerCellSampleCap = 16

  /** Last warning [[clusterednessProbe]] emitted — spec-visible (reset
    * before a run, assert after); production reads the WARN log.
    */
  @volatile private[graft] var lastClusterednessWarning: Option[String] = None

  /** Measure within-cell pair survival on a bounded deterministic
    * sample of `assigned` (columns `cell`, `id`, `v`) and WARN when the
    * corpus is boundary-dominated. One job: hash-stride the ids down to
    * ~[[ClusterednessSampleRows]] rows, cap each cell's sample at
    * [[PerCellSampleCap]] members, self-join within cell, count the
    * fraction of pairs at/above `threshold`. Returns the measured
    * survival, or None when fewer than [[ClusterednessMinPairs]] pairs
    * were sampled (silent — no regime call on no evidence).
    */
  def clusterednessProbe(
      assigned: DataFrame,
      threshold: Double,
      nDocs: => Long,
      site: String): Option[Double] = {
    import org.apache.spark.sql.expressions.Window
    val stride = math.max(1L, nDocs / ClusterednessSampleRows)
    val sample = assigned
      .where(pmod(xxhash64(col("id")), lit(stride)) === 0)
      .withColumn("_rn",
        row_number().over(Window.partitionBy("cell").orderBy("id")))
      .where(col("_rn") <= PerCellSampleCap)
      .select("cell", "id", "v")
    val l = sample.select(col("cell"), col("id").as("id_l"), col("v").as("vl"))
    val r = sample.select(col("cell"), col("id").as("id_r"), col("v").as("vr"))
    val row = l.join(r, Seq("cell")).where(col("id_l") < col("id_r"))
      .select(when(
        coalesce(Similarity.cosine(col("vl"), col("vr")), lit(0.0))
          >= threshold, 1.0).otherwise(0.0).as("hit"))
      .agg(count(lit(1)).as("n"), coalesce(avg(col("hit")), lit(0.0)).as("s"))
      .head()
    val pairs = row.getLong(0)
    val survival = row.getDouble(1)
    if (pairs < ClusterednessMinPairs) None
    else {
      log.info(f"$site: sampled within-cell pair survival $survival%.4f " +
        s"($pairs pairs at threshold $threshold)")
      if (survival < MinClusteredSurvival) {
        val msg = f"$site: sampled within-cell pair survival $survival%.4f " +
          f"($pairs pairs at threshold $threshold) is below " +
          f"$MinClusteredSurvival%.2f — BOUNDARY-DOMINATED corpus. In this " +
          "regime cell scoping's pair recall vs exact assignment measured " +
          "0.07 (vs 0.985 on clustered corpora) and nearly all verify " +
          "compute is spent on sub-threshold pairs; treat the output as a " +
          "dedup-mass sample (measured yield 0.67-0.88), not the threshold " +
          "pair set. Re-route to embeddingNearDupExact (grid) or " +
          "embeddingNearDupLsh (SRP buckets), or widen nCoarseProbe " +
          "(4 -> 8 measured +73% pair recall for ~2x routing flops)."
        lastClusterednessWarning = Some(msg)
        log.warn(msg)
      }
      Some(survival)
    }
  }

  def check(predicted: Long, cap: Long, site: String, reroute: String): Unit = {
    // allowed launches log their headroom at INFO: at cluster scale an
    // operator watching the ratio creep toward 1 sees the df regime
    // shifting BEFORE the first refusal
    log.info(s"$site: predicted candidate volume $predicted / cap $cap " +
      f"(${predicted.toDouble / cap}%.3f of budget)")
    if (predicted > cap)
      throw new CandidateVolumeExceeded(predicted, cap, site, reroute)
  }
}
