package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** All-Pairs Similarity Search over SPARSE vectors: the exact
  * cosine-threshold self-join with PREFIX FILTERING (after Bayardo,
  * Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007),
  * restated for a symmetric distributed join — the embedding analog of
  * [[Dedup.ngramJaccardPairs]]'s PPJoin plan.
  *
  * Pruning rule (provably exact): normalize each vector, let
  * `bound(d)` be an upper bound on the OPPOSING side's |weight| on
  * dimension d. Each vector independently DROPS its smallest-bound
  * dims greedily while the running sum of |w_i|·bound(i) stays < t/2,
  * and POSTS the rest to a (dim → id) inverted index. If a pair shares
  * no posted dim, every common dim was dropped by one side or the
  * other, so `dot ≤ Σ_dropped(a) |a_i|·bound(i) + Σ_dropped(b)
  * |b_i|·bound(i) < t/2 + t/2 = t` — no qualifying pair is missed.
  * (The t/2 split is what makes the rule symmetric; Bayardo's full-t
  * bound relies on a sequential index-then-probe order that does not
  * parallelize.)
  *
  * `bound(d)` is the corpus-wide max |weight| for a closed self-join
  * ([[cosinePairs]]), or the universal unit-vector bound 1.0 for an
  * OPEN-WORLD cross-set probe ([[probePairs]]) that must stay exact
  * against query vectors the corpus side has never seen — the
  * incremental-dedup shape: probe every new batch against the
  * corpus.
  *
  * Candidates are the posted-dim equi-join — every shuffle is keyed by
  * dim then by id, nothing quadratic materializes — verified by the
  * exact sparse dot product. On DENSE unit vectors this degenerates
  * (every vector posts nearly every dim — see
  * [[Dedup.embeddingNearDupExact]]'s scaladoc); it prunes exactly where
  * real sparse data lives: TF-IDF bags, sparsified/top-m embeddings,
  * one-hot features.
  */
object Apss {

  /** Above this many distinct dims the corpus bounds stop being
    * collapsed into one literal map (a TF-IDF shingle vocabulary of
    * 10⁷–10⁹ keys would make it multi-GB and kill the build — and
    * Catalyst map literals pay a LINEAR scan per lookup, so even a
    * fits-in-memory 100k-key map would tax every term) and attach via
    * a keyed join instead — see [[cosinePairs]].
    */
  val DefaultMaxBroadcastDims: Int = 4096

  /** Unit-normalize: (id, terms: array<(dim, wn)>), zero-norm rows
    * excluded. One narrow pass, no shuffle.
    */
  private def normalized(
      vecs: DataFrame, idCol: String, termsCol: String): DataFrame =
    vecs.select(col(idCol).as("id"), col(termsCol).as("terms"))
      .withColumn("nrm",
        sqrt(aggregate(col("terms"), lit(0.0),
          (s, t) => s + t.getField("w").cast("double") * t.getField("w").cast("double"))))
      .where(col("nrm") > 0)
      .select(col("id"),
        transform(col("terms"), t => struct(
          t.getField("dim").as("dim"),
          (t.getField("w").cast("double") / col("nrm")).as("wn"))).as("terms"))

  /** Corpus-wide max |normalized weight| per dim — the closed-corpus
    * `bound(d)` table: (dim, maxw), one row per distinct dim.
    */
  private def boundsOf(normed: DataFrame): DataFrame =
    normed.select(explode(col("terms")).as("t"))
      .groupBy(col("t.dim").as("dim")).agg(max(abs(col("t.wn"))).as("maxw"))

  /** The greedy posting decision over rows of
    * (id, terms: array<(dim, wn, cb)>) where cb = |wn|·bound(dim):
    * ascending by cb (ties to the lower dim), drop while the running
    * sum INCLUDING the current term stays < t/2; POST everything from
    * the crossing term on. Each posting carries its RESIDUAL bound
    * rem = Σ of contributions from this posting onward PLUS its own
    * normalized weight wn (for the exact shared-dot accumulation), and
    * the row carries its actual DROPPED mass (< t/2) — together they
    * upper-bound any pair's dot for the candidate-stage prunes. One
    * aggregate over a bounded array, no shuffle.
    */
  private def decide(withCb: DataFrame, half: Double): DataFrame = {
    // dims are polymorphic: int for a bounded embedding/feature space,
    // string for a raw shingle/term vocabulary — the accumulator's
    // empty-array seed is the one place the type must be spelled out
    val dimSql = {
      import org.apache.spark.sql.types.{ArrayType, StructType}
      withCb.schema("terms").dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType]("dim").dataType.sql
    }
    withCb.select(
        col("id"),
        // dim-SORTED full vector (dims unique per row; struct sort
        // orders by the leading dim field) — what the merge-walk
        // verify kernel consumes. A map would pay a linear key scan
        // per lookup (Catalyst maps are unsorted arrays).
        array_sort(transform(col("terms"), t => struct(
          t.getField("dim").as("dim"), t.getField("wn").as("wn")))).as("m"),
        aggregate(
          // the trailing wn rides for the posting payload; sort order
          // is decided by (contrib, dim) alone — dims are unique, so
          // the third field never breaks a tie
          array_sort(transform(col("terms"), t => struct(
            t.getField("cb").as("contrib"),
            t.getField("dim").as("dim"),
            t.getField("wn").as("wn")))),
          struct(lit(0.0).as("cum"),
            array().cast(s"array<struct<dim:$dimSql,cb:double,wn:double>>").as("ps")),
          (acc, x) => {
            val cum = acc.getField("cum") + x.getField("contrib")
            struct(
              cum.as("cum"),
              when(cum >= half,
                array_append(acc.getField("ps"), struct(
                  x.getField("dim").as("dim"),
                  acc.getField("cum").as("cb"),
                  x.getField("wn").as("wn"))))
                .otherwise(acc.getField("ps")).as("ps"))
          },
          acc => struct(
            transform(acc.getField("ps"), p => struct(
              p.getField("dim").as("dim"),
              (acc.getField("cum") - p.getField("cb")).as("rem"),
              p.getField("wn").as("wn"))).as("dims"),
            // cum BEFORE the first posting == total dropped mass;
            // nothing posted -> everything was dropped (try_element_at:
            // ANSI element_at throws on the empty array)
            coalesce(try_element_at(acc.getField("ps"), lit(1)).getField("cb"),
              acc.getField("cum")).as("dropped"))).as("pd"))
      .select(col("id"), col("m"),
        col("pd.dims").as("posted"), col("pd.dropped").as("dropped"))
  }

  /** Per-vector posting decision with the bound attached as narrow
    * array expressions against a LITERAL map column (`mw`), or the
    * universal bound 1.0 (`None` — the open-world rule). Zero joins,
    * zero shuffles — the whole decision is one codegen'd pass per row;
    * the right shape when the dim space is bounded (embeddings,
    * sparsified top-m, small vocabs).
    */
  private def perVecOf(
      vecs: DataFrame,
      idCol: String,
      termsCol: String,
      half: Double,
      mw: Option[Column]): DataFrame = {
    val normed = normalized(vecs, idCol, termsCol)
    val cbOf: Column => Column = mw match {
      case Some(m) => dim => coalesce(element_at(m, dim), lit(1.0))
      case None    => _ => lit(1.0)
    }
    val withCb = normed
      .select(col("id"), transform(col("terms"), t => struct(
        t.getField("dim").as("dim"),
        t.getField("wn").as("wn"),
        (abs(t.getField("wn")) * cbOf(t.getField("dim"))).as("cb"))).as("terms"))
    decide(withCb, half)
  }

  /** Per-vector posting decision with the bound attached by a KEYED
    * join — explode terms, equi-join the (dim, maxw) bounds table on
    * dim, regroup by id. Two extra keyed shuffles, but nothing ever
    * materializes the whole vocabulary in one row, so this is the
    * shape that survives a 10⁹-key TF-IDF shingle space. Semantically
    * identical to the broadcast attach: [[decide]] re-sorts per row,
    * and the regrouped map is order-insensitive.
    */
  private def perVecKeyedOf(normed: DataFrame, half: Double,
      bounds: DataFrame): DataFrame = {
    val exploded = normed.select(col("id"), explode(col("terms")).as("t"))
      .select(col("id"), col("t.dim").as("dim"), col("t.wn").as("wn"))
    val withCb = exploded.join(bounds, Seq("dim"))
      .groupBy("id")
      .agg(collect_list(struct(
        col("dim"), col("wn"),
        (abs(col("wn")) * col("maxw")).as("cb"))).as("terms"))
    decide(withCb, half)
  }

  /** Closed-corpus per-vector decision, picking the bound-attach shape
    * by dim cardinality: ONE driver-side collect of at most
    * `maxBroadcastDims + 1` bound rows decides — within the cap the
    * bounds embed as a literal map (no join, no subquery, narrow
    * codegen'd attach), beyond it the keyed-join attach engages and
    * the vocabulary never materializes in one place. Pass
    * `maxBroadcastDims <= 0` to force the keyed attach without the
    * probe collect.
    */
  private def perVecClosedOf(
      vecs: DataFrame,
      idCol: String,
      termsCol: String,
      half: Double,
      maxBroadcastDims: Int): (DataFrame, Option[DataFrame]) = {
    val normed = normalized(vecs, idCol, termsCol)
    // keyed path: `normed` feeds BOTH the bounds aggregation and the
    // per-term explode — stage it once so an expensive upstream vector
    // build (q63's TF-IDF join+regroup lineage) doesn't replay per
    // consumer. The staged handle is RETURNED so the caller can release
    // the corpus-sized non-evictable blocks once its own downstream
    // checkpoint has materialized (a leaked handle accumulates across
    // repeated calls in one session — the q83/q13 pinned-cache lesson).
    // The broadcast path reads the lineage once per side already
    // (bounds collapse into a literal), so it stays unstaged.
    def keyed(): (DataFrame, Option[DataFrame]) = {
      val staged = normed.localCheckpoint(false)
      (perVecKeyedOf(staged, half, boundsOf(staged)), Some(staged))
    }
    if (maxBroadcastDims <= 0) keyed()
    else {
      val probed = boundsOf(normed).limit(
        math.min(maxBroadcastDims.toLong + 1, Int.MaxValue.toLong).toInt).collect()
      if (probed.length > maxBroadcastDims) keyed()
      else {
        // dims are polymorphic (int feature ids, long hashed grams,
        // string terms) — build the literal bound map at the matching
        // key type so element_at resolves without an implicit cast
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
        val mw = normed.schema("terms").dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]("dim")
          .dataType match {
          case LongType =>
            typedLit(probed.map(r => r.getLong(0) -> r.getDouble(1)).toMap)
          case StringType =>
            typedLit(probed.map(r => r.getString(0) -> r.getDouble(1)).toMap)
          case IntegerType =>
            typedLit(probed.map(r => r.getInt(0) -> r.getDouble(1)).toMap)
          case t => throw new IllegalArgumentException(
            s"unsupported dim type $t (int, long, or string)")
        }
        (perVecOf(vecs, idCol, termsCol, half, Some(mw)), None)
      }
    }
  }

  /** Candidate pairs from two posting lists meeting on shared dims,
    * split by [[SkewJoin.crossJoin]]: a hot dim (posted by many
    * vectors) would make one join task quadratic, so dims whose
    * BUILD-side posting list exceeds `dimCap` split into salt groups,
    * every pair still meets and the worst task shrinks. Output is
    * distinct (id_a, id_b); `ordered` adds the id_a < id_b self-join
    * constraint. Pure plan construction — the
    * pre-flight guard and the predicted posting-meeting volume (which
    * also feeds the `observed` telemetry here) live in [[pairsAuto]],
    * so sharded passes don't re-aggregate the dfs per pass.
    */
  private def candidatesOf(
      probeSide: DataFrame,
      buildSide: DataFrame,
      ordered: Boolean,
      dimCap: Int,
      threshold: Double,
      predicted: Long,
      meetDims: Option[DataFrame] = None,
      broadcastBuild: Boolean = false): DataFrame = {
    // `meetDims` is the caller's pre-computed (dim, g) salt-group table
    // — [[pairsAuto]]'s one-pass path derives it from the SAME df
    // aggregation the pre-flight guard already ran, restricted to dims
    // that can produce a meeting, so the posting set is aggregated once
    // instead of twice and both join inputs shrink before the exchange.
    // Grid cells pass None: their per-cell build slice needs its own
    // counts for the salt sizing.
    val groups = meetDims.getOrElse(
      SkewJoin.saltGroups(buildSide, Seq("dim"), dimCap))
    // JOIN STRATEGY, picked deliberately (guide §3.1) when the caller
    // measured the sides (one-pass path). A checkpoint-backed posting
    // scan carries no usable size statistics, so left to the planner
    // this join sort-merges: both posting sides exchange by (dim, salt)
    // AND SORT — the sort of the salted build stream measured ~1.3×
    // on q57. Within [[CandBroadcastBytes]] (exact salted-row count
    // from the guard job, not an estimate) the salted build side
    // BROADCASTS — the probe stream then never exchanges at all;
    // beyond it, shuffle-hash (the [[verifyShaped]] rationale: hash-
    // building a partition slice beats re-sorting the whole stream,
    // and the dimCap salt bounds the per-dim build lists). Grid cells
    // (meetDims == None) keep planner choice — their per-cell sizes
    // are unmeasured and sort-merge's spill grace is the safe default.
    val strategy: DataFrame => DataFrame =
      if (broadcastBuild) broadcast(_)
      else if (meetDims.isDefined) _.hint("shuffle_hash")
      else identity
    // TWO aggregated prunes, both provably exact:
    //
    // RESIDUAL BOUND (Bayardo's remscore, symmetric): the shared
    // posted dims' dot is ≤ each side's residual at ITS OWN earliest
    // shared posting — per side that is max over meetings of rem, and
    // the sound combined bound is least(max(rem_a), max(rem_b)) (NOT
    // max(least(..)): the earliest shared posting differs per side).
    // Everything else each side dropped contributes at most its
    // dropped mass, so dropped_a + dropped_b + least(ua, ub) < t
    // proves the pair can't qualify.
    //
    // SHARED-DOT BOUND (exact dot-so-far): the shared posted dims'
    // contribution is computed EXACTLY as Σ wn_a·wn_b over meetings;
    // every other dim was dropped by at least one side, and a dim
    // side x dropped contributes ≤ |wn_x|·bound(dim), which summed is
    // ≤ dropped_x — so dot ≤ sharedDot + dropped_a + dropped_b. This
    // is the sharp one: for a non-duplicate pair meeting on one rare
    // gram, sharedDot is one small product while the residuals (mass
    // still ahead in the posting order) stay near t/2 — on the 100×
    // audit corpus the residual bound kept 78M of 86M candidate pairs
    // and the verify stage's vector attachment out-spilled the box;
    // the shared-dot bound cuts the same stream to ~the true pairs.
    //
    // The 1e-9 slack keeps float round-off from pruning a knife-edge
    // qualifying pair.
    val cand = SimilarityGuard.observed(
      SkewJoin.crossJoin(probeSide, buildSide, groups, Seq("dim"),
        Seq(col("id").as("id_a"), col("rem").as("rem_a"),
          col("wn").as("wn_a"), col("dropped").as("da")),
        Seq(col("id").as("id_b"), col("rem").as("rem_b"),
          col("wn").as("wn_b"), col("dropped").as("db")),
        strategy)
        .where(if (ordered) col("id_a") < col("id_b") else lit(true)),
      "Apss.candidatesOf", predicted)
      .groupBy("id_a", "id_b")
      // da/db are functionally dependent on id_a/id_b (one dropped mass
      // per vector), so any pick is the right value — max makes the
      // determinism self-evident and survives a refactor that breaks
      // the dependency.
      .agg(max(col("rem_a")).as("ua"), max(col("rem_b")).as("ub"),
        sum(col("wn_a") * col("wn_b")).as("sd"),
        max(col("da")).as("da"), max(col("db")).as("db"))
      .where(
        col("da") + col("db") + least(col("ua"), col("ub")) >=
          threshold - 1e-9 &&
        col("da") + col("db") + col("sd") >= threshold - 1e-9)
      .select("id_a", "id_b")
    cand
  }

  /** Exploded posting rows: (dim, id, residual bound, own weight,
    * dropped mass).
    */
  private def postingsOf(pv: DataFrame): DataFrame =
    pv.select(col("id"), col("dropped"), explode(col("posted")).as("p"))
      .select(col("p.dim").as("dim"), col("id"),
        col("p.rem").as("rem"), col("p.wn").as("wn"), col("dropped"))


  /** Exact sparse-dot verify over candidate (id_a, id_b) pairs: one
    * native merge walk per pair over the dim-sorted vectors — the
    * per-candidate hot kernel, O(|a|+|b|) (see
    * [[graft.functions.SetSimilarity.sparseDotSorted]]).
    */
  private def dimTypeOf(pv: DataFrame): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    pv.schema("m").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("dim").dataType
  }

  private def verify(
      candidates: DataFrame,
      left: DataFrame,
      right: DataFrame,
      threshold: Double): DataFrame =
    verifyShaped(candidates, left,
      right.select(col("id").as("id_b"), col("m").as("mb")),
      dimTypeOf(left), threshold)

  /** [[verify]] against an already-shaped (id_b, mb) right side — the
    * seam that lets [[verifyAuto]]'s sequential shards share ONE
    * hash-partitioned checkpoint of the right vectors instead of
    * re-shuffling them per pass.
    */
  private def verifyShaped(
      candidates: DataFrame,
      left: DataFrame,
      rightShaped: DataFrame,
      dimType: org.apache.spark.sql.types.DataType,
      threshold: Double): DataFrame = {
    // shuffle_hash on the vector side: a sort-merge attach would SORT
    // the candidate stream again after each join — and after the first
    // join every row carries a full dim-sorted vector, so that second
    // sort moves candidates × vector-size bytes (at the 100× audit it
    // spilled 19 GB; hash-building the per-partition vector slice
    // moves only the vectors). Same pattern as minHashScreen's verify.
    candidates
      .join(left.select(col("id").as("id_a"), col("m").as("ma"))
        .hint("shuffle_hash"), "id_a")
      .join(rightShaped.hint("shuffle_hash"), "id_b")
      .withColumn("sim",
        graft.functions.SetSimilarity.sparseDotSorted(
          col("ma"), col("mb"), dimType))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Pairs-per-pass bound above which [[verifyAuto]] splits the verify
    * into sequential shards. The verify attaches BOTH dim-sorted
    * vectors (~KB each) to every candidate pair, so one pass's scratch
    * is candidates × ~2·vector-size bytes — at the 1000× audit the q63
    * stream (~260M pairs) outgrows one box in a single pass even
    * though each shard alone is comfortable. Per call, [[cosinePairs]]'
    * `verifyShardPairs` sets it.
    */
  val VerifyPairsPerShard: Long = 32L * 1000 * 1000

  /** Per-dim-entry scratch bytes the verify's vector attach pays, by
    * key width: 8 for the numeric dims (int feature ids, long hashed
    * grams — the calibration width), 32 for string dims (raw term
    * vocabulary; a 32-char UTF8String key measured ~3× total verify
    * bytes per pair at 100×, `tools/check_sf10_r12.txt`, dominated by
    * exactly this term). A future dim type slots in by declaring its
    * width here — the budget arithmetic below is width-agnostic.
    */
  private[graft] def dimKeyBytes(
      dimType: org.apache.spark.sql.types.DataType): Long =
    dimType match {
      case org.apache.spark.sql.types.StringType => 32L
      case _ => 8L
    }

  /** [[VerifyPairsPerShard]] is calibrated in PAIRS at 8-byte dims; the
    * bound it really enforces is BYTES of vector-attach scratch per
    * pass. Convert the pair bound to its byte budget (pairs × the
    * 8-byte calibration width) and divide by the ACTUAL key width — so
    * a string key lands at ÷4 of the numeric bound (the configuration
    * that died by disk in r12 under defaults shards automatically;
    * `tools/check_sf10_r13.txt`), and any future dim width scales by
    * ITS declared bytes instead of growing another case arm. A
    * per-call `verifyShardPairs` is scaled too, because it is still a
    * byte budget expressed in 8-byte-dim pairs.
    */
  private[graft] def widthScaledShardPairs(
      pairs: Long, dimType: org.apache.spark.sql.types.DataType): Long =
    // BigInt: a Long.MaxValue-ish parameter must saturate, not wrap
    math.max(1L,
      (BigInt(pairs) * 8 / dimKeyBytes(dimType))
        .min(BigInt(Long.MaxValue)).toLong)

  /** [[verify]], sharded when the candidate stream is big enough to
    * out-spill a single pass: below [[VerifyPairsPerShard]] predicted
    * posting meetings this is exactly the lazy one-pass verify (the
    * every-catalog-query path — no extra materialization); above it
    * the (narrow, id-only) candidates stage once and the verify runs
    * as k SEQUENTIAL passes sharded by hash(id_a), each eagerly
    * checkpointed (output-sized — verified pairs only) so the
    * ContextCleaner reaps pass s's shuffle files before pass s+1
    * writes: peak verify scratch drops from total to ~total/k, the
    * within-one-stage form of the max-over-phases periodic-GC win.
    * The left (id_a) vector side pre-filters to the shard's ids; the
    * right side hash-partitions on id_b ONCE into an eager local
    * checkpoint (LogicalRDD preserves outputPartitioning, so every
    * pass's shuffle-hash join reads it exchange-free) — 1×|corpus|
    * vector rows moved + k cached reads, where round 11 re-shuffled
    * k·|corpus| rows cumulatively. Both staging handles release as
    * soon as the last pass's output materializes. Union of shards ==
    * the unsharded pair set (hash-partition of a distinct id_a key
    * space).
    */
  private def verifyAuto(
      candidates: DataFrame,
      predicted: Long,
      left: DataFrame,
      right: DataFrame,
      threshold: Double,
      pairsPerShard: Long = VerifyPairsPerShard): DataFrame = {
    val shardPairs = widthScaledShardPairs(pairsPerShard, dimTypeOf(left))
    if (predicted <= shardPairs) verify(candidates, left, right, threshold)
    else {
      val staged = candidates.localCheckpoint()
      val n = staged.count()
      val k = math.ceil(n.toDouble / shardPairs).toInt
      if (k <= 1) {
        // mirror the sharded branch's lifecycle: materialize the
        // (output-sized) verify result eagerly, then free the staged
        // candidates — lazily they'd pin MEMORY_AND_DISK blocks until
        // driver GC + ContextCleaner, the starvation pattern
        // unpersistLocalCheckpoint exists to prevent
        val out = graft.core.StagingScope.stage(
          verify(staged, left, right, threshold), eager = true)
        org.apache.spark.sql.classic.GraftColumnBridge
          .unpersistLocalCheckpoint(staged)
        out
      } else {
        val nPart = right.sparkSession.sessionState.conf.numShufflePartitions
        // the checkpoint IS hash-partitioned (explicit-n repartition,
        // partition-preserving snapshot) but AQE loses the metadata —
        // re-declare it so every pass's join reads the blocks in place
        // (ApssSpec pins the exchange-free plan)
        val rightCkpt = right
          .select(col("id").as("id_b"), col("m").as("mb"))
          .repartition(nPart, col("id_b"))
          .localCheckpoint()
        val rightShaped = org.apache.spark.sql.classic.GraftColumnBridge
          .declareHashPartitioned(rightCkpt, nPart, "id_b")
        val dimType = dimTypeOf(left)
        val parts = (0 until k).map { shard =>
          val cond = pmod(xxhash64(col("id_a")), lit(k)) === shard
          graft.core.StagingScope.stage(verifyShaped(
            staged.where(cond),
            left.where(pmod(xxhash64(col("id")), lit(k)) === shard),
            rightShaped, dimType, threshold), eager = true)
        }
        // every pass's output is materialized — the shared right-side
        // checkpoint and the candidate staging are dead weight now
        org.apache.spark.sql.classic.GraftColumnBridge
          .unpersistLocalCheckpoint(rightCkpt)
        org.apache.spark.sql.classic.GraftColumnBridge
          .unpersistLocalCheckpoint(staged)
        parts.reduce(_ union _)
      }
    }
  }

  /** Predicted posting-meeting volume above which [[pairsAuto]] shards
    * CANDIDATE GENERATION itself into sequential passes. [[verifyAuto]]
    * bounds the fat vector-attach stage, but the candidate join's own
    * sort-aggregate (every posting meeting, ~80 B/row, grouped to pair
    * bounds) is what fills the disk first when the meeting stream is
    * 10× bigger than the verify survivors — the 1000× audit's q63
    * died exactly there (~0.8 B meetings spilling against the staged
    * corpus index). Per call, [[cosinePairs]]' `candShardMeetings`
    * sets it.
    */
  val CandMeetingsPerShard: Long = 128L * 1000 * 1000

  /** Posting rows PER PASS (both grid sides together): k is sized so
    * each pass's dim-shuffle moves at most this many posting rows —
    * the bound is on the pass's actual shuffle slice (~2·postings/k
    * rows ≈ 8 GB of shuffle files at the default), not on a per-side
    * proxy, because the 1000× audit showed the per-pass posting
    * shuffle plus ONE pass of reaping lag is exactly what must fit in
    * one box's scratch (a k=3 grid at ~16 GB/pass died on its last
    * passes; a build-side-only split is worse still — it re-shuffles
    * the FULL probe postings every pass).
    */
  val PostingRowsPerShard: Long = 256L * 1000 * 1000

  /** Byte bound for broadcasting the candidate join's (dim, g)
    * salt-group table ([[pairsAuto]]'s fused `meetDims`): within it the
    * posting attach is a broadcast hash join (postings never shuffle
    * for the attach), beyond it a keyed join (the old plan's shape at
    * vocabulary scale). 64 MiB ≈ 8M numeric dims — well inside guide
    * §3.1's "a few hundred MB is usually fine" and far past any gate
    * corpus; sized from the EXACT dim count the guard job measures,
    * not an estimate.
    */
  val MeetDimsBroadcastBytes: Long = 64L << 20

  /** Byte bound for broadcasting the candidate join's SALTED BUILD
    * SIDE in the one-pass path, sized from the guard job's exact
    * Σ df·ceil(df/dimCap) (never an estimate): within it the probe
    * posting stream joins broadcast-side — no exchange, no sort — the
    * plan the pre-r17 planner happened to pick from (luckily small)
    * size estimates at gate scales; beyond it the join is hinted
    * shuffle-hash so the (dim, salt) exchange never re-SORTS either
    * posting stream. ~128 MiB ≈ 2M numeric-dim posting rows at
    * [[broadcastCandBuild]]'s row width — guide §3.1's comfortable zone,
    * far under the 8 GiB broadcast cap.
    */
  val CandBroadcastBytes: Long = 128L << 20

  /** The [[CandBroadcastBytes]] decision for a salted build side of
    * `saltedBuildRows` rows keyed by `dimType` dims, at conservative
    * bytes per row: the dim key ([[dimKeyBytes]], as the
    * [[MeetDimsBroadcastBytes]] decision counts it) + salt (4) + id (8)
    * + rem/wn/dropped (24) + row overhead — 64 for numeric dims.
    */
  private[graft] def broadcastCandBuild(
      saltedBuildRows: Double,
      dimType: org.apache.spark.sql.types.DataType): Boolean =
    saltedBuildRows * (dimKeyBytes(dimType) + 56L) <= CandBroadcastBytes

  /** Grid-side cap: ~k²/2 sequential passes is the price of bounded
    * scratch, and past this k the pass count stops being a sensible
    * single-box trade — a corpus that still out-spills at the cap
    * belongs on a cluster (or behind the guard's refusal), not in
    * more passes.
    */
  val MaxGridK: Int = 16

  /** Candidate generation + verify with BOTH stages scratch-bounded.
    * Computes the predicted posting-meeting volume once, runs the
    * pre-flight guard once, then:
    *
    *  - predicted ≤ `meetingsPerShard`: the one-pass plan every
    *    catalog query takes — [[candidatesOf]] into [[verifyAuto]],
    *    byte-identical to the unsharded form;
    *  - above it: a GRID of sequential passes, BOTH posting sides
    *    sharded by `pmod(xxhash64(id), k)`. A pair's meetings need
    *    both vectors to post the dim, and each shard keeps EVERY
    *    posting of a vector it owns, so pair (a, b) meets on ALL its
    *    shared dims in exactly the pass joining shard(a) against
    *    shard(b) — the Bayardo residual and shared-dot prunes see the
    *    complete meeting set per pair and stay EXACT; the union of
    *    passes equals the one-pass pair set.
    *
    *    Self-join (`ordered`): the grid is TRIANGULAR — k(k+1)/2
    *    passes over unordered shard cells {i, j}, i ≤ j. A diagonal
    *    pass (i, i) runs the ordered form (`id_a < id_b` dedups
    *    within the shard); an off-diagonal pass (i < j) runs ONE
    *    cross-mode join of shard i against shard j — each cross-shard
    *    pair meets in exactly that one cell, in one orientation — and
    *    canonicalizes ids afterwards (`least/greatest`; cosine is
    *    symmetric, so the verified sim is orientation-free). Half the
    *    passes of the naive k×k enumeration for the same per-pass
    *    peak. Cross-set mode keeps the full k×k grid (every (probe i,
    *    build j) cell is a distinct pair population).
    *
    *    Both sides must shard: a build-only split still re-shuffles
    *    the FULL probe postings every pass — at the 1000× audit that
    *    single ~10⁹-row write filled the disk before any meeting
    *    aggregate spilled. k is sized so one pass fits the scratch
    *    budget on BOTH axes: posting rows (2·max-side-rows/k ≤
    *    [[PostingRowsPerShard]]) and meetings (pass meetings ≤
    *    `meetingsPerShard`, with the ordered off-diagonal cell
    *    carrying 2·predicted/k²), capped at [[MaxGridK]]. Each pass's
    *    verify output eagerly checkpoints (result-sized) and the
    *    driver GC is nudged, so the ContextCleaner reaps pass s's
    *    shuffle files before pass s+1 finishes writing: peak scratch
    *    is ~two passes, not the sum. Cumulative cost is ~k·|postings|
    *    rows re-shuffled (sequential and reaped — the small peak is
    *    the trade); the verify sides pre-filter to the pass's
    *    vectors, and [[verifyAuto]] still sub-shards a pass whose
    *    surviving pairs outgrow one attach.
    */
  private def pairsAuto(
      probeSide: DataFrame,
      buildSide: DataFrame,
      left: DataFrame,
      right: DataFrame,
      ordered: Boolean,
      dimCap: Int,
      threshold: Double,
      nVecs: => Long,
      maxCandidates: Long,
      meetingsPerShard: Long = CandMeetingsPerShard,
      verifyShardPairs: Long = VerifyPairsPerShard): DataFrame = {
    // PRE-FLIGHT GUARD: the posting lists carry per-dim frequencies;
    // predict the posting join's row volume (self: Σ df·(df−1)/2,
    // cross: Σ df_probe·df_build — salting redistributes but does not
    // change it) and refuse a high-df-regime launch up front (cap
    // auto-scales with the probe-side vector count). See
    // [[SimilarityGuard]].
    // ONE df aggregation serves both the guard's volume prediction and
    // the candidate join's salt-group table (previously two independent
    // full-posting-set shuffles computing the same groupBy), and it
    // PRUNES postings that cannot produce a meeting before the candidate
    // exchange (guide §2.3/§3.2 — shuffle fewer bytes into the join):
    // a self-join dim posted by exactly one vector only ever meets
    // itself (dropped by id_a < id_b), and a cross-join dim missing
    // from either side never meets at all — both exact, no qualifying
    // pair can lose a meeting. Vocabulary-sized (≤ distinct posted
    // dims), staged once, released at the query boundary.
    val dimDf = graft.core.StagingScope.stage(
      if (ordered) buildSide.groupBy("dim").agg(count(lit(1)).as("df"))
      else buildSide.groupBy("dim").agg(count(lit(1)).as("df"))
        .join(probeSide.groupBy("dim").agg(count(lit(1)).as("dfp")),
          Seq("dim")))
    // ... the volume, the dim count, AND the salted build-side row
    // count (Σ df·ceil(df/dimCap) over meeting-capable dims — exactly
    // the rows the candidate join's build side will hold after the
    // meetDims prune and the salt fan-out) all come out of the one
    // head() that materializes the staged table (no second driver job)
    val meetCapable =
      if (ordered) col("df") >= 2 else lit(true)
    val volRow = dimDf.agg(
      coalesce(sum(
        if (ordered) expr("CAST(df AS DOUBLE) * (df - 1) / 2")
        else col("df").cast("double") * col("dfp")), lit(0.0)),
      count(lit(1)),
      coalesce(sum(when(meetCapable,
        col("df").cast("double") * SkewJoin.saltCount(col("df"), dimCap)))
        , lit(0.0))).head()
    val predicted = SimilarityGuard.volumeOf(volRow, 0)
    val nDims = volRow.getLong(1)
    val saltedBuildRows = SimilarityGuard.volumeOf(volRow, 2)
    val meetDims0 = dimDf
      .where(if (ordered) col("df") >= 2 else lit(true))
      .select(col("dim"), SkewJoin.saltGroup(col("df"), dimCap))
    // a checkpoint root carries no size statistics, so without the hint
    // the planner sort-merges the posting⋈groups attach — a full
    // posting exchange by dim where the pre-fusion plan's AQE broadcast
    // the (post-exchange, measured-small) groups aggregate. The dim
    // count is exact (just measured), so the hint is safe: broadcast
    // within [[MeetDimsBroadcastBytes]], keyed join beyond it (the
    // 10⁹-key vocabulary regime, where the old plan sort-merged too).
    val meetDims =
      if (nDims * (dimKeyBytes(probeSide.schema("dim").dataType) + 16L)
          <= MeetDimsBroadcastBytes) broadcast(meetDims0)
      else meetDims0
    SimilarityGuard.check(
      predicted,
      SimilarityGuard.resolveCap(maxCandidates, nVecs),
      "Apss.candidatesOf",
      "Sparsify harder (Apss.sparsifyTopM with smaller m), raise the " +
        "threshold, or re-route to an LSH/IVF screen (Similarity/Dedup)")
    if (predicted <= meetingsPerShard)
      verifyAuto(
        candidatesOf(probeSide, buildSide, ordered, dimCap, threshold,
          predicted, Some(meetDims),
          broadcastBuild = broadcastCandBuild(
            saltedBuildRows, buildSide.schema("dim").dataType)),
        predicted, left, right, threshold, verifyShardPairs)
    else {
      // the guard df aggregate just shuffled the full posting set; reap
      // its files (and anything upstream the caller released) before
      // the grid starts writing its own — at the 1000× audit the
      // un-nudged overlap of consecutive full-posting phases was tens
      // of GB of dead shuffle files the 60 s periodicGC hadn't reached
      System.gc()
      // cheap scans (the posting frames sit on checkpointed indexes):
      // the grid must bound BOTH the per-pass posting shuffle and the
      // per-pass meeting aggregate. The ordered off-diagonal cell sees
      // 2·predicted/k² meetings (two shard assignments per unordered
      // pair), hence the factor in the meetings sizing.
      val pRows = probeSide.count()
      val bRows = if (probeSide eq buildSide) pRows else buildSide.count()
      val meetFactor = if (ordered) 2.0 else 1.0
      val k = math.min(MaxGridK.toLong, math.max(2L, math.max(
        math.ceil(
          math.sqrt(meetFactor * predicted / meetingsPerShard)).toLong,
        math.ceil(2.0 * math.max(pRows, bRows)
          / PostingRowsPerShard).toLong)))
        .toInt
      val cells: Seq[(Int, Int)] =
        if (ordered) for (i <- 0 until k; j <- i until k) yield (i, j)
        else for (j <- 0 until k; i <- 0 until k) yield (i, j)
      val parts = cells.map { case (i, j) =>
        val diag = i == j
        val probeShard = pmod(xxhash64(col("id")), lit(k)) === i
        val buildShard = pmod(xxhash64(col("id")), lit(k)) === j
        val perPass = math.max(1L,
          (if (ordered && !diag) (meetFactor * predicted).toLong
           else predicted) / (k.toLong * k))
        val raw = verifyAuto(
          candidatesOf(probeSide.where(probeShard),
            buildSide.where(buildShard), ordered = ordered && diag,
            dimCap, threshold, perPass),
          perPass, left.where(probeShard), right.where(buildShard),
          threshold, verifyShardPairs)
        // off-diagonal self-join cells ran cross-mode (one orientation
        // per pair); restore the id_a < id_b output contract — sim is
        // symmetric, so only the id columns swap
        val oriented =
          if (ordered && !diag)
            raw.select(
              least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"),
              col("sim"))
          else raw
        val out = graft.core.StagingScope.stage(oriented, eager = true)
        // the pass's shuffle dependencies are unreachable once its
        // output is checkpointed; a driver GC queues their cleanup so
        // the files are reaped before the next pass writes (otherwise
        // the 60s periodicGC lags a fast pass and peak scratch creeps
        // toward two passes)
        System.gc()
        out
      }
      parts.reduce(_ union _)
    }
  }

  /** The closed-corpus per-vector index, STAGED (a lazy
    * localCheckpoint through [[graft.core.StagingScope.stage]]: blocks
    * free at the query-boundary drain, no files written), plus its row
    * count.
    *
    * A method, not an inline block: JVM frames may keep block-local
    * slots alive to method end, and the inner staging released below
    * must be unreachable on return.
    */
  private def perVecStaged(
      vecs: DataFrame,
      idCol: String,
      termsCol: String,
      half: Double,
      maxBroadcastDims: Int): (DataFrame, Long) = {
    val (pv, innerStaged) =
      perVecClosedOf(vecs, idCol, termsCol, half, maxBroadcastDims)
    val staged = graft.core.StagingScope.stage(pv)
    // the count materializes the checkpoint; the keyed path's inner
    // staging is dead lineage from here — release its corpus-sized
    // pinned blocks now rather than waiting for driver GC (repeated
    // cosinePairs calls in one session would otherwise accumulate
    // non-evictable blocks)
    val nV = staged.count()
    innerStaged.foreach { st =>
      org.apache.spark.sql.classic.GraftColumnBridge
        .unpersistLocalCheckpoint(st)
      // the build lineage behind the released staging holds the run's
      // biggest shuffle files (several full-corpus exchanges); queue
      // their cleanup now — the downstream phases each need that disk
      // back before the 60 s periodicGC would reach it
      System.gc()
    }
    (staged, nV)
  }

  /** Exact cosine ≥ `threshold` pairs over a sparse vector column
    * `termsCol: array<struct<dim: int, w: double-castable>>` (dims
    * unique per row; vectors need not be pre-normalized). Returns
    * (id_a, id_b, sim) with id_a < id_b, sim rounded to 4 decimals.
    *
    * One-shot declarative form. The per-vector index feeds FIVE plan
    * consumers (both posting sides, the per-dim salt stats, both
    * verify sides), so it is materialized once via a lazy
    * localCheckpoint — without it the scan + normalize + greedy-decide
    * lineage replays per consumer, which at catalog scale is ~2.5× the
    * query's whole runtime in redundant stages. Storage is
    * corpus-proportional; blocks free at the query-boundary drain.
    *
    * `maxBroadcastDims` bounds the vocabulary size above which the
    * per-dim bounds attach by keyed join instead of one broadcast map
    * row (which at TF-IDF shingle cardinality would be a multi-GB
    * single row) — see [[perVecClosedOf]].
    */
  def cosinePairs(
      vecs: DataFrame,
      idCol: String,
      termsCol: String,
      threshold: Double,
      maxBroadcastDims: Int = DefaultMaxBroadcastDims,
      maxCandidates: Long = SimilarityGuard.Auto,
      verifyShardPairs: Long = VerifyPairsPerShard,
      candShardMeetings: Long = CandMeetingsPerShard): DataFrame = {
    require(threshold > 0.0, "prefix filtering needs a positive threshold")
    val (perVec, nV) = perVecStaged(
      vecs, idCol, termsCol, threshold / 2, maxBroadcastDims)
    val posted = postingsOf(perVec)
    pairsAuto(posted, posted, perVec, perVec, ordered = true,
      dimCap = 4096, threshold, nV, maxCandidates,
      meetingsPerShard = candShardMeetings,
      verifyShardPairs = verifyShardPairs)
  }

  /** One-shot exact cross-set probe: every (query_id, corpus_id, sim)
    * with cosine ≥ threshold, both sides indexed on the fly under the
    * open-world unit bound (which is what keeps each side's drops sound
    * against vectors the other side never saw — the [[cosinePairs]]
    * closed-corpus bounds would be unsound across sets). Identical ids
    * pair like any other rows (filter `query_id =!= corpus_id` if the
    * sets overlap).
    */
  def probePairs(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      termsCol: String,
      threshold: Double,
      maxCandidates: Long = SimilarityGuard.Auto): DataFrame = {
    require(threshold > 0.0, "prefix filtering needs a positive threshold")
    val c = graft.core.StagingScope.stage(
      perVecOf(corpus, idCol, termsCol, threshold / 2, mw = None))
    val q = graft.core.StagingScope.stage(
      perVecOf(queries, idCol, termsCol, threshold / 2, mw = None))
    pairsAuto(postingsOf(q), postingsOf(c), q, c, ordered = false,
      dimCap = 4096, threshold, q.count(), maxCandidates)
      .withColumnRenamed("id_a", "query_id")
      .withColumnRenamed("id_b", "corpus_id")
  }

  /** Deterministic top-`m`-by-magnitude sparsification of a dense
    * `array<float/double>` column into the sparse `(dim, w)` form
    * [[cosinePairs]] consumes — dims are 1-based, ties break on the
    * lower dim. The standard cheap sparsifier for embedding near-dup
    * at corpus scale (per-row, no shuffle).
    */
  def sparsifyTopM(vec: Column, m: Int): Column = {
    val indexed = zip_with(
      vec.cast("array<double>"),
      // sequence(1, 0) would count DOWN — empty arrays need the guard
      when(size(vec) > 0, sequence(lit(1), size(vec))).otherwise(array()),
      (w, i) => struct(
        (-abs(w)).as("negabs"), i.as("dim"), w.as("w")))
    transform(
      slice(array_sort(indexed), 1, m),
      t => struct(t.getField("dim").as("dim"), t.getField("w").as("w")))
  }
}
