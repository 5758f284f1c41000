package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`Array[Float]`). Two tiers:
  *
  *  - `cosineTopK`: exact brute force — broadcast the (small) query set
  *    against the full corpus, score with codegen'd higher-order
  *    functions (`zip_with` + `aggregate`), rank with a window. The
  *    corpus side streams: no shuffle of the big table at all (queries
  *    are broadcast; the window partitions by query id over the scored
  *    pairs, which is |corpus| x |queries| rows — fine when queries are
  *    bounded).
  *  - `lshCosineTopK`: the scale path — random-hyperplane LSH buckets
  *    both sides, candidates meet in an equi-join on (table, bucket),
  *    exact cosine re-ranks. Hyperplanes come from a fixed seed so runs
  *    are reproducible across executors and rounds.
  */
object Similarity {

  /** Cosine similarity of two double-array columns — the native fused
    * single-pass kernel ([[graft.functions.SetSimilarity.CosineSim]]);
    * the HOF formulation it replaced walked the arrays three times.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.SetSimilarity.cosineNative(a, b)

  /** The HOF formulation, kept as the reference implementation the
    * native kernel is tested against.
    */
  def cosineHof(a: Column, b: Column): Column = {
    // mismatched lengths: zip_with null-pads the shorter side, nulling
    // the dot product — coalesce to 0.0 so mismatches score 0 exactly
    // like the native kernel (parity is unit-tested)
    val dot = coalesce(
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x),
      lit(0.0))
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (s, x) => s + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (s, x) => s + x))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k: for every row of `queries`, the `k` nearest rows of
    * `corpus` by cosine (self-matches excluded), rank ties broken by
    * neighbor id. Returns (query_id, rank, neighbor_id, sim).
    *
    * The query side broadcasts — the serving contract (bounded query
    * batches) that makes brute force the right baseline at all. Unlike
    * [[IvfIndex.probe]], there is NO keyed fallback here: the join has
    * no equi-key (every query meets every corpus row by design), and a
    * corpus-sized query set is |corpus|² cosine evaluations whatever
    * the physical join — so past the [[LevelBroadcastBytesKey]] budget
    * the launch REFUSES with the measured payload and the scale
    * reroute (the IVF bulk path, whose probe keys on `cell` and
    * byte-budgets itself), completing the tier's discipline: every
    * similarity broadcast is byte-budgeted, flipping to a keyed plan
    * where one exists and refusing with a named reroute where none
    * does.
    */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    SimilarityGuard.broadcastBudgetCheck(
      q, "qv", levelBroadcastBytes(queries.sparkSession),
      site = "Similarity.cosineTopK",
      reroute = "Re-route bulk kNN (corpus-scale query sets) to " +
        "ivfIndexFor(corpus).probe — it keys candidates on cell and " +
        "switches its own query side to a shuffle-hash join past the " +
        "same budget")
    val scored = c
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
  }

  /** Hard-negative mining for contrastive retrieval training
    * (DPR/Contriever-style): for every query, the k most similar
    * corpus items EXCLUDING the query's own near-dup group — similar
    * enough to be informative negatives, provably not positives. The
    * group table (e.g. [[Components.components]] over
    * [[Dedup.embeddingNearDupExact]] pairs) may cover only grouped
    * ids: ungrouped rows fall back to their own id as a singleton
    * group, so self-exclusion still holds and nothing else is
    * excluded. Exclusion happens BEFORE the rank window, so the
    * output is the true top-k of the eligible set (a post-filter on
    * plain top-k would return fewer than k).
    *
    * Scale shape = [[cosineTopK]]: brute-force scoring with the
    * byte-budgeted broadcast query side (same refusal + IVF reroute
    * past the budget); the group attach is one keyed left join per
    * side, corpus-sized but narrow (id + group).
    */
  def cosineTopKExcluding(
      corpus: DataFrame,
      queries: DataFrame,
      groups: DataFrame,
      idCol: String,
      groupIdCol: String,
      groupCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val g = groups.select(col(groupIdCol).cast("long").as("__gid"),
      col(groupCol).cast("long").as("__grp"))
    def sided(df: DataFrame, id: String, vec: String, grp: String) =
      df.select(col(idCol).cast("long").as(id), asDouble(col(vecCol)).as(vec))
        .join(g.withColumnRenamed("__gid", id), Seq(id), "left")
        .withColumn(grp, coalesce(col("__grp"), col(id)))
        .drop("__grp")
    val c = sided(corpus, "neighbor_id", "cv", "ngrp")
    val q = sided(queries, "query_id", "qv", "qgrp")
    SimilarityGuard.broadcastBudgetCheck(
      q, "qv", levelBroadcastBytes(queries.sparkSession),
      site = "Similarity.cosineTopKExcluding",
      reroute = "Re-route bulk mining (corpus-scale query sets) to " +
        "ivfIndexFor(corpus).probe with a post-join group filter — " +
        "its bulk path keys on cell and byte-budgets itself")
    val scored = c
      .join(broadcast(q),
        col("neighbor_id") =!= col("query_id") &&
          col("ngrp") =!= col("qgrp"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** Sign-bit LSH hyperplanes of one table — every component derives
    * from an md5 a SQL oracle replays bit-for-bit:
    * component(t, p, i) = md5_60bit("t:p:i") / 2⁵⁹ − 1 ∈ [−1, 1).
    * The 15-hex-char prefix parses as a non-negative BIGINT on both
    * engines; long→double rounding and the power-of-two scale are
    * IEEE-identical, so DuckDB computes the very same doubles.
    * Uniform rather than Gaussian components — still a valid sign-LSH
    * family for cosine (symmetric about 0).
    */
  def hyperplanes(dim: Int, numPlanes: Int, table: Int): Seq[Array[Double]] =
    (0 until numPlanes).map { p =>
      Array.tabulate(dim) { i =>
        md5Hex60(s"$table:$p:$i").toDouble / 576460752303423488.0 - 1.0
      }
    }

  /** First 60 bits (15 hex chars) of the md5 of `s`, as a
    * non-negative long — matches DuckDB's
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`.
    */
  private def md5Hex60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(8).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Sign-bit bucket id: bit p set iff the vector is on the positive
    * side of hyperplane p. Vectors in the same bucket are likely within
    * a small angle — the standard SRP-LSH for cosine. Native fused
    * kernel ([[graft.functions.VectorQuant.srpBucket]]): one codegen'd
    * pass over all planes instead of planes-many interpreted HOF dots.
    */
  def srpBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    graft.functions.VectorQuant.srpBucket(vec, planes.toArray)

  /** The HOF formulation, kept as the reference implementation the
    * native bucket kernel is parity-tested against in SimilaritySpec.
    */
  private[graft] def srpBucketHof(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex
      .map { case (p, i) =>
        val planeLit = array(p.toIndexedSeq.map(lit(_)): _*)
        val dot = aggregate(zip_with(vec, planeLit, (x, y) => x * y), lit(0.0), (s, x) => s + x)
        when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce(_ bitwiseOR _)

  /** Max cell count the quantizer carries as ONE literal centroid-array
    * expression. Past this, the centroid set stops being a plan literal
    * (codegen'd constant-pool/method-size limits aside, every row would
    * pay k·dim literal distance terms) and assignment goes HIERARCHICAL
    * — see [[IvfHierarchy]]. The hierarchy RECURSES (L =
    * ceil(log₂₅₆ k) routing levels), so no cell-count ceiling remains:
    * 65k fine cells route in two levels, 16.7M in three, and the
    * occupancy rule n/2048 is never the binding constant again. Nor is
    * the fine level's broadcast an envelope anymore: a level whose
    * centroid payload exceeds [[LevelBroadcastBytesKey]]'s budget
    * (default [[DefaultLevelBroadcastBytes]]) attaches by KEYED SHUFFLE
    * instead of broadcast ([[keyedLevelAttach]]) — a byte-budget trade
    * the engine now takes automatically rather than dying mid-job on a
    * Spark broadcast error past ~500k cells at dim 768.
    */
  val MaxLiteralCells: Int = 256

  /** Session conf key bounding EVERY broadcast the similarity tier
    * plans, in bytes — one discipline, two consumers:
    *
    *  - a hierarchical-attach routing level whose total centroid bytes
    *    ([[IvfHierarchy.levelBytes]]) stay within the budget broadcasts
    *    (one copy per executor, ReuseExchange-collapsed across probe
    *    slots — the fast path); past it the level attaches by keyed
    *    shuffle ([[keyedLevelAttach]]): same cells bit-for-bit, no
    *    multi-GB broadcast;
    *  - [[IvfIndex.probe]]'s exploded QUERY side broadcasts while its
    *    measured payload (query count × vector bytes × nProbe) fits the
    *    budget — the serving shape, hundreds of queries, corpus never
    *    shuffled; past it (bulk kNN: the corpus AS the query set, the
    *    exact mid-job broadcast crash shape the level budget already
    *    retired) the probe joins by keyed shuffle on `cell`, identical
    *    rows by construction.
    *
    * Default 2 GiB — inside Spark's broadcast limits with headroom for
    * the row overhead; settable per session (`spark.conf.set`) for
    * audits and constrained executors.
    */
  val LevelBroadcastBytesKey = "graft.similarity.levelBroadcastBytes"

  /** Default for [[LevelBroadcastBytesKey]]: 2 GiB. */
  val DefaultLevelBroadcastBytes: Long = 2L << 30

  private def levelBroadcastBytes(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(LevelBroadcastBytesKey).map(_.toLong)
      .getOrElse(DefaultLevelBroadcastBytes)

  /** Multi-level assignment for cell counts past [[MaxLiteralCells]]:
    * the fine centroids are grouped under a routing TREE with
    * L = ceil(log(k)/log([[MaxLiteralCells]])) levels and fanout
    * f = ceil(k^(1/L)) ≤ 256, fit driver-side on the k centroids
    * themselves ([[hierarchyOf]]). A row's cells are found by ranking
    * the ≤256 root centers as plan literals, then per level attaching
    * the probed groups' child ARRAYS by a broadcast keyed join and
    * arg-sorting them with the native codegen kernel — the last
    * level's children are the fine cells. No row inflation anywhere:
    * per-row cost is O((f + (L−1)·nCoarseProbe·f)·dim) ≈
    * O(L·k^(1/L)·dim) instead of O(k·dim), and no single expression
    * ever holds more than [[MaxLiteralCells]] centroids. For
    * k ≤ 65536 this degenerates to exactly the round-11 two-level
    * shape (root fanout ceil(√k), one attached level).
    *
    * `levels` holds the attached levels top→bottom, each a
    * (gid, subs: array<(cid, center)>) frame where cid is the NEXT
    * level's gid — or the fine cell id at the last level. A level
    * within the [[LevelBroadcastBytesKey]] byte budget attaches by
    * broadcast (identical frames re-broadcast once per probe slot
    * collapse under ReuseExchange); past the budget it attaches by
    * keyed shuffle ([[keyedLevelAttach]]) — the fine level's
    * k·dim·8-byte payload is a per-level routing decision now, not a
    * broadcast envelope. `levelCentroids(li)` is level li's total
    * centroid count and `dim` the shared dimension, recorded at build
    * time so the decision costs no job.
    *
    * Approximation note — MEASURED, not argued
    * (`tools/check_sf100_r13.txt`, at L=3 / k=70000 / 2M vectors vs
    * exact argmin over the same centroids): a vector's true nearest FINE centroid can sit in a
    * group some level's probe skipped (the IMI trade); `nCoarseProbe`
    * (default 4) bounds it per level. On an UNCLUSTERED corpus the
    * miss does NOT cancel for pair recall: argmin margins are tiny in
    * high dim without cluster structure, so per-row agreement with
    * exact assignment measured 0.18 and pair-set intersection recall
    * 0.07 — while pair YIELD (true verified pairs caught) stayed
    * 0.67–0.88 of exact assignment's, i.e. routing is a near-equal
    * lottery for dedup mass but not a reproduction of the exact-argmin
    * pair set. Seed coverage is not the driver (stride vs first-k
    * seeds within 0.005 of each other). Where the SemDeDup assumptions
    * DO hold, routing is measured nearly lossless: on a CLUSTERED
    * 500k-vector corpus (10000 tight blobs, k=2000 hierarchical,
    * threshold 0.8) pair recall vs exact assignment is 0.985 and 0.984
    * vs the analytically known within-blob pair set — blob members
    * share near-identical distance profiles and co-route even when
    * both miss the true argmin (per-row agreement only 0.53), which is
    * the boundary-cancel effect, true exactly on clustered data.
    * Unclustered/low-threshold workloads belong on the exact grid or
    * SRP-LSH paths ([[graft.ops.Dedup.embeddingNearDupExact]]/`Lsh`),
    * as the q84 catalog docs already steer; `nCoarseProbe` widens the
    * probe path where they must stay here (4→8 measured +73% pair
    * recall for ~2× routing flops). k ≤ [[MaxLiteralCells]] keeps the
    * exact single-level literal path.
    */
  final case class IvfHierarchy(
      coarse: Array[(Int, Array[Double])],
      levels: Seq[DataFrame],
      nCoarseProbe: Int,
      levelCentroids: Seq[Long],
      dim: Int) {
    /** The FINE level — every leaf group's fine-centroid array
      * (`levels.last` by construction; the two-level accessor specs
      * inspect).
      */
    def subs: DataFrame = levels.last

    /** Predicted broadcast payload of level `li`: total centroid count
      * × per-centroid bytes (dim doubles + struct/array-header
      * overhead) — what [[LevelBroadcastBytesKey]]'s budget gates.
      */
    def levelBytes(li: Int): Long = levelCentroids(li) * (dim.toLong * 8 + 32)
  }

  private[graft] final case class SubCentroid(cid: Int, c: Seq[Double])
  private[graft] final case class CoarseGroup(gid: Int, subs: Seq[SubCentroid])

  /** A built IVF-Flat index: the coarse quantizer (centroid id + L2
    * centroid per cell) and the cell-assigned corpus, persisted so any
    * number of probes reuse one build. At cluster scale `assigned`
    * would be a table partitioned by `cell` — the relational form of
    * the inverted lists. `hierarchy` is present iff the cell count
    * exceeds [[MaxLiteralCells]] (see [[IvfHierarchy]]).
    */
  final case class IvfIndex(
      centroids: Array[(Int, Array[Double])],
      assigned: DataFrame,
      hierarchy: Option[IvfHierarchy] = None) {

    /** Adds `cells` — the ids of `vecName`'s `nProbe` nearest cells,
      * ascending (distance², cid) — to `df`. Literal single-level path
      * for k ≤ [[MaxLiteralCells]]; coarse-literal + per-level keyed
      * sub-centroid attach past it (broadcast within the
      * [[LevelBroadcastBytesKey]] byte budget, keyed shuffle beyond —
      * same cells either way). `rowKey` must uniquely identify `df`'s
      * rows — the keyed path regroups exploded probes by it; every
      * production caller keys by its id column.
      */
    private[graft] def withCells(
        df: DataFrame, vecName: String, nProbe: Int,
        rowKey: Seq[String]): DataFrame = hierarchy match {
      case None =>
        // native codegen kernel — one primitive (k·dim) pass + bounded
        // insertion; semantics identical to the HOF reference
        // slice(sort_array(centroidDists))… (parity pinned in
        // SimilaritySpec — see [[graft.functions.VectorQuant]])
        df.withColumn("cells",
          graft.functions.VectorQuant.nearestCells(
            col(vecName), centroids, nProbe))
      case Some(h) =>
        // level-by-level routing: `_g` starts as the nCoarseProbe
        // nearest ROOT literals, then each attached level joins the
        // probed groups' child arrays (broadcast when the level fits
        // the byte budget — one left join per probe slot, ReuseExchange
        // collapses the repeats — else ONE keyed shuffle) and the
        // native kernel re-ranks; the last level emits the caller's
        // nProbe FINE cells, interior levels keep nCoarseProbe gids
        val subsType = "array<struct<cid:int,c:array<double>>>"
        val p = h.nCoarseProbe
        val budget = levelBroadcastBytes(df.sparkSession)
        val probed = df.withColumn("_g",
          graft.functions.VectorQuant.nearestCells(col(vecName), h.coarse, p))
        val routed = h.levels.zipWithIndex.foldLeft(probed) {
          case (cur, (lvl, li)) =>
            val outProbe = if (li == h.levels.length - 1) nProbe else p
            if (h.levelBytes(li) > budget)
              keyedLevelAttach(cur, lvl, vecName, rowKey, outProbe)
            else {
              val joined = (0 until p).foldLeft(cur) { (acc, i) =>
                acc.join(
                  broadcast(lvl.select(
                    col("gid").as(s"_gid$i"), col("subs").as(s"_subs$i"))),
                  try_element_at(col("_g"), lit(i + 1)) === col(s"_gid$i"),
                  "left")
              }
              val allSubs = concat((0 until p).map(i =>
                coalesce(col(s"_subs$i"), array().cast(subsType))): _*)
              joined
                .withColumn("_g",
                  graft.functions.VectorQuant.nearestSubCells(
                    col(vecName), allSubs, outProbe))
                .drop((0 until p).flatMap(i => Seq(s"_gid$i", s"_subs$i")): _*)
            }
        }
        routed.withColumn("cells", col("_g")).drop("_g")
    }

    /** Probe: each query ranks the centroids (sorting `nLists` structs
      * on the query side only), explodes into its `nProbe` cells, and
      * meets its cells' corpus rows in an equi-join on cell id (hash
      * join, never a cross product); exact cosine re-ranks. Cost per
      * query ≈ |corpus|·nProbe/nLists.
      *
      * The query side BROADCASTS only while its measured payload —
      * query count × (dim doubles + row overhead) × nProbe, priced by
      * one count job — fits the [[LevelBroadcastBytesKey]] byte budget:
      * the serving contract (query batches of hundreds) never shuffles
      * the corpus at all. Past the budget — bulk kNN, where a curation
      * pipeline hands the CORPUS as the query set and a broadcast would
      * die mid-job exactly like the pre-r13 fine-level attach — the
      * join flips to a keyed shuffle-hash on `cell`: same rows by
      * construction (one equi-join, either physical strategy), pinned
      * against the broadcast plan in SimilaritySpec and at 2M-query
      * scale in the r14 bulk-probe audit. Reference analog: the keyed
      * LUT probe `search/doc_merger.js:12-28`.
      *
      * Ranking stays a row_number window on BOTH paths — a negative
      * result, measured not guessed (r14 audit): ranking the bulk
      * path with the bounded [[graft.ops.TopK.TopKAggregator]] (k rows
      * per (query, partition) shuffled instead of the whole candidate
      * stream) produced bit-identical rows but ran 1.5× SLOWER at
      * 2M-query scale (364 s vs 240 s) — per-query group counts blow
      * past ObjectHashAggregate's 128-key in-memory fallback, so the
      * "sort-free" plan sort-aggregates anyway and adds typed-encoder
      * deserialization of every candidate row on top. The window sorts
      * once, codegen'd, no object churn.
      */
    def probe(
        queries: DataFrame,
        idCol: String,
        vecCol: String,
        k: Int,
        nProbe: Int = 4): DataFrame = {
      val q0 = queries.select(
        col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      val q = withCells(q0, "qv", nProbe, Seq("query_id"))
        .select(col("query_id"), col("qv"), explode(col("cells")).as("cell"))
      val dim = hierarchy.map(_.dim)
        .orElse(centroids.headOption.map(_._2.length)).getOrElse(0)
      val keyedPath =
        q0.count() * (dim.toLong * 8 + 64) * nProbe >
          levelBroadcastBytes(queries.sparkSession)
      val joined =
        if (keyedPath) assigned.join(q.hint("shuffle_hash"), Seq("cell"))
        else assigned.join(broadcast(q), Seq("cell"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      joined
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", cosine(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 4).as("sim"))
    }

    /** The corpus duplicated into each row's `nProbe` NEAREST cells
      * (nProbe=1 degenerates to [[assigned]]'s single-cell view): the
      * multi-probe candidate assignment [[graft.ops.Dedup
      * .semanticNearDup]] scopes pairs with — a near-dup pair sitting
      * ON a cell boundary co-occurs in one of the two nearest cells
      * far more often than in the single nearest. Recomputed from the
      * persisted assignment (one O(√k·dim) or O(nLists·dim) pass per
      * row, no extra shuffle); rows inflate nProbe-fold, so downstream
      * pair volume guards must run on THIS table, not on [[assigned]].
      */
    def multiAssigned(nProbe: Int): DataFrame =
      withCells(assigned, "cv", nProbe, Seq("neighbor_id"))
        .select(explode(col("cells")).as("cell"), col("neighbor_id"), col("cv"))

    def release(): Unit = { assigned.unpersist(); () }
  }

  /** The hierarchical attach for a level whose centroid payload exceeds
    * the [[LevelBroadcastBytesKey]] broadcast budget (the SemDeDup
    * 100-TB envelope — billions of vectors at n/2048 occupancy put the
    * FINE level's k·dim·8 bytes past any sane broadcast): EXPLODE the
    * row's probed gids, meet the level's (gid, subs) rows in a
    * hash-partitioned equi-join on gid, rank each probed group's
    * candidates locally with the distance-carrying kernel, then regroup
    * by the caller's row key and keep the global top `outProbe` by
    * (d², cid). Bit-identical to the broadcast path: per-group
    * top-outProbe retains every global top-outProbe member (each global
    * winner ranks ≤ outProbe within its own group), the merge sorts by
    * the same (d², cid) rule, and probed groups hold disjoint cid sets
    * — pinned against the broadcast path in SimilaritySpec, INCLUDING
    * the degenerate inputs: the level joins LEFT (a probed gid absent
    * from the level frame — a hole-punched level — contributes no
    * candidates rather than dropping the row, exactly as the broadcast
    * path's left join + coalesce-empty does), rows ride explode_outer
    * (a null vector's null probe list survives to a null cell set, the
    * broadcast path's verdict for it). Duplicate rowKey values remain
    * the caller's contract to prevent (the regroup would merge them via
    * first) — every production caller keys by its unique id. Cost shape:
    * the exploded (rowKey, vec, gid) stream shuffles once by gid and
    * once by rowKey for the regroup — narrow rows (the carried columns
    * ride as one struct), no per-executor level copy, no 4 GB broadcast
    * block. Reference analog: every LUT attach in the reference is a
    * keyed probe (`search/doc_merger.js:12-28`); this is the same move
    * at quantizer scale.
    */
  private def keyedLevelAttach(
      cur: DataFrame, lvl: DataFrame, vecName: String,
      rowKey: Seq[String], outProbe: Int): DataFrame = {
    val carry = cur.columns.toSeq
      .filterNot(c => rowKey.contains(c) || c == "_g" || c == vecName)
    val carrySel: Seq[Column] =
      if (carry.isEmpty) Nil else Seq(struct(carry.map(col): _*).as("_carry"))
    val exploded = cur.select(
      rowKey.map(col) ++ carrySel ++ Seq(
        col(vecName).as("_v"),
        explode_outer(col("_g")).as("_lgid")): _*)
    val subsType = "array<struct<cid:int,c:array<double>>>"
    val cands = exploded
      .join(
        lvl.select(col("gid").as("_lgid"), col("subs").as("_subs"))
          .hint("shuffle_hash"),
        Seq("_lgid"), "left")
      .select(
        rowKey.map(col) ++ carrySel.map(_ => col("_carry")) ++ Seq(
          col("_v"),
          graft.functions.VectorQuant.nearestSubCellsWithDist(
            col("_v"), coalesce(col("_subs"), array().cast(subsType)),
            outProbe).as("_cand")): _*)
    val aggs: Seq[Column] =
      (if (carry.isEmpty) Nil else Seq(first(col("_carry")).as("_carry"))) ++
        Seq(
          first(col("_v")).as("_v"),
          slice(array_sort(flatten(collect_list(col("_cand")))), 1, outProbe)
            .as("_top"))
    cands
      .groupBy(rowKey.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(
        rowKey.map(col) ++
          carry.map(c => col("_carry").getField(c).as(c)) ++ Seq(
            col("_v").as(vecName),
            // a null vector carries NULL probes through every level on
            // the broadcast path (the kernel is null-intolerant); emit
            // null, not empty, so the two paths agree on that verdict
            when(col("_v").isNotNull,
              transform(col("_top"), t => t.getField("cid"))).as("_g")): _*)
  }

  /** (distance², centroid id) structs for every cell — the broadcast
    * centroid literals evaluated against one vector column. Kept as
    * the HOF REFERENCE implementation the native assignment kernel
    * ([[graft.functions.VectorQuant.nearestCells]]) is parity-tested
    * against in SimilaritySpec; no production path evaluates it.
    */
  private[graft] def centroidDists(
      vec: Column, centroids: Array[(Int, Array[Double])]): Column =
    array(centroids.map { case (i, c) =>
      val cLit = array(c.map(lit(_)).toIndexedSeq: _*)
      struct(
        aggregate(zip_with(vec, cLit, (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, x) => s + x).as("d"),
        lit(i).as("cid"))
    }.toIndexedSeq: _*)

  /** Build the IVF index: fit the quantizer on a SAMPLE of the corpus
    * (a quantizer needs only the density shape — fitting on 100 TB
    * would be absurd), then assign every corpus row to its nearest
    * centroid — one O(nLists·dim) literal pass per row for
    * nLists ≤ [[MaxLiteralCells]], the hierarchical O(L·nLists^(1/L)·dim)
    * attach past it ([[IvfHierarchy]]). Past the literal cap the fit
    * sample is also capped at max(65536, nLists·64) rows (the fit is
    * O(rows·k·dim·iters) — unbounded it would dwarf the query) and
    * iterations drop to 5; costs one count job. The assigned corpus is
    * persisted: build once, probe many.
    */
  def ivfBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      sampleFraction: Double = 1.0,
      seed: Long = 42L,
      nCoarseProbe: Int = 4): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val hierarchical = nLists > MaxLiteralCells
    val base0 = if (sampleFraction < 1.0) corpus.sample(sampleFraction, seed) else corpus
    val base =
      if (!hierarchical) base0
      else {
        val n = math.max(1L, base0.count())
        val cap = math.max(65536L, nLists.toLong * 64L)
        if (n <= cap) base0 else base0.sample(cap.toDouble / n, seed)
      }
    val train = base.select(array_to_vector(asDouble(col(vecCol))).as("features"))
    val model = new KMeans().setK(nLists).setSeed(seed)
      .setMaxIter(if (hierarchical) 5 else 10).fit(train)
    val centroids: Array[(Int, Array[Double])] =
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }
    val hierarchy =
      if (!hierarchical) None
      else Some(hierarchyOf(corpus.sparkSession, centroids, nCoarseProbe))
    assignedIndex(corpus, idCol, vecCol, centroids, hierarchy)
  }

  /** Assign the corpus under a GIVEN quantizer (no fit): the
    * [[IvfIndex]] whose cells are argmin-L2 over `centroids` —
    * [[graft.ops.Dedup.semanticNearDup]]'s portable-quantizer twin
    * hands the oracle-replayable centroid set in through here.
    */
  def ivfFromCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Int, Array[Double])],
      nCoarseProbe: Int = 4): IvfIndex = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(centroids.forall(_._2.length == centroids.head._2.length),
      "centroids must share one dimension (ragged seed corpora fail " +
        "fast here rather than silently demote in the assignment kernel)")
    val hierarchy =
      if (centroids.length <= MaxLiteralCells) None
      else Some(hierarchyOf(corpus.sparkSession, centroids, nCoarseProbe))
    assignedIndex(corpus, idCol, vecCol, centroids, hierarchy)
  }

  private def assignedIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[(Int, Array[Double])],
      hierarchy: Option[IvfHierarchy]): IvfIndex = {
    val sel0 = corpus.select(
      col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    // The per-row argmin is COMPUTE-bound (O(k·dim) literal /
    // O(√k·dim) hierarchical flops per row), so the assignment stage
    // needs CPU-width parallelism, not the scan's split width: a
    // single coalesced parquet file splits into ~4 input partitions at
    // 128 MB maxPartitionBytes and would pin a 2M-row assignment to 4
    // cores (measured on the 1000× audit). One narrow (id, vector)
    // exchange is noise next to the pass it unblocks — and it also
    // balances the persisted assignment below.
    // toRdd, not .rdd: the partition-count probe must not compile a
    // second Row-deserializing physical plan just to read a number
    val target = corpus.sparkSession.sparkContext.defaultParallelism
    val sel =
      if (sel0.queryExecution.toRdd.getNumPartitions >= target) sel0
      else sel0.repartition(target)
    val assigned = IvfIndex(centroids, sel, hierarchy)
      .withCells(sel, "cv", 1, Seq("neighbor_id"))
      .select(element_at(col("cells"), 1).as("cell"),
        col("neighbor_id"), col("cv"))
      .persist()
    IvfIndex(centroids, assigned, hierarchy)
  }

  /** Point count past which one node's Lloyd fits its centers on a
    * deterministic stride SAMPLE instead of every member (the final
    * all-member assignment pass still runs, parallelized) — bounds the
    * per-node fit at O(cap·f·dim·iters) so a multi-million-cell fine
    * level doesn't turn the driver grouping quadratic. Below the cap
    * the fit is bit-identical to the round-11 full Lloyd.
    */
  private val FitSampleCap: Int = 65536

  /** Deterministic driver-side Lloyd of the points indexed by `ptIdx`
    * into ≤ `g0` groups: spread init (every (n/g)-th point), ≤15
    * assign/recompute rounds with early stop (on a stride sample past
    * [[FitSampleCap]]), then one FINAL assignment of every member to
    * the final centers (vectors route through these centers later, so
    * a point must sit in the group its final center owns) —
    * parallelized across points, per-point independent and
    * deterministic. Returns (center, member indexes) per group; empty
    * groups surface with empty member lists for the caller to drop.
    */
  private def lloydSplit(
      all: Array[Array[Double]],
      ptIdx: Array[Int],
      g0: Int): Array[(Array[Double], Array[Int])] = {
    val n = ptIdx.length
    val g = math.max(1, math.min(g0, n))
    val dim = all(ptIdx(0)).length
    val fit: Array[Int] =
      if (n <= FitSampleCap) ptIdx
      else Array.tabulate(FitSampleCap)(j =>
        ptIdx(((j.toLong * n) / FitSampleCap).toInt))
    val m = fit.length
    val centers = Array.tabulate(g)(j =>
      all(fit(((j.toLong * m) / g).toInt)).clone())
    def nearest(p: Array[Double]): Int = {
      var best = 0
      var bd = Double.MaxValue
      var j = 0
      while (j < g) {
        var d = 0.0
        var t = 0
        val c = centers(j)
        while (t < dim) { val x = p(t) - c(t); d += x * x; t += 1 }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      best
    }
    val assignFit = new Array[Int](m)
    var round = 0
    var changed = true
    while (round < 15 && changed) {
      changed = false
      var i = 0
      while (i < m) {
        val best = nearest(all(fit(i)))
        if (assignFit(i) != best) { assignFit(i) = best; changed = true }
        i += 1
      }
      val cnt = new Array[Int](g)
      val sums = Array.fill(g)(new Array[Double](dim))
      var i2 = 0
      while (i2 < m) {
        val gi = assignFit(i2)
        cnt(gi) += 1
        val p = all(fit(i2))
        var t = 0
        while (t < dim) { sums(gi)(t) += p(t); t += 1 }
        i2 += 1
      }
      var gi = 0
      while (gi < g) {
        if (cnt(gi) > 0) {
          var t = 0
          while (t < dim) { centers(gi)(t) = sums(gi)(t) / cnt(gi); t += 1 }
        }
        gi += 1
      }
      round += 1
    }
    val assign = new Array[Int](n)
    java.util.stream.IntStream.range(0, n).parallel()
      .forEach(i => assign(i) = nearest(all(ptIdx(i))))
    val buf = Array.fill(g)(new scala.collection.mutable.ArrayBuilder.ofInt)
    var i3 = 0
    while (i3 < n) { buf(assign(i3)) += ptIdx(i3); i3 += 1 }
    Array.tabulate(g)(j => (centers(j), buf(j).result()))
  }

  private final case class HNode(
      center: Array[Double], kids: Array[HNode], fine: Array[Int])

  /** Driver-side recursive grouping of the k fine centroids (k points —
    * trivial next to the distributed fit) into the uniform-depth
    * routing tree [[IvfHierarchy]] rides: L = ceil(log₂₅₆ k) levels,
    * fanout f = ceil(k^(1/L)) per split, [[lloydSplit]] at every node
    * (cost O(L·k·f·dim) total — the sample cap bounds each node's
    * iterative fit). For k ≤ 65536 this is exactly the round-11
    * two-level build: one split at fanout ceil(√k), full-point Lloyd.
    * Empty Lloyd groups are dropped (a probe slot spent on an empty
    * cell is a wasted slot). Level gids are assigned breadth-first, so
    * each level frame's gid space is dense and the next level keys
    * into it.
    */
  private[graft] def hierarchyOf(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[(Int, Array[Double])],
      nCoarseProbe: Int): IvfHierarchy = {
    val k = centroids.length
    val pts = centroids.map(_._2)
    val nLevels = math.max(2, math.ceil(
      math.log(k.toDouble) / math.log(MaxLiteralCells.toDouble) - 1e-9).toInt)
    val fanout = math.max(2, math.ceil(
      math.pow(k.toDouble, 1.0 / nLevels) - 1e-9).toInt)
    def build(ptIdx: Array[Int], splitsLeft: Int): Array[HNode] =
      lloydSplit(pts, ptIdx, fanout).flatMap { case (ctr, members) =>
        if (members.isEmpty) None
        else if (splitsLeft == 1) Some(HNode(ctr, Array.empty, members))
        else Some(HNode(ctr, build(members, splitsLeft - 1), Array.empty))
      }
    val roots = build(Array.tabulate(k)(identity), nLevels - 1)
    val coarse = roots.zipWithIndex.map { case (nd, g) => (g, nd.center) }
    val levelRows = scala.collection.mutable.ArrayBuffer.empty[Seq[CoarseGroup]]
    var frontier: Array[(Int, HNode)] =
      roots.zipWithIndex.map { case (nd, g) => (g, nd) }
    while (frontier.nonEmpty) {
      if (frontier.head._2.kids.isEmpty) {
        levelRows += frontier.toSeq.map { case (gid, nd) =>
          CoarseGroup(gid, nd.fine.toSeq.map(i =>
            SubCentroid(centroids(i)._1, centroids(i)._2.toSeq)))
        }
        frontier = Array.empty
      } else {
        val next = scala.collection.mutable.ArrayBuffer.empty[(Int, HNode)]
        levelRows += frontier.toSeq.map { case (gid, nd) =>
          CoarseGroup(gid, nd.kids.toSeq.map { c =>
            val g2 = next.length
            next += ((g2, c))
            SubCentroid(g2, c.center.toSeq)
          })
        }
        frontier = next.toArray
      }
    }
    val levelSeq = levelRows.toSeq
    IvfHierarchy(coarse, levelSeq.map(spark.createDataFrame(_)),
      math.min(nCoarseProbe, coarse.length),
      levelSeq.map(_.map(_.subs.length.toLong).sum),
      pts(0).length)
  }

  /** One-call IVF ANN for the catalog: builds (or reuses — indexes are
    * cached per (table-plan, id, vec, nLists) within the session) and
    * probes. The lifecycle API is [[ivfBuild]]/[[IvfIndex.probe]].
    *
    * The cache is LRU-bounded at [[IvfCacheCap]] entries; an evicted
    * index's persisted assignment is released immediately, so a
    * long-lived session probing many distinct corpora never accumulates
    * persisted DataFrames (a prior unbounded map leaked them).
    */
  def ivfCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L): DataFrame = {
    ivfIndexFor(corpus, idCol, vecCol, nLists, seed)
      .probe(queries, idCol, vecCol, k, nProbe)
  }

  /** Build-or-reuse the IVF index for `corpus` from the session-scoped
    * LRU cache (shared with [[ivfCosineTopK]]; release-on-evict) — so
    * every consumer of the quantizer (ANN probe, semantic dedup) pays
    * the k-means fit and the persisted assignment once per corpus.
    */
  def ivfIndexFor(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      seed: Long = 42L,
      nCoarseProbe: Int = 4): IvfIndex = {
    // nCoarseProbe is part of the key: two callers wanting different
    // routing widths over the same corpus must not share one hierarchy
    val key = (corpus.queryExecution.logical.semanticHash(), idCol, vecCol,
      nLists, seed, nCoarseProbe)
    ivfCache.synchronized {
      val hit = ivfCache.get(key)
      if (hit != null) hit
      else {
        val built = ivfBuild(corpus, idCol, vecCol, nLists, seed = seed,
          nCoarseProbe = nCoarseProbe)
        ivfCache.put(key, built)
        built
      }
    }
  }

  /** Build-or-reuse (same session cache as [[ivfIndexFor]]; the key's
    * nLists slot is negated to disambiguate) an index whose centroids
    * are the corpus's FIRST `k` vectors by ascending id — a quantizer
    * a SQL oracle can replay verbatim (argmin L2 over k named corpus
    * rows, ties to the lower centroid id), which is what puts
    * [[graft.ops.Dedup.semanticNearDup]]'s cell-scoping machinery
    * under the full driver gate (q84b). Fixed seed vectors are a
    * WEAKER quantizer than the fitted k-means (no occupancy balance) —
    * twin/audit use only. The k-row collect is bounded by construction.
    */
  def ivfSeededIndexFor(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nCoarseProbe: Int = 4): IvfIndex = {
    // nCoarseProbe rides the cache key like the fitted path's — two
    // callers wanting different routing widths over the same seeded
    // quantizer must not share one hierarchy
    val key = (corpus.queryExecution.logical.semanticHash(), idCol, vecCol,
      -k, 0L, nCoarseProbe)
    ivfCache.synchronized {
      val hit = ivfCache.get(key)
      if (hit != null) hit
      else {
        val seeds: Array[(Int, Array[Double])] = corpus
          .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
          .orderBy("id").limit(k).collect()
          .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
        val built = ivfFromCentroids(corpus, idCol, vecCol, seeds, nCoarseProbe)
        ivfCache.put(key, built)
        built
      }
    }
  }

  /** Max distinct IVF indexes the one-call wrapper keeps persisted. */
  val IvfCacheCap = 4

  private type IvfKey = (Int, String, String, Int, Long, Int)
  private val ivfCache =
    new java.util.LinkedHashMap[IvfKey, IvfIndex](16, 0.75f, true) {
      override def removeEldestEntry(
          eldest: java.util.Map.Entry[IvfKey, IvfIndex]): Boolean = {
        val evict = size() > IvfCacheCap
        if (evict) eldest.getValue.release()
        evict
      }
    }

  /** Visible for tests: number of live cached indexes. */
  private[graft] def ivfCacheSize: Int = ivfCache.synchronized(ivfCache.size())

  /** ANN top-k: `numTables` independent SRP bucketings; candidates are
    * corpus rows sharing any (table, bucket) with the query, re-ranked
    * by exact cosine. Shuffle cost is the (table, bucket) equi-join —
    * never the cross product — so recall/cost trades off via
    * (bitsPerTable, numTables) exactly like a production IVF/LSH index.
    */
  def lshCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      bitsPerTable: Int = 8,
      numTables: Int = 4): DataFrame = {
    val tables = (0 until numTables).map(t => t -> hyperplanes(dim, bitsPerTable, t))
    def withBuckets(df: DataFrame, id: String, vecOut: String): DataFrame = {
      val v = asDouble(col(vecCol))
      df.select(
        col(idCol).as(id),
        v.as(vecOut),
        explode(array(tables.map { case (t, planes) =>
          struct(lit(t).as("tbl"), srpBucket(v, planes).as("bucket"))
        }: _*)).as("tb"))
    }
    val c = withBuckets(corpus, "neighbor_id", "cv")
    val q = withBuckets(queries, "query_id", "qv")
    val cand = c
      .join(q, Seq("tb"))
      .where(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
  }
}
