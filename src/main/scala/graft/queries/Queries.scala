package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextAnalytics
import graft.ops.{Apss, Closure, Dedup, RangeJoin, Similarity, TreeAlgebra}

/** The engine's declared query catalog: one entry per implemented
  * operator family from SURVEY.md §2 plus the training-data-pipeline
  * operators (dedup / similarity / text analysis). Each query has an
  * equivalent DuckDB oracle in `oracles` unless its output depends on a
  * fitted quantizer or corpus-sized LSH bits (q42, q51, q84 — those get
  * rows-only checks).
  *
  * Numeric-parity rules used throughout (the driver hash-compares
  * values): aggregated doubles are `round(_, 2..4)`; counts/ranks are
  * cast to BIGINT on whichever side is narrower; timestamps are compared
  * as epoch-microsecond longs; every argmax/top-k has a deterministic
  * tie-break key.
  */
object Queries {
  private type Q = (SparkSession, String) => DataFrame

  // Shared constants
  private val TenMinUs = 600000000L // 10 minutes in microseconds

  /** Per-language marker vocabularies for the stopword-vote language ID
    * (top relative-frequency tokens per language in the corpus; the
    * heuristic core of n-gram LID, SQL-expressible for the oracle).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("order", "window", "table"),
    "de" -> Seq("customer", "hash", "big"),
    "es" -> Seq("agg", "slow", "merge"),
    "fr" -> Seq("query", "scan", "data"),
    "zh" -> Seq("join", "the", "fast"))

  // ---------------------------------------------------------------------
  // Relational core (SURVEY §2.2 filters, §2.4 aggregations)
  // ---------------------------------------------------------------------

  /** A4/A1: grouped aggregation with a pushed-down filter (pricing
    * summary a la TPC-H Q1). Reference analog: per-db xref grouping
    * `search/dump_genes.js:380-391` + SQL COUNT/SUM
    * `maps/load_maps_and_taxonomy.js:259-279`.
    */
  val q01PricingSummary: Q = (s, d) =>
    // money sums accumulate EXACT SCALED INTEGERS (prices are 2-decimal,
    // the discounted price 4-decimal): a double sum's value depends on
    // accumulation order and diverges across engines once groups are
    // large enough for the error to cross a rounding boundary (the 10x
    // scale audit caught q32 doing exactly that). The accumulator is
    // decimal(38,0), not long: Spark's non-ANSI sum(long) WRAPS
    // silently at 2^63, which a 100 TB-scale group of 4-decimal cents
    // could actually reach. quantities are whole numbers — their
    // double sum is already exact at any order.
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        (sum(round(col("l_extendedprice") * 100).cast("decimal(38,0)")) / 100.0)
          .as("sum_base_price"),
        (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("decimal(38,0)")) / 10000.0).as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** P4: conjunctive predicate filter + scalar aggregate (TPC-H Q6
    * shape). All predicates reach the parquet scan as PushedFilters.
    */
  val q02FilterPushdown: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(
        (sum(round(col("l_extendedprice") * col("l_discount") * 10000)
          .cast("decimal(38,0)")) / 10000.0).as("revenue"),
        count(lit(1)).as("n_rows"))

  /** J6/J18-pattern: fact table joined through two broadcast dims
    * (customer->nation->region), then grouped. nation/region are tiny —
    * explicitly broadcast, so the only shuffle is the orders-customer
    * join + final aggregation.
    */
  val q03RegionRevenue: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        (sum(round(col("o_totalprice") * 100).cast("decimal(38,0)")) / 100.0)
          .as("revenue"),
        count(lit(1)).as("n_orders"))

  /** J14/J20: left-semi join ("emit only if key in LUT",
    * `search/merge_into_mongo_docs.js:18-23`).
    */
  val q04SemiJoin: Q = (s, d) =>
    Tables.nation(s, d)
      .join(
        Tables.customer(s, d).filter(col("c_acctbal") > 9000),
        col("n_nationkey") === col("c_nationkey"),
        "left_semi")
      .select("n_nationkey", "n_name")

  /** Anti-join: customers that never ordered, tallied per nation. */
  val q05AntiJoin: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_idle_customers"))

  /** J13: self theta-join deduping unordered pairs with a `<` predicate
    * (`search/dump_homologs.js:45`).
    */
  val q06ThetaSelfJoin: Q = (s, d) => {
    val sup = Tables.supplier(s, d)
    val a = sup.select(col("s_nationkey").as("nationkey"), col("s_suppkey").as("k1"))
    val b = sup.select(col("s_nationkey").as("nationkey"), col("s_suppkey").as("k2"))
    a.join(b, Seq("nationkey"))
      .where(col("k1") < col("k2"))
      .groupBy("nationkey")
      .agg(count(lit(1)).as("n_pairs"))
  }

  // ---------------------------------------------------------------------
  // Window / ranking (SURVEY §2.5)
  // ---------------------------------------------------------------------

  /** W1/W4: row_number ranking per partition with deterministic order
    * (`search/dump_genes.js:176,189`).
    */
  val q07WindowTopk: Q = (s, d) => {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("c_acctbal").as("acctbal"))
  }

  /** W2/A11: argmax / first-match pick (canonical-transcript selection
    * `search/decorate.js:48-80`, first-non-dash description
    * `search/fix_sorghum_v2.js:68-76`) — earliest order per customer.
    */
  val q08FirstOrder: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(
        col("o_custkey"),
        col("o_orderkey").as("first_orderkey"),
        col("o_orderpriority").as("first_priority"))
  }

  /** lead/lag over event time: mean inter-event gap per user. Epoch
    * micros keep the arithmetic exact and engine-neutral.
    */
  val q09EventGaps: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .groupBy("user_id")
      .agg(
        count(col("gap")).as("n_gaps"),
        round(sum("gap") / lit(1000000.0) / count(col("gap")), 2).as("avg_gap_sec"))
  }

  /** Sessionization: a >30-minute silence starts a new session; sessions
    * counted per user. The session-id assignment (cumulative sum over
    * the new-session flag) is the batch equivalent of streaming session
    * windows (SURVEY §2.10).
    */
  val q10Sessionize: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .withColumn(
        "is_new",
        when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1).otherwise(0))
      .groupBy("user_id")
      .agg(
        sum("is_new").cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  // ---------------------------------------------------------------------
  // Interval joins (SURVEY §2.3 J11/J12)
  // ---------------------------------------------------------------------

  /** J11: keyed interval containment — purchases inside a 10-minute
    * window after an error by the same user (gene-in-QTL shape,
    * `search/qtl_adder.js:41-68`: equi keys (map, region) + range).
    */
  val q11IntervalJoinKeyed: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val windows = ev.filter(col("event_type") === "error").select(
      col("user_id"),
      unix_micros(col("ts")).as("w_start"),
      (unix_micros(col("ts")) + TenMinUs).as("w_end"))
    val points = ev.filter(col("event_type") === "purchase").select(
      col("user_id"),
      col("event_id"),
      unix_micros(col("ts")).as("p_ts"))
    RangeJoin
      .pointInIntervalKeyed(points, "p_ts", windows, "w_start", "w_end", Seq("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** J12: keyless interval containment via the binned range join —
    * distinct purchases falling in ANY error window corpus-wide
    * (synteny-block shape, `search/dump_homologs.js:206-243`). The bin
    * equi-key turns the would-be nested-loop into a hash join.
    */
  val q12IntervalJoinGlobal: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val windows = ev.filter(col("event_type") === "error").select(
      unix_micros(col("ts")).as("w_start"),
      (unix_micros(col("ts")) + TenMinUs).as("w_end"))
    val points = ev.filter(col("event_type") === "purchase").select(
      col("event_id"),
      unix_micros(col("ts")).as("p_ts"))
    RangeJoin
      .pointInInterval(points, "p_ts", windows, "w_start", "w_end", binWidth = TenMinUs)
      .select("event_id")
      .distinct()
  }

  // ---------------------------------------------------------------------
  // Hierarchies (SURVEY §2.8 T9/T10, §2.4 A8)
  // ---------------------------------------------------------------------

  private def partEdges(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") >= 1)
      .select(
        col("p_partkey").as("child"),
        floor(col("p_partkey") / 2).cast("long").as("parent"))

  /** The closure TABLE is materialized once and reused — that is the
    * point of the closure-table pattern (`SURVEY §2.4 A8`): queries
    * against ancestors (q13 counts, q14 rollups) read the materialized
    * table instead of re-running the fixpoint. Session-scoped memo.
    */
  private val closureCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def partClosure(s: SparkSession, d: String): DataFrame = {
    // Evict entries pinned to stopped sessions: their DataFrames are
    // unusable, and keeping them would leak both the map entry and the
    // checkpoint blocks (which died with the session's executors anyway).
    closureCache.keySet.removeIf { case (sess, _) => sess.sparkContext.isStopped }
    // the memo is the fixpoint's final checkpoint itself, fully
    // materialized and never registered: a query-boundary drain must
    // not free blocks that later queries of the session still read
    closureCache.computeIfAbsent((s, d), { case (s, d) =>
      Closure.closureTable(partEdges(s, d))
    })
  }

  /** T9/T10: transitive ancestor closure by distributed fixpoint with
    * path doubling (`ontologies/obo2json.pl:97-114`). Hierarchy derived
    * from part keys (parent = k/2), ~log2(N) deep.
    */
  val q13Closure: Q = (s, d) =>
    partClosure(s, d)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_ancestors"))

  /** A8: closure-table rollup — a measure summed over every node's
    * subtree (`trees/speciesTree.js:193-219`). Explode + groupBy, no
    * recursion at query time.
    */
  val q14SubtreeRollup: Q = (s, d) => {
    val closure = partClosure(s, d)
    // sum exact retail-price CENTS (see q01's engine-exactness note)
    val facts = Tables.part(s, d)
      .select(col("p_partkey").as("node"),
        round(col("p_retailprice") * 100).cast("decimal(38,0)").as("p_cents"))
    Closure
      .subtreeSum(closure, facts, "p_cents", "subtree_cents")
      .select(col("node"), (col("subtree_cents") / 100.0).as("subtree_value"))
  }

  /** A3/T1: group-and-collect with in-group ordering (flat rows ->
    * per-key ordered list, `trees/genetree.js:36-73`) — emitted as a
    * joined string so the comparison is representation-stable.
    */
  val q15CollectSorted: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_nationkey")
      .agg(
        concat_ws(",", sort_array(collect_list(col("c_custkey")))).as("custkeys"),
        count(lit(1)).as("n_customers"))

  /** §2.7 set ops: EXCEPT over distinct key sets (most-specific
    * annotation filter `search/ancestor_adder.js:66-68` at table grain).
    */
  val q16SetExcept: Q = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 9900)
      .select(col("c_nationkey").as("nationkey"))
      .distinct()
      .except(
        Tables.supplier(s, d)
          .filter(col("s_acctbal") > 9000)
          .select(col("s_nationkey").as("nationkey"))
          .distinct())

  // ---------------------------------------------------------------------
  // Training-data pipeline: dedup / text analysis / similarity
  // ---------------------------------------------------------------------

  /** Exact dedup by content hash (hash-groupBy). */
  val q17DedupExact: Q = (s, d) =>
    Dedup.exact(Tables.documents(s, d), "text", "doc_id")

  /** Token counting + per-doc token stats — pure codegen'd higher-order
    * functions, no UDFs.
    */
  val q18TokenStats: Q = (s, d) => {
    val t = col("text")
    // mean_token_len truncated to 2 decimals via scaled-integer division:
    // round() on a double tie (e.g. 189/40 = 4.725) is engine-dependent
    // (HALF_UP on shortest-repr vs float multiply-round), truncation is not.
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalytics.tokenCount(t).cast("long").as("n_tokens"),
      TextAnalytics.distinctTokenCount(t).cast("long").as("n_distinct_tokens"),
      (floor(
        TextAnalytics.charsNoSpace(t).cast("long") * lit(100L)
          / TextAnalytics.tokenCount(t)).cast("long") / lit(100.0))
        .as("mean_token_len"))
  }

  /** Heuristic document quality score (length saturation + lexical
    * diversity).
    */
  val q19QualityScore: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalytics.qualityScore(col("text")).as("quality"))

  /** Stopword-vote language ID + accuracy flag vs the labeled lang. */
  val q20LangId: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalytics.langId(col("text"), langMarkers).as("lang_pred"),
      (TextAnalytics.langId(col("text"), langMarkers) === col("lang"))
        .as("is_correct"))

  /** Brute-force cosine top-k neighbors for a bounded query set —
    * the exact baseline for ANN (queries broadcast; corpus streamed).
    */
  val q21KnnCosine: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity
      .cosineTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** n-gram Jaccard near-dup pairs, blocked by language (the exact
    * verifier MinHash approximates; threshold picks out the planted
    * near-duplicates).
    */
  val q22NgramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardPairs(
      Tables.documents(s, d), "text", "doc_id",
      blockCol = "lang", shingleN = 2, threshold = 0.5)

  /** Order-insensitive document fingerprint (md5 over sorted distinct
    * token set) — rolling-hash-style cheap near-dup stage.
    */
  val q23Fingerprint: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalytics.fingerprint(col("text")).as("fp"))

  /** A5: melt/pivot to wide — per-user conditional-aggregation pivot
    * over event types (`atlas/parseBaseline.js:27-41` shape).
    */
  val q24PivotEvents: Q = (s, d) => {
    val e = Tables.events(s, d)
    def cnt(t: String) = count(when(col("event_type") === t, 1)).as(s"n_$t")
    e.groupBy("user_id")
      .agg(
        cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"),
        (sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("decimal(38,0)"))) / 100.0)
          .as("purchase_value"))
  }

  /** §2.6: global sort + limit (deterministic export order,
    * `prep_urgi_tsv.js:17`) — planned as TakeOrderedAndProject, so no
    * full global sort materializes.
    */
  val q25TopPriced: Q = (s, d) =>
    Tables.lineitem(s, d)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .limit(100)

  /** T1-T6: typed tree algebra — part keys form a binary heap (parent =
    * k/2); nodes at depth >= 3 group into the 8 subtrees rooted at ids
    * 8..15, and each subtree folds in `mapGroups`: adjacency assembly,
    * iterative depth walk, representative argmax (score = retailprice,
    * ties to lowest id). The Spark restatement of
    * `trees/genetree.js:75-246`.
    */
  val q29TreeStats: Q = (s, d) => {
    import s.implicits._
    val nodes = Tables.part(s, d)
      .filter(col("p_partkey") >= 8)
      .select(
        TreeAlgebra.heapSubtreeRoot(col("p_partkey"), 3).as("treeId"),
        col("p_partkey").as("id"),
        when(col("p_partkey").between(8, 15), lit(-1L))
          .otherwise(floor(col("p_partkey") / 2).cast("long")).as("parent"),
        col("p_retailprice").as("score"))
      .as[TreeAlgebra.TreeNode]
    TreeAlgebra.treeStats(nodes).toDF()
  }

  /** T13/T14: interval sweep-merge (gaps-and-islands) — every event
    * opens a 10-minute window; overlapping windows per user merge into
    * maximal spans (`search/domain_architect.js:120-165`,
    * `trees/add_domains_to_tree.js:63-85`). Pure window functions: the
    * running-max-end pass is the distributed form of the reference's
    * sorted linear sweep.
    */
  val q30IntervalMerge: Q = (s, d) => {
    val byStart = Window.partitionBy("user_id").orderBy("w_start", "w_end")
    val running = byStart.rowsBetween(Window.unboundedPreceding, -1)
    val island = Window.partitionBy("user_id").orderBy("w_start", "w_end")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("w_start"),
        (unix_micros(col("ts")) + TenMinUs).as("w_end"))
      .withColumn("prev_max", max("w_end").over(running))
      .withColumn(
        "is_new",
        when(col("prev_max").isNull || col("w_start") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("is_new").over(island))
      .groupBy("user_id", "island")
      .agg(min("w_start").as("s0"), max("w_end").as("e0"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_spans"),
        (sum(col("e0") - col("s0")) / lit(1000000L)).cast("long").as("covered_sec"))
  }

  /** T17: uniform-width binning (genomic-bin arithmetic,
    * `search/bin_adder.js:13-58`): events into 1-hour buckets per type.
    * Integer `div` keeps the bucket id exact in both engines.
    */
  val q31HourBins: Q = (s, d) =>
    Tables.events(s, d)
      .select(
        expr("unix_micros(ts) div 3600000000").as("bucket"),
        col("event_type"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n_events"))

  /** SQL ROLLUP over region -> nation (grouping-set aggregation; beyond
    * the reference's closure-table rollup A8). Null grouping levels are
    * coalesced to a sentinel so row ordering stays engine-neutral.
    */
  val q32Rollup: Q = (s, d) => {
    // SQL path: the DataFrame rollup + post-coalesce trips Spark's
    // ambiguous-column detection (the Expand node re-emits the grouping
    // attributes); the SQL analyzer resolves GROUP BY ROLLUP cleanly.
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("rname"), col("n_name").as("nname"), col("o_totalprice"))
      .createOrReplaceTempView("q32_base")
    // revenue sums EXACT INTEGER CENTS (prices are 2-decimal): a double
    // sum's value depends on accumulation order, and at 10x group sizes
    // the engines' different orders crossed the 2-decimal rounding
    // boundary on ~3% of groups (10x scale audit). cents/100.0 is one
    // deterministic IEEE division — engine-exact at ANY scale.
    s.sql(
      """SELECT coalesce(rname, '(all)') AS r_name,
        |       coalesce(nname, '(all)') AS n_name,
        |       cast(sum(cast(round(o_totalprice * 100) AS decimal(38,0))) AS double)
        |         / 100.0 AS revenue,
        |       count(1) AS n_orders
        |FROM q32_base GROUP BY ROLLUP(rname, nname)""".stripMargin)
  }

  /** A5: dynamic-key pivot serialized canonically — per user, sorted
    * "event_type:count" entries (the MapType shape of
    * `atlas/parseBaseline.js:27-41`, flattened for engine-neutral
    * comparison).
    */
  val q33TypeCountMap: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), concat(col("event_type"), lit(":"), col("n")).as("entry"))
      .groupBy("user_id")
      .agg(concat_ws(",", sort_array(collect_list(col("entry")))).as("type_counts"))

  /** J1/J5/T1/S14: document assembly digest — lineitems fold into their
    * order doc in (linenumber, partkey) order (`search/dump_genes.js:
    * 283-308`; partkey tie-break because the synthetic data repeats
    * linenumbers within an order); the canonical serialization is
    * digested so the nested doc compares engine-neutrally.
    */
  val q34DocAssembly: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_items"),
        md5(concat_ws(",",
          transform(
            sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
            x => x.getField("l_partkey").cast("string")))).as("items_digest"))

  /** Multimodal: scan-time metadata over an opaque binary column (byte
    * length + leading-bytes magic) — the projection that prunes a media
    * table before any decode. The binary column derives from text here
    * (no real media in the testdata); the plumbing is the point.
    */
  val q35MediaMeta: Q = (s, d) =>
    graft.functions.Multimodal
      .mediaMeta(
        Tables.documents(s, d).select(
          col("doc_id"), col("text").cast("binary").as("content")),
        "content")
      .select("doc_id", "n_bytes", "magic")

  /** Distinct aggregation: per-type distinct user counts + total — the
    * two-phase (partial dedup, final count) distinct-agg plan.
    */
  val q37DistinctUsers: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))

  /** §2.9 regex ops: numeric id extracted from a formatted name
    * (`search/ancestor_adder.js:46` id-from-prefixed-string shape) +
    * rlike filter.
    */
  val q38RegexExtract: Q = (s, d) =>
    Tables.customer(s, d)
      .where(col("c_name").rlike("^Customer#\\d+$"))
      .select(
        col("c_custkey"),
        nullif(regexp_extract(col("c_name"), "#0*(\\d+)$", 1), lit(""))
          .cast("long").as("name_id"),
        upper(substring(col("c_name"), 1, 8)).as("prefix"))

  /** As-of (backward) join: each purchase matched to the latest error
    * at-or-before it by the same user. Implemented as the union+window
    * plan — tag both streams, one window pass carrying the last error
    * timestamp forward — which shuffles each side ONCE on the key
    * instead of range-joining: the scalable as-of shape (a sort-merge
    * as-of strategy would be the custom-SparkStrategy upgrade path).
    */
  val q39AsofJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val tagged = ev.select(
      col("user_id"),
      col("event_id"),
      col("event_type"),
      unix_micros(col("ts")).as("us"),
      when(col("event_type") === "error", unix_micros(col("ts"))).as("err_us"))
      .where(col("event_type").isin("purchase", "error"))
    // errors sort before purchases at the same timestamp => inclusive
    // at-or-before semantics, deterministic regardless of event_id order
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), when(col("event_type") === "error", 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("last_err_us", last("err_us", ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(
        col("user_id"), col("event_id"),
        col("us").as("purchase_us"), col("last_err_us"))
  }

  /** W1 via a typed Aggregator: the same per-nation top-3 as q07, but
    * with MAP-SIDE partial aggregation — each partition keeps only k
    * candidates per group, so the shuffle carries O(k) rows per
    * (partition, group) instead of every customer. Same oracle as the
    * window plan; at scale this is the plan you want for small k.
    */
  val q41TopkAggregator: Q = (s, d) => {
    import s.implicits._
    val agg = graft.ops.TopK.topK(3).toColumn
    Tables.customer(s, d)
      .select(col("c_nationkey"),
        col("c_custkey").as("id"), col("c_acctbal").as("score"))
      .as[(Int, Long, Double)]
      .map { case (nk, id, sc) => (nk, graft.ops.TopK.Scored(id, sc)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("top"))
      .flatMap { case (nk, top) =>
        top.zipWithIndex.map { case (sc, i) =>
          (nk, (i + 1).toLong, sc.id, sc.score)
        }
      }
      .toDF("c_nationkey", "rn", "c_custkey", "acctbal")
  }

  /** J12 via the CUSTOM PLANNER PATH: the same global interval
    * containment as q12, written as the raw range predicate against a
    * broadcast interval side — planned by
    * [[graft.plans.BroadcastIntervalJoinStrategy]] as a sorted-array
    * binary-search probe instead of Catalyst's BroadcastNestedLoopJoin.
    */
  val q40IntervalJoinCustomPlan: Q = (s, d) => {
    // the strategy is registered at session setup (graft.GraftExtensions
    // via spark.sql.extensions); without it this plans as Catalyst's
    // BroadcastNestedLoopJoin with identical semantics
    val ev = Tables.events(s, d)
    val windows = ev.filter(col("event_type") === "error").select(
      unix_micros(col("ts")).as("w_start"),
      (unix_micros(col("ts")) + TenMinUs).as("w_end"))
    val points = ev.filter(col("event_type") === "purchase").select(
      col("event_id"),
      unix_micros(col("ts")).as("p_ts"))
    points
      .join(broadcast(windows),
        col("p_ts") >= col("w_start") && col("p_ts") <= col("w_end"))
      .select("event_id")
      .distinct()
  }

  /** T3-prep: reference-fidelity leaf representative scoring
    * (`trees/genetree.js:136-198`) over gene attributes synthesized
    * deterministically from the part table — curation flag, description
    * quality regexes (with the `[Source:...]` strip + own-id scrub),
    * display-label heuristics, model-species bonus, hosted-genome
    * penalty. Pure codegen'd projection; the oracle replays the same
    * CASE/regex cascade in SQL.
    */
  val q43GenetreeScore: Q = (s, d) => {
    import graft.ops.GeneTreeRep
    val p = Tables.part(s, d).select(col("p_partkey").as("pk"))
    val gene = when(col("pk") % 3 === 0, concat(lit("AT"), col("pk")))
      .otherwise(concat(lit("G"), col("pk")))
    val descr = when(col("pk") % 7 === 1, lit("hypothetical protein kinase"))
      .when(col("pk") % 7 === 2, lit("expressed protein"))
      .when(col("pk") % 7 === 3, lit("Zm00001d0 kinase"))
      .when(col("pk") % 7 === 4, lit("Receptor kinase activity [Source:UniProtKB]"))
      .when(col("pk") % 7 === 5, gene)
      .when(col("pk") % 7 === 6, lit("Putative transporter")) // % 7 == 0 → null
    val label = when(col("pk") % 5 === 1, gene)
      .when(col("pk") % 5 === 2, lit("POPTRDRAFT_99"))
      .when(col("pk") % 5 === 3, concat(lit("KIN"), col("pk")))
      .when(col("pk") % 5 === 4, lit("abc")) // % 5 == 0 → null
    val taxon = when(col("pk") % 4 === 0, lit(3702L)).otherwise(lit(4577L))
    val hosted = when(col("pk") % 11 === 0, lit(null).cast("boolean"))
      .when(col("pk") % 11 < 6, lit(true)).otherwise(lit(false))
    p.select(
      gene.as("gene_id"),
      GeneTreeRep.leafScore(
        curated = col("pk") % 10 === 0, description = descr,
        displayLabel = label, geneId = gene,
        taxonId = taxon, genomeHosted = hosted).as("score"))
  }

  /** T3/T4/T5: gene-tree representative propagation
    * ([[graft.ops.GeneTreeRep.leafAttrs]] — `trees/genetree.js:211-233`
    * bottom-up DP, `search/genetree_adder.js:139-173` top-down 0.8
    * override + ath tracking + duplication tagging) over a caterpillar
    * forest derived from the part table: tree k holds the ≤40
    * consecutive parts with `p_partkey DIV 40 = k`, ranked into leaves
    * L_1..L_n hanging off an internal chain I_1→I_(n-1). The DIV
    * keying (was `% 50` through round 8) bounds TREE SIZE while tree
    * COUNT grows with the corpus — real gene families are bounded, so
    * a scaled corpus must add trees, not deepen each one 100× (the
    * round-7 audit's q54 OOM was the modulo scaffold, not the DP).
    * All distances/scores are exact binary quarters so the DuckDB
    * recursive-CTE oracle hash-matches bit-for-bit. One shuffle (nodes
    * by tree id); each tree folds executor-local.
    */
  val q44GenetreeRep: Q = (s, d) => {
    import s.implicits._
    import graft.ops.GeneTreeRep
    val w = Window.partitionBy("treeId").orderBy("pk")
    val ranked = Tables.part(s, d)
      .select(col("p_partkey").as("pk"),
        expr("p_partkey DIV 40").cast("long").as("treeId"))
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("treeId")))
    val leaves = ranked.select(
      col("treeId"),
      (col("r") * 2).cast("long").as("id"),
      when(col("n") === 1, lit(-1L))
        .otherwise((least(col("r"), col("n") - 1) * 2 + 1).cast("long")).as("parent"),
      ((col("pk") % 5) * lit(0.25) + lit(0.25)).as("dist"),
      when(col("pk") % 17 === 0, lit(3702001L))
        .when(col("pk") % 5 === 0, lit(3702L))
        .otherwise(lit(4577L)).as("taxonId"),
      when(col("pk") % 3 === 0, concat(lit("AT"), col("pk")))
        .otherwise(concat(lit("G"), col("pk"))).as("geneId"),
      ((col("pk") % 9) * lit(25.0) - lit(110.0)).as("score"),
      lit(0.0).as("dupConf"))
    val internals = ranked.where(col("r") <= col("n") - 1).select(
      col("treeId"),
      (col("r") * 2 + 1).cast("long").as("id"),
      when(col("r") === 1, lit(-1L)).otherwise((col("r") * 2 - 1).cast("long")).as("parent"),
      ((col("r") % 3) * lit(0.5)).as("dist"),
      (lit(1000L) + col("r")).as("taxonId"),
      lit(null).cast("string").as("geneId"),
      lit(0.0).as("score"),
      when(col("r") % 4 === 0, lit(0.9)).otherwise(lit(0.2)).as("dupConf"))
    GeneTreeRep.leafAttrs(leaves.unionByName(internals).as[GeneTreeRep.Node])
      .toDF()
      .withColumn("duplications",
        concat_ws(",", transform(col("duplications"), x => x.cast("string"))))
  }

  /** Shared feature synthesis for the domain-architecture queries:
    * lineitems become protein-domain features — gene = order, hierarchy
    * root = linenumber parity, ipr = partkey (a binary-heap ontology
    * label), span from suppkey/partkey arithmetic.
    */
  private def domainFeatures(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.lineitem(s, d).select(
      col("l_orderkey").cast("long").as("geneId"),
      (col("l_linenumber") % 2).cast("long").as("root"),
      col("l_partkey").cast("long").as("ipr"),
      ((col("l_suppkey") % 20) * 10).cast("long").as("start"),
      ((col("l_suppkey") % 20) * 10 + 5 + (col("l_partkey") % 30) * 5)
        .cast("long").as("end"))
      .as[graft.ops.DomainArchitecture.Feature]
  }

  /** T13 (≥20%-of-shorter rule) + T12 (LCA root assignment): the
    * reference's domain-architecture sweep
    * ([[graft.ops.DomainArchitecture.clusters]] —
    * `search/domain_architect.js:119-203`) over lineitem-derived
    * features. The oracle replays the order-dependent sweep as a
    * recursive CTE and the heap LCA in closed bit-arithmetic form.
    */
  val q45DomainClusters: Q = (s, d) =>
    graft.ops.DomainArchitecture.clusters(domainFeatures(s, d)).toDF()

  /** T15 + the reference's per-gene emission
    * (`domain_architect.js:106-116,200-203`): space-joined cluster
    * roots in (start, end) order plus the typed feature buckets as a
    * canonical sorted tally.
    */
  val q46DomainRoots: Q = (s, d) => {
    val cl = graft.ops.DomainArchitecture.clusters(domainFeatures(s, d)).toDF()
    val roots = cl.groupBy("gene_id")
      .agg(
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("c_start"), col("c_end"), col("root")))),
          x => x.getField("root").cast("string"))).as("roots"),
        count(lit(1)).as("n_clusters"))
    val types = domainFeatures(s, d).toDF()
      .select(col("geneId").as("gene_id"),
        element_at(
          array(lit("domain"), lit("family"), lit("repeat"), lit("site")),
          (col("ipr") % 4 + 1).cast("int")).as("ftype"))
      .groupBy("gene_id", "ftype")
      .agg(count(lit(1)).as("n"))
      .select(col("gene_id"), concat(col("ftype"), lit(":"), col("n")).as("entry"))
      .groupBy("gene_id")
      .agg(concat_ws(",", sort_array(collect_list(col("entry")))).as("type_counts"))
    roots.join(types, Seq("gene_id"))
  }

  /** T21 split-gene rescue ([[graft.ops.SplitGeneRescue]] —
    * `search/dump_homologs.js:7-12,66-84,176-205`): orders become a
    * genome layout (custkey-derived fragments, orderkey parity strands,
    * hashed coordinates); candidate pairs are each gene with its 1st /
    * 2nd / 4th follower on the strand, with synthetic MSA overlap
    * percentages. The cogrouped walk + gates decide each pair; the
    * oracle replays the walk as a first-overshoot scan.
    */
  val q47SplitRescue: Q = (s, d) => {
    import s.implicits._
    import graft.ops.SplitGeneRescue
    val g = Tables.orders(s, d).select(
      (col("o_custkey") % 500).cast("long").as("frag"),
      (col("o_orderkey") % 2).cast("long").as("strand"),
      col("o_orderkey").cast("long").as("geneId"),
      ((col("o_orderkey").cast("long") * 7919) % 10000000).as("start"),
      ((col("o_orderkey").cast("long") * 7919) % 10000000
        + 1000 + (col("o_orderkey") % 100) * 3000).cast("long").as("end"))
    // all three lead distances in ONE window pass (one shuffle of the
    // gene table, not three), then explode into pairs
    val w = Window.partitionBy("frag", "strand").orderBy("start", "end", "geneId")
    val pairs = g
      .select(col("frag") +: col("strand") +: col("geneId") +:
        Seq(1, 2, 4).map(k => lead(col("geneId"), k).over(w).as(s"o$k")): _*)
      .select(col("frag"), col("strand"), col("geneId"),
        explode(array(Seq(1, 2, 4).map { k =>
          struct(lit(k).as("k"), col(s"o$k").as("otherId"))
        }: _*)).as("ko"))
      .where(col("ko.otherId").isNotNull)
      .select(
        (col("geneId") * 10 + col("ko.k")).cast("long").as("pairId"),
        col("frag"), col("strand"), col("geneId"),
        col("ko.otherId").cast("long").as("otherId"),
        (col("geneId") % 13).cast("double").as("genePpos"),
        (col("ko.otherId") % 13).cast("double").as("otherPpos"))
    SplitGeneRescue.rescue(
      g.as[SplitGeneRescue.Gene], pairs.as[SplitGeneRescue.Pair]).toDF()
  }

  /** T19 foster grafting ([[graft.ops.FosterGraft]] —
    * `ontologies/filter_taxonomy2.js:141-199`): the part heap is the
    * taxonomy (parent = k/2, heap-path ancestors); every third part
    * requests a synthesized genome id (pk·1000 + small tail, hundreds
    * digit 0) that is absent from the tree and grafts under pk's
    * parent, rolling its gene count up the lineage.
    */
  val q48FosterGraft: Q = (s, d) => {
    val tax = Tables.part(s, d).select(
      col("p_partkey").cast("long").as("id"),
      expr("p_partkey div 2").cast("long").as("parent"),
      expr("reverse(filter(transform(sequence(0, 21), " +
        "i -> shiftright(cast(p_partkey as bigint), i)), x -> x >= 1))")
        .as("ancestors"),
      concat(lit("node_"), col("p_partkey")).as("name"))
    val desired = Tables.part(s, d).select(
      when(col("p_partkey") % 3 === 0,
        col("p_partkey").cast("long") * 1000 + col("p_partkey") % 90)
        .otherwise(col("p_partkey").cast("long")).as("id"),
      concat(lit("genome_"), col("p_partkey")).as("display_name"),
      (col("p_partkey") % 50).cast("long").as("n_genes"))
    graft.ops.FosterGraft.graft(tax, desired)
      .withColumn("ancestors",
        concat_ws(",", transform(col("ancestors"), x => x.cast("string"))))
  }

  /** The SAME as-of semantics as q39, via the CUSTOM PLANNER PATH: a
    * first-class sort-merge as-of node ([[graft.plans.AsofJoin]]) that
    * declares key clustering + (key, time) ordering, so the plan is one
    * exchange per side and a single streaming merge — no union, no
    * window buffer. Same oracle as q39.
    */
  val q49AsofCustomPlan: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("event_id"), unix_micros(col("ts")).as("purchase_us"))
    val errors = ev.filter(col("event_type") === "error").select(
      col("user_id").as("err_user_id"), unix_micros(col("ts")).as("last_err_us"))
    graft.plans.AsofJoin.backward(
      purchases, errors,
      leftKeys = Seq("user_id"), rightKeys = Seq("err_user_id"),
      leftTime = "purchase_us", rightTime = "last_err_us")
      .select("user_id", "event_id", "purchase_us", "last_err_us")
  }

  /** Embedding-cosine near-dup, exact baseline
    * ([[graft.ops.Dedup.embeddingNearDupExact]]): all pairs at cosine
    * ≥ 0.35 over the embeddings table, oracle-checked against DuckDB's
    * brute force. The LSH scale paths are q51 (rows-only + recall spec)
    * and its oracle-gated fixed-bits form q51b.
    */
  val q50EmbeddingNearDup: Q = (s, d) =>
    Dedup.embeddingNearDupExact(
      Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)

  /** Embedding-cosine near-dup via SRP-LSH buckets + exact verify —
    * the shape that survives 10⁹ vectors (narrow (table,bucket)
    * shuffle, no all-pairs). The bits per table are sized from the
    * corpus, which a static SQL oracle can't replay → rows-only;
    * recall vs q50 is pinned in DedupSpec.
    */
  val q51EmbeddingNearDupLsh: Q = (s, d) =>
    // bitsPerTable auto-sized from the corpus (bits ~ log2 n) so bucket
    // occupancy — and with it candidate volume per vector — stays
    // constant as the table grows; a fixed bits choice right for one SF
    // is quadratically wrong ten SFs later (sf1.0 audit finding)
    Dedup.embeddingNearDupLsh(
      Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.35, dim = 64, numTables = 12)

  /** Embedding near-dup via SRP-LSH under the FULL driver oracle gate:
    * md5-derived planes ([[graft.ops.Similarity.hyperplanes]]) make
    * the bucketing SQL-replayable — the oracle recomputes signatures,
    * self-joins (table, bucket) collisions and verifies with exact
    * cosine, so the engine's REAL banded self-join plan is hash-gated
    * end-to-end (q28's pair form). Static bits (a SQL oracle can't
    * replay corpus-derived sizing); q51's auto-sized path stays.
    *
    * GATE-SCALE configuration by design (the q84b pattern): pinned
    * bits make bucket occupancy — and the self-join volume — grow
    * quadratically with the corpus, so the query DECLARES its volume
    * budget (100M pairs ≈ 50× the gate-scale need) and the
    * [[graft.ops.SimilarityGuard]] refusal, not a disk death, is the
    * out-of-regime behavior: at the round-11 100× audit the un-capped
    * form predicted ~2.5B candidate pairs, slid under the
    * corpus-scaled auto cap (4B at 200k vectors) and out-spilled the
    * box; the explicit cap turns that launch into a refusal naming
    * the volume and the re-route.
    */
  val q51bEmbeddingNearDupLshPortable: Q = (s, d) =>
    Dedup.embeddingNearDupLsh(
      Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.35, dim = 64, bitsPerTable = 6, numTables = 8,
      maxCandidates = 100L * 1000 * 1000)

  /** APSS exact cosine-threshold self-join with prefix filtering
    * ([[graft.ops.Apss.cosinePairs]]) over top-8-by-magnitude
    * sparsified embeddings — the keyed-shuffle exact plan for the
    * sparse regime (TF-IDF bags, sparsified embeddings), oracle-checked
    * against DuckDB's brute force over the SAME sparsification.
    */
  val q57ApssCosine: Q = (s, d) =>
    Apss.cosinePairs(
      Tables.embeddings(s, d).select(
        col("vec_id"),
        Apss.sparsifyTopM(col("embedding"), 8).as("terms")),
      "vec_id", "terms", threshold = 0.4)

  /** Open-world APSS cross-set probe ([[graft.ops.Apss.probePairs]]):
    * a query batch joined exactly against a corpus it was never
    * co-indexed with — the incremental-dedup screen ("is anything in
    * this new batch a near-dup of the corpus?"). Both sides post under
    * the unit bound, so the t/2 prefix rule stays exact across sets;
    * the oracle is the same brute-force sparse dot as q57, restricted
    * to (query, corpus) ordered pairs. Self-matches filtered (the
    * query set here is a corpus subset).
    */
  val q62ApssProbe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(
      col("vec_id"), Apss.sparsifyTopM(col("embedding"), 8).as("terms"))
    Apss.probePairs(
      emb, emb.where(col("vec_id") < 100), "vec_id", "terms", threshold = 0.4)
      .where(col("query_id") =!= col("corpus_id"))
  }

  /** APSS over REAL text: per-document TF-IDF vectors on the raw
    * 3-gram shingle vocabulary (dims are xxhash64 keys of the shingle
    * strings — no pre-built vocabulary table, no dense id remap, and
    * no gram strings riding the posting shuffles), with the
    * KEYED-JOIN bound attach forced (`maxBroadcastDims = 0`) — the
    * configuration that survives a 10⁹-key vocabulary, here under the
    * driver's oracle gate end-to-end. Weights are ln(N/df) over
    * distinct shingles (set semantics; df counts documents). This is
    * the declared target regime of [[graft.ops.Apss]] (scaladoc:
    * TF-IDF bags), previously exercised only at unit scale.
    *
    * 3-grams, not 2-grams, deliberately: the synthetic corpus draws
    * from a tiny word list, so its 2-gram vocabulary is ~10³ keys with
    * avg df ≈ 275 — near-uniform idf weights defeat prefix filtering
    * (every vector posts ~85% of its dims and the dim join degenerates
    * toward all-pairs, ~60M candidate rows at sf0.1). 3-grams are
    * combinatorially rarer (~27k keys, avg df ≈ 10 at sf0.1): the
    * skewed regime APSS declares. Real prose is Zipfian at 2-grams
    * already; the widening stands in for that skew here.
    */
  val q63ApssTfidf: Q = (s, d) => {
    // Shingle STRINGS are hashed to 64-bit dims BEFORE the staged
    // checkpoint (the q22 gram-key move): the checkpoint and every
    // posting-build / candidate shuffle then carry an 8-byte long per
    // gram instead of a ~30-byte UTF-8 string — the difference between
    // the TF-IDF build fitting one box's disk at 100× and out-spilling
    // it. Collisions: see [[graft.functions.Shingling.gramKey]].
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
        transform(
          graft.functions.Shingling.sortedShingles(
            TextAnalytics.tokens(col("text")), 3),
          g => graft.functions.Shingling.gramKey(g)).as("sh"))
      .where(size(col("sh")) > 0)
      // feeds the N count, the df table, and the terms regroup
      .transform(graft.core.StagingScope.stage(_))
    val n = sh.count() // corpus size for idf — one count job at any scale
    val e = sh.select(col("doc_id"), explode(col("sh")).as("dim"))
    val dfreq = e.groupBy("dim").agg(count(lit(1)).as("df"))
    val terms = e.join(dfreq, "dim")
      .groupBy("doc_id")
      .agg(collect_list(struct(
        col("dim"),
        log(lit(n.toDouble) / col("df")).as("w"))).as("terms"))
    Apss.cosinePairs(terms, "doc_id", "terms",
      threshold = 0.6, maxBroadcastDims = 0)
  }

  /** Benchmark decontamination ([[graft.ops.Decontaminate]]): the
    * held-out "benchmark" is every 20th document; each remaining
    * training document reports how many of its distinct 4-grams occur
    * anywhere in the benchmark (the GPT-3-style n-gram contamination
    * screen, Brown et al. 2020 appendix C — width shrunk from 13 to 4
    * for the synthetic corpus's short docs). One row per training doc,
    * zero-hit docs included — the shape a corpus filter stage consumes.
    */
  val q64Decontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.Decontaminate.ngramOverlap(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "text", "doc_id", n = 4)
      .withColumnRenamed("id", "doc_id")
  }

  /** Span-level decontamination ([[graft.ops.Decontaminate
    * .ngramHitSpans]]): the same every-20th-doc benchmark split as q64,
    * but reporting WHERE the 4-gram collisions fall — merged 0-based
    * token-offset windows per training doc, so an excision stage can
    * cut the contaminated spans and keep the rest (Brown et al. 2020
    * appendix C splits documents around collisions). Oracle replays
    * positional grams with generate_series and the island merge with
    * window functions.
    */
  val q68DecontaminateSpans: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.Decontaminate.ngramHitSpans(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "text", "doc_id", n = 4)
      .withColumnRenamed("id", "doc_id")
  }

  /** Excision ([[graft.ops.Decontaminate.exciseSpans]]): apply q68's
    * merged hit spans back to the training corpus — cut each
    * contaminated token window, emit the surviving segments as rows
    * (clean docs pass through as one full-span segment). The cleaned,
    * split corpus a post-decontamination training run would read.
    * Oracle rebuilds the spans (q68's derivation) and replays the
    * complement-interval split with window functions + list slicing.
    */
  val q71ExciseSpans: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val spans = graft.ops.Decontaminate.ngramHitSpans(
      train, docs.where(col("doc_id") % 20 === 0),
      "text", "doc_id", n = 4)
      .withColumnRenamed("id", "doc_id")
    graft.ops.Decontaminate.exciseSpans(train, spans, "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
  }

  /** Fuzzy decontamination, EXACT side ([[graft.ops.Decontaminate
    * .jaccardScreen]]): every (training doc, benchmark doc) pair with
    * 2-gram Jaccard >= 0.5 under the q64/q68 every-20th-doc split —
    * lightly-edited benchmark copies the exact-overlap screen can
    * miss. Cross-set PPJoin prefix filtering; oracle replays the
    * cross-set gram join + Jaccard.
    */
  val q69DecontaminateJaccard: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.Decontaminate.jaccardScreen(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "text", "doc_id", shingleN = 2, threshold = 0.5)
      .withColumnRenamed("id", "doc_id")
  }

  /** Fuzzy decontamination, MinHash+LSH scale path ([[graft.ops
    * .Decontaminate.minHashScreen]]): the benchmark's banded signature
    * index probed by each training doc's signature, candidates verified
    * with exact Jaccard. The auto-tuned banding resolves to q70b's
    * (8, 4), so both run the same plan and share one oracle; recall vs
    * the exact screen (q69) is pinned in DecontaminateSpec (mirroring
    * q22<->q26).
    */
  val q70DecontaminateMinhash: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // auto-tuned banding — resolves to the same (8, 4) at t = 0.5/32
    graft.ops.Decontaminate.minHashScreenAuto(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "text", "doc_id", shingleN = 2, threshold = 0.5, numHashes = 32)
      .withColumnRenamed("id", "doc_id")
  }

  /** The MinHash screen with its banding pinned instead of derived
    * ([[graft.ops.Decontaminate.minHashScreen]]): signatures use the
    * md5-60-bit permutation hash so the oracle recomputes them
    * bit-for-bit, band buckets are the raw value slices (exact
    * collision semantics), and the oracle replays signature → band
    * collision → exact-Jaccard verify in SQL — so the REAL
    * banding/salting/verify machinery gets a hash-match row. Same plan
    * and oracle as q70.
    */
  val q70bMinhashPortable: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.Decontaminate.minHashScreen(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "text", "doc_id", shingleN = 2, bands = 8, rowsPerBand = 4,
      threshold = 0.5)
      .withColumnRenamed("id", "doc_id")
  }

  /** The COMPOSED decontamination pipeline — the LLM-data analog of
    * q54's gene pipeline: every stage is the already-gated operator,
    * chained the way a training-data run would actually execute it.
    *
    *   1. fuzzy SCREEN ([[graft.ops.Decontaminate.jaccardScreen]],
    *      q69): training docs that are near-dups of a benchmark doc
    *      are dropped whole — excision can't fix a wholesale copy;
    *   2. verbatim SPANS ([[graft.ops.Decontaminate.ngramHitSpans]],
    *      q68) over the survivors;
    *   3. EXCISION ([[graft.ops.Decontaminate.exciseSpans]], q71) —
    *      cut the collision windows, keep the clean segments;
    *   4. exact DEDUP ([[graft.ops.Dedup.exact]], q17) of the
    *      surviving segments by content (a synthetic
    *      `doc_id·2³² + seg_start` segment id makes the canonical
    *      pick the lexicographic (doc, offset) minimum);
    *   5. reproducible SPLITS ([[graft.ops.Splits]], q67) keyed on the
    *      ORIGINAL doc id, so all of a document's segments land in one
    *      split and the assignment survives re-runs and re-sharding.
    *
    * Output is the publishable manifest: per (lang, split) segment,
    * token and excised-duplicate counts. Scale shape: the benchmark
    * side broadcasts, every join is keyed, dedup is one hash shuffle,
    * the manifest aggregation is map-side-combinable — no stage
    * inspects more than one doc's tokens at a time.
    * Oracle: the q69 + q68 + q71 + q17 + q67 SQL chained as CTEs.
    */
  val q72DecontamPipeline: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = docs.where(col("doc_id") % 20 === 0)
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val contaminated = graft.ops.Decontaminate.jaccardScreen(
        train, bench, "text", "doc_id", shingleN = 2, threshold = 0.5)
      .select(col("id").as("doc_id")).distinct()
    // survivors feed BOTH the span derivation and the excision, and
    // segs feed BOTH the dedup and the canonical re-join — without
    // materialization the screen's candidate join and the excision
    // replay per consumer (the same materialize-once rule every
    // composed op in this engine follows)
    val survivors = train.join(contaminated, Seq("doc_id"), "left_anti")
      .transform(graft.core.StagingScope.stage(_))
    val spans = graft.ops.Decontaminate.ngramHitSpans(
        survivors, bench, "text", "doc_id", n = 4)
      .withColumnRenamed("id", "doc_id")
    // seg id packs (doc, offset) as doc_id·2³² + seg_start: collision-
    // free for doc_id < 2³¹ and any realistic token offset (< 2³²),
    // and its Long order is the (doc, offset) lexicographic order the
    // canonical pick needs
    val segs = graft.ops.Decontaminate
      .exciseSpans(survivors, spans, "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .withColumn("seg_id",
        col("doc_id") * lit(4294967296L) + col("seg_start"))
      .transform(graft.core.StagingScope.stage(_))
    val canon = Dedup.exact(segs, "seg_text", "seg_id")
    canon
      .join(segs, canon("canonical_id") === segs("seg_id"))
      .select(col("doc_id"), col("seg_start"), col("seg_end"), col("n_copies"))
      .withColumn("split", graft.ops.Splits.splitLabel(
        col("doc_id"), Seq("train" -> 90, "val" -> 95), "test"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(col("seg_end") - col("seg_start")).as("n_tokens"),
        sum(col("n_copies") - 1).as("n_dup_segs"))
  }

  /** Gopher-style repetition quality filter
    * ([[TextAnalytics.repetitionStats]]): duplicate-token, top-2-gram
    * and duplicate-3-gram fractions per document plus the keep/drop
    * verdict, computed by the one-pass native
    * [[graft.functions.Shingling.ShingleStats]] kernel — per-row,
    * shuffle-free, scan-speed at any corpus size. Oracle replays the
    * gram counting with unnest + GROUP BY.
    */
  val q65Repetition: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalytics.repetitionStats(col("toks")).as("r"))
      .select(col("doc_id"), col("r.dup_tok_frac"), col("r.top_2gram_frac"),
        col("r.dup_3gram_frac"), col("r.keep"))

  /** Reproducible train/val/test split ([[graft.ops.Splits]]): 90/5/5
    * by a stable md5-of-id hash (content- and partitioning-independent,
    * replayable by any engine), summarized as doc + token counts per
    * (lang, split) — the split manifest a training-data pipeline
    * publishes alongside the corpus.
    */
  val q67HashSplit: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        graft.ops.Splits.splitLabel(
          col("doc_id"), Seq("train" -> 90, "val" -> 95), "test").as("split"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))

  /** BPE-ish token statistics ([[graft.functions.TextAnalytics
    * .bpePieces]]): pre-token piece counts under the GPT-2-style regex —
    * the token-budget estimator a training-data pipeline runs over every
    * document. Oracle replays the same pattern in RE2.
    */
  val q52BpeTokens: Q = (s, d) => {
    val pieces = graft.functions.TextAnalytics.bpePieces(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(pieces).cast("long").as("n_pieces"),
      size(filter(pieces, p => p.rlike("^ ?[A-Za-z]+$"))).cast("long").as("n_alpha"))
  }

  /** Duplicate CLUSTERS from pairs ([[graft.ops.Components]]): the
    * exact n-gram Jaccard pairs (q22) collapse into connected
    * components via alternating large-star/small-star — the
    * "keep one copy per cluster" decision of a corpus dedup pipeline.
    * Oracle: recursive reachability over the same pair set.
    */
  val q53DedupComponents: Q = (s, d) =>
    graft.ops.Components.components(
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d), "text", "doc_id",
        blockCol = "lang", shingleN = 2, threshold = 0.5)
        .select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")

  // ---- Media features and similarity-hash operators ----

  /** Multimodal feature extraction: batched mapPartitions decode-stub +
    * deterministic fake embedding. The float features are emitted as
    * scaled integers (`floor(f · 2²⁰)` — exact: a float32's 24-bit
    * mantissa times a power of two loses nothing), digested with md5
    * plus an integer L1 sum, so the WHOLE bytes→thumb→rolling-hash→
    * float chain is replayed independently by the DuckDB oracle
    * (HUGEINT mod-2⁶⁴ arithmetic) — a full oracle gate, not rows-only.
    */
  val q36MediaFeatures: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      lit("txt").as("format")).as[graft.functions.Multimodal.MediaRow]
    graft.functions.Multimodal.extractFeatures(media, dim = 8)
      .toDF()
      .withColumn("scaled",
        transform(col("features"),
          f => floor(f.cast("double") * lit(1048576L)).cast("long")))
      .select(
        col("media_id"),
        col("n_bytes"),
        md5(concat_ws(",", transform(col("scaled"), x => x.cast("string"))))
          .as("features_digest"),
        aggregate(col("scaled"), lit(0L), (s, x) => s + x).as("features_l1"))
  }

  /** REAL image decode through the JDK's PNG codec
    * ([[graft.functions.Multimodal.decodeImages]]): each document's
    * bytes become an 8x8 grayscale PNG (deterministic synthesis — the
    * container ships no image fixtures), `javax.imageio` decodes it
    * back, and the decoded raster is digested. PNG is lossless, so the
    * DuckDB oracle replays the pixel values straight from the document
    * bytes — a real codec round-trip under a real oracle gate.
    */
  val q56MediaDecode: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      lit("png").as("format")).as[graft.functions.Multimodal.MediaRow]
    val pngs = media.map(m => graft.functions.Multimodal.MediaRow(
      m.media_id, graft.functions.Multimodal.encodeGrayPng(m.content, 8, 8), "png"))
    graft.functions.Multimodal.decodeImages(pngs)
      // thumb is a BINARY column; surface the pixel values as the
      // comma-joined unsigned ints the oracle replays
      .map { dec =>
        val vals = dec.thumb.map(b => (b & 0xff).toLong)
        (dec.media_id, dec.width.toLong, dec.height.toLong,
          vals.mkString(","), vals.sum / 64)
      }
      .toDF("media_id", "width", "height", "thumb_csv", "luma_mean")
      .select(
        col("media_id"), col("width"), col("height"),
        md5(col("thumb_csv").cast("binary")).as("thumb_digest"),
        col("luma_mean"))
  }

  /** REAL audio decode through the JDK's WAV parser
    * ([[graft.functions.Multimodal.decodeAudios]]): each document's
    * bytes become an 8-bit mono PCM WAV, `javax.sound.sampled` parses
    * it back, and the decoded header fields + per-window sample means
    * are digested. PCM is stored verbatim, so the DuckDB oracle
    * replays the samples straight from the document bytes.
    */
  val q58AudioDecode: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      lit("wav").as("format")).as[graft.functions.Multimodal.MediaRow]
    val wavs = media.map(m => graft.functions.Multimodal.MediaRow(
      m.media_id, graft.functions.Multimodal.encodePcmWav(m.content), "wav"))
    graft.functions.Multimodal.decodeAudios(wavs)
      .map { a =>
        (a.media_id, a.sample_rate.toLong, a.channels.toLong, a.n_frames,
          a.window_means.mkString(","))
      }
      .toDF("media_id", "sample_rate", "channels", "n_frames", "means_csv")
      .select(
        col("media_id"), col("sample_rate"), col("channels"), col("n_frames"),
        md5(col("means_csv").cast("binary")).as("means_digest"))
  }

  /** MinHash+LSH near-dup candidates, verified by exact Jaccard, with
    * the banding derived from the threshold. It resolves to q26b's
    * (8, 4), so both run the same md5 plan and share one oracle;
    * recall vs q22's exact pairs is pinned in DedupSpec. 0.80 s warm
    * median on perfbench `similarity_sf0.01` (4-core VM, 10 runs; 0.95 s
    * before the kernel's per-task gram memo).
    */
  val q26MinHashLsh: Q = (s, d) =>
    // auto-tuned banding: lshBanding(0.5, 32) = (8, 4), the measured
    // round-7 scale path's parameters, now derived instead of pinned
    Dedup.minHashLshAuto(
      Tables.documents(s, d), "text", "doc_id",
      shingleN = 2, threshold = 0.5, numHashes = 32)

  /** The MinHash+LSH SELF-join with its banding pinned
    * ([[graft.ops.Dedup.minHashLsh]]): md5 permutation hashes +
    * raw-value band buckets, so the oracle replays signature → band
    * collision → exact-Jaccard verify against the engine's banded +
    * skew-salted self-join plan (the cross-set form is q70). The
    * signature is the native one-pass kernel; 0.74 s warm median on
    * perfbench `similarity_sf0.01` (4-core VM, 10 runs; 0.89 s before
    * the kernel's per-task gram memo).
    */
  val q26bMinhashLshPortable: Q = (s, d) =>
    Dedup.minHashLsh(
      Tables.documents(s, d), "text", "doc_id",
      shingleN = 2, bands = 8, rowsPerBand = 4, threshold = 0.5)

  /** SimHash 60-bit md5 fingerprints per document
    * ([[graft.ops.Dedup.simHash]]), replayed by the oracle bit-for-bit.
    */
  val q27SimHash: Q = (s, d) =>
    Dedup.simHash(Tables.documents(s, d), "text", "doc_id")

  /** SimHash near-dup PAIRS under the full driver oracle gate
    * ([[graft.ops.Dedup.simHash]] + [[graft.ops.Dedup.simHashPairs]]):
    * the oracle recomputes q27's md5-60-bit signatures in SQL and
    * brute-forces the hamming join; the engine side runs the REAL
    * chunk-blocked + skew-salted pair plan, so the gate proves
    * blocking == exhaustive (pigeonhole: ≤ 3 differing bits can touch
    * at most 3 of the 4 16-bit chunks, so every qualifying pair
    * agrees on some chunk).
    */
  val q27bSimhashPairs: Q = (s, d) =>
    Dedup.simHashPairs(
      Dedup.simHash(Tables.documents(s, d), "text", "doc_id"),
      maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("long"))

  /** SRP-LSH approximate nearest neighbors under the FULL DuckDB
    * oracle gate ([[graft.ops.Similarity.hyperplanes]]): hyperplane
    * components derive from md5 — both engines compute the SAME
    * doubles, so DuckDB replays bucketing (sign bits → bucket id), the
    * (table, bucket) candidate join and the exact-cosine re-rank
    * bit-for-bit. Recall is validated in tests against q21's exact
    * top-k.
    */
  val q28LshAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.lshCosineTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, dim = 64, bitsPerTable = 6, numTables = 6)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** q28 without the `sim` column. */
  val q28bLshAnnPortable: Q = (s, d) =>
    q28LshAnn(s, d).drop("sim")

  /** IVF-Flat ANN (k-means coarse quantizer, nProbe cell probing +
    * exact re-rank) — the second scale path besides LSH; recall
    * validated in tests against the exact top-k. The partial-probe
    * result is quantizer-dependent → rows-only; the ORACLE GATE for
    * the same machinery is [[q55IvfExact]].
    */
  val q42IvfAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfCosineTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nLists = 16, nProbe = 4)
  }

  /** IVF probed EXHAUSTIVELY (`nProbe = nLists`): every cell is
    * scanned, so the index answer is provably identical to brute-force
    * top-k — which puts the whole build/assign/probe machinery under
    * q21's DuckDB oracle instead of a rows-only check.
    */
  val q55IvfExact: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfCosineTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nLists = 16, nProbe = 16)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  // ---------------------------------------------------------------------
  // Streaming tier under the oracle gate (SURVEY §2.10): the same
  // pipelines EventStreamsSpec parity-tests, executed as REAL streaming
  // queries (file source → Trigger.AvailableNow → exactly-once file
  // sink) over the same events parquet, so the driver's DuckDB gate
  // checks them like any batch query.
  // ---------------------------------------------------------------------

  /** §2.10 sessionize, streamed: `flatMapGroupsWithState` session
    * windows with event-time timeout, flushed deterministically by the
    * [[graft.streaming.StreamGate]] sentinel protocol, re-aggregated to
    * q10's per-user (n_sessions, n_events) shape — SAME oracle as q10
    * (on bounded input, streaming sessionization must equal the batch
    * gaps-and-islands answer).
    */
  val q59SessionizeStream: Q = (s, d) => {
    import graft.streaming.{EventStreams, StreamGate}
    val gapSec = 1800L
    val maxNs = StreamGate.maxEventNs(s, d)
    // sentinel A pushes the watermark (stamp - gap) past every pending
    // timeout (lastUs + gap ≤ max + gap); sentinel B's batch fires them
    val dir = StreamGate.stageEvents(s, d,
      Seq(maxNs + 10L * gapSec * 1000000000L, maxNs + 20L * gapSec * 1000000000L))
    val sessions = EventStreams.sessionize(StreamGate.streamEvents(s, dir), gapSec)
    StreamGate.runAvailableNow(sessions.toDF())
      .where(col("user_id") =!= StreamGate.SentinelUser)
      .groupBy("user_id")
      .agg(
        count(lit(1)).cast("long").as("n_sessions"),
        sum("n_events").cast("long").as("n_events"))
  }

  /** §2.10 as-of enrichment, streamed: `flatMapGroupsWithState` carries
    * each user's latest error stamp; purchases emit decorated in the
    * batch they arrive (no timeout, so no sentinel needed) — SAME
    * oracle as q39's backward as-of join.
    */
  val q60AsofStream: Q = (s, d) => {
    import graft.streaming.{EventStreams, StreamGate}
    val dir = StreamGate.stageEvents(s, d, Seq.empty)
    val enriched = EventStreams.asofEnrich(StreamGate.streamEvents(s, dir))
    StreamGate.runAvailableNow(enriched.toDF())
      .select(col("user_id"), col("event_id"), col("purchase_us"), col("last_err_us"))
  }

  /** STREAMING decontamination screen ([[graft.streaming.StreamGate
    * .decontaminateScreenAvailableNow]]): training docs as a file
    * stream probing the benchmark's static MinHash index, exact-Jaccard
    * verify, watermark-bounded multi-band dedup — the incremental form
    * of q70 (screen every newly crawled batch against the benchmark
    * index forever). Gated by q70's oracle; StreamGateSpec pins exact
    * equality to [[graft.ops.Decontaminate.minHashScreen]] on the
    * bounded input.
    */
  val q73DecontaminateStream: Q = (s, d) =>
    graft.streaming.StreamGate.decontaminateScreenAvailableNow(s, d)

  /** Same plan and oracle as q73: the watermark-bounded streaming
    * machinery (file-sliced micro-batches, stream-static index join,
    * in-stream dedup state) hash-gated against q70's SQL replay.
    */
  val q73bDecontaminateStreamPortable: Q = (s, d) =>
    graft.streaming.StreamGate.decontaminateScreenAvailableNow(s, d)

  /** §2.10 stream-static decorate, gated: each micro-batch
    * broadcast-joins the static customer dimension (the reference's
    * LUT-enrichment shape on a live stream — `search/decorate.js` —
    * and the same stream-static join machinery DocStreams' near-dup
    * screen rides). Stateless, so no sentinels and no watermark: the
    * streamed answer must equal the batch left join verbatim.
    */
  val q66DecorateStream: Q = (s, d) => {
    import graft.streaming.{EventStreams, StreamGate}
    val dir = StreamGate.stageEvents(s, d, Seq.empty)
    val dim = Tables.customer(s, d).select(
      col("c_custkey").as("user_id"), col("c_name"), col("c_mktsegment"))
    val decorated = EventStreams.decorateStream(
      StreamGate.streamEvents(s, dir).toDF(), dim, "user_id")
    StreamGate.runAvailableNow(decorated
      .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment"))
  }

  /** INCREMENTAL connected components, streamed: q53's exact near-dup
    * pairs are hash-sliced into four files, streamed one file per
    * micro-batch, and folded batch-by-batch through
    * [[graft.streaming.StreamComponents]]'s star-forest fold —
    * the final snapshot must equal the one-shot batch clustering, so
    * q53's recursive-reachability oracle gates the incremental
    * machinery VERBATIM.
    */
  val q61ComponentsStream: Q = (s, d) => {
    import graft.streaming.StreamGate
    val pairs = Dedup.ngramJaccardPairs(
      Tables.documents(s, d), "text", "doc_id",
      blockCol = "lang", shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b")
    val dir = StreamGate.stagePairs(pairs, slices = 4)
    StreamGate.componentsAvailableNow(s, dir)
      .withColumnRenamed("id", "doc_id")
  }

  // ---------------------------------------------------------------------
  // Training-set assembly: sequence packing, chunking, sampling, vocab
  // ---------------------------------------------------------------------

  /** Offset-based sequence packing ([[graft.ops.Packing.packByOffset]]):
    * documents concatenated per language in doc_id order, every document
    * assigned to the `budget`-token training sequence its start offset
    * falls into. The layout is a DISTRIBUTED two-level prefix sum (shard
    * subtotals → shard-table scan → bounded local windows), not the
    * one-task-per-language window a naive `sum OVER (PARTITION BY lang)`
    * plans — the difference between working and not working at 100 TB
    * with five languages. Output: the per-sequence packing manifest.
    */
  val q74SequencePack: Q = (s, d) =>
    graft.ops.Packing.packByOffsetAuto(
      Tables.documents(s, d).select(col("lang"), col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_toks")),
      "lang", "doc_id", "n_toks", budget = 512L)
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))

  /** Fixed-size token chunking with overlap (window 32, stride 16) —
    * the context-window slicer every embedding/pretraining pipeline runs
    * over long documents. Pure per-row `sequence`/`explode` codegen'd
    * expressions; no shuffle at all before the sink.
    */
  val q75DocChunks: Q = (s, d) => {
    val (win, stride) = (32L, 16L)
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("l"))
      .withColumn("n", size(col("l")).cast("long"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"), col("l"),
        explode(sequence(lit(0L), col("n") - 1L, lit(stride))).as("st"))
      .select(col("doc_id"),
        (col("st") / stride).cast("long").as("chunk_id"),
        col("st").as("chunk_start"),
        (least(col("st") + win, col("n")) - col("st")).as("chunk_len"),
        element_at(col("l"), (col("st") + 1L).cast("int")).as("first_token"))
  }

  /** Deterministic stratified sampling: the k=3 smallest md5-of-id
    * hashes per (lang, source) stratum — reproducible across runs and
    * engines like q67's splits, and executed by the typed
    * [[graft.ops.TopK.TopKAggregator]] so the shuffle carries at most k
    * rows per (map partition, stratum) instead of whole strata (the
    * map-side-combine plan a per-stratum sample needs when one stratum
    * is half the corpus).
    */
  val q76StratifiedSample: Q = (s, d) => {
    import s.implicits._
    val hash = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    Tables.documents(s, d)
      .select(col("lang"), col("source"), col("doc_id"),
        negate(hash).cast("double").as("score"))
      .as[(String, String, Long, Double)]
      .groupByKey { case (lang, source, _, _) => (lang, source) }
      .mapValues { case (_, _, id, sc) => graft.ops.TopK.Scored(id, sc) }
      .agg(graft.ops.TopK.topK(3).toColumn.name("top"))
      .flatMap { case ((lang, source), top) => top.map(t => (lang, source, t.id)) }
      .toDF("lang", "source", "doc_id")
  }

  /** Vocabulary build for tokenizer training: global term + document
    * frequencies, top 50 by (occurrences desc, token) — a total order,
    * so the cut is deterministic. Partial aggregation absorbs the heavy
    * hitters map-side; the final top-k is TakeOrderedAndProject, never a
    * global sort.
    */
  val q77VocabBuild: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(50)

  /** Per-language corpus length statistics with EXACT percentiles
    * (`percentile`, not `percentile_approx` — the oracle hash-compares
    * values, and the linear-interpolation arithmetic is identical to
    * DuckDB's `quantile_cont`). The manifest a data curation run
    * publishes before/after filtering.
    */
  val q78CorpusStats: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("n_tokens"),
        expr("percentile(n, array(0.5D, 0.9D, 0.99D))").as("ps"),
        max("n").as("max_tokens"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("ps").getItem(0).as("p50"), col("ps").getItem(1).as("p90"),
        col("ps").getItem(2).as("p99"), col("max_tokens"))

  /** Greedy first-fit-with-reset packing
    * ([[graft.ops.Packing.packGreedyShards]]): no sequence exceeds the
    * 256-token budget unless a single document does. Sequential by
    * nature, so packed independently within 32-doc shards — a pure
    * Catalyst `aggregate` fold over bounded group buffers (no UDF). The
    * oracle replays the fold as a rank-lockstep recursive CTE.
    */
  val q79GreedyPack: Q = (s, d) =>
    graft.ops.Packing.packGreedyShards(
      Tables.documents(s, d).select(col("lang"), col("doc_id"),
        TextAnalytics.tokenCount(col("text")).as("n_toks")),
      "lang", "doc_id", "n_toks", budget = 256L, shardSpan = 32L)
      .groupBy(col("lang"), col("shard"), col("seq"))
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        min("doc_id").as("first_doc"))

  /** Per-language mixing rates for q80 (basis points): the data-mixing
    * weights a curation run applies before training.
    */
  val mixRatesBp: Seq[(String, Int)] = Seq(
    "en" -> 10000, "de" -> 5000, "es" -> 2500, "fr" -> 1000, "zh" -> 500)

  /** Deterministic corpus mixing ([[graft.ops.Splits.sampleKeep]]):
    * per-language Bernoulli downsampling at configured basis-point
    * rates via a SALTED stable hash — reproducible across engines and
    * runs, and independent of the q67 split decision (same document id,
    * different salted bucket), so every (lang, split) cell thins at its
    * language's rate instead of the sample collapsing into the train
    * split. Output: the post-mixing manifest per (lang, split).
    * Per-row expressions only; one aggregation shuffle.
    */
  val q80MixingSample: Q = (s, d) => {
    val rate = mixRatesBp
      .foldRight(lit(0): org.apache.spark.sql.Column) { case ((l, bp), rhs) =>
      when(col("lang") === l, lit(bp)).otherwise(rhs)
    }
    Tables.documents(s, d)
      .select(col("lang"),
        graft.ops.Splits.splitLabel(
          col("doc_id"), Seq("train" -> 90, "val" -> 95), "test").as("split"),
        graft.ops.Splits.sampleKeep(col("doc_id"), rate).as("keep"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L)).as("n_tokens_kept"))
  }

  /** The COMPOSED corpus-CURATION pipeline — the front half of the
    * training-data flow, upstream of decontamination (q72) and assembly
    * (q74–q80), every stage the already-gated operator:
    *
    *   1. QUALITY filter ([[TextAnalytics.qualityScore]], q19) — drop
    *      low-scoring documents (< 0.48);
    *   2. REPETITION filter ([[TextAnalytics.repetitionStats]], q65's
    *      Gopher fractions with corpus-calibrated thresholds:
    *      dup-token ≤ 0.60, dup-3-gram ≤ 0.05);
    *   3. bag-of-words DEDUP ([[TextAnalytics.fingerprint]] (q23) fed
    *      through [[graft.ops.Dedup.exact]] (q17)) — canonical = min
    *      doc id per fingerprint, so token-permuted copies collapse;
    *   4. reproducible SPLITS ([[graft.ops.Splits]], q67).
    *
    * Output: the per-(lang, split) manifest with surviving doc/token
    * counts and how many duplicates the canonical pick absorbed. Scale
    * shape: stages 1–2 are per-row codegen'd expressions (shuffle-free
    * at any corpus size), the dedup is ONE hash shuffle on the
    * fingerprint, the canonical re-join is keyed on the id, and the
    * manifest aggregation is map-side-combinable.
    */
  val q81CurationPipeline: Q = (s, d) => {
    val kept = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        TextAnalytics.qualityScore(col("text")).as("quality"),
        TextAnalytics.repetitionStats(
          TextAnalytics.tokens(col("text"))).as("r"))
      .filter(col("quality") >= 0.48 &&
        col("r.dup_tok_frac") <= 0.60 && col("r.dup_3gram_frac") <= 0.05)
      .select(col("doc_id"), col("lang"),
        TextAnalytics.fingerprint(col("text")).as("fp"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_toks"))
      // feeds BOTH the dedup aggregation and the canonical re-join
      .transform(graft.core.StagingScope.stage(_))
    val canon = Dedup.exact(kept, "fp", "doc_id")
    kept.join(canon, kept("doc_id") === canon("canonical_id"))
      .withColumn("split", graft.ops.Splits.splitLabel(
        col("doc_id"), Seq("train" -> 90, "val" -> 95), "test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum(col("n_copies") - 1).as("n_dup_dropped"))
  }

  /** Per-language epoch weights for q82 in CENTI-epochs: the
    * repetition-aware mixing a pretraining run applies when a source is
    * worth more than one pass (de at 2.5 epochs) or less than one
    * (es at 0.3). Integer centi-epochs for the same reason q80's rates
    * are basis points: the decision must replay exactly in any engine.
    */
  val epochWeightsCp: Seq[(String, Int)] = Seq(
    "en" -> 100, "de" -> 250, "es" -> 30, "fr" -> 120, "zh" -> 50)

  /** EPOCH-aware corpus mixing (upsampling with replication): each
    * document is emitted once per FULL epoch of its language's weight,
    * plus a deterministic Bernoulli decision
    * ([[graft.ops.Splits.sampleKeep]], salt `"epoch"` — independent of
    * both the q67 split and the q80 downsample by construction) for the
    * FRACTIONAL remainder — `floor(w)` copies + one more with
    * probability `w − floor(w)`, the standard way a mixing stage
    * realizes "2.5 epochs of de" without RNG state. Per-row
    * `explode(sequence(...))` then one manifest aggregation; the
    * expansion is bounded by `ceil(max weight)` rows per doc, no
    * shuffle before the manifest. Output: per (lang, epoch) doc and
    * token counts — epoch k holds every doc with ≥k+1 emitted copies,
    * so full epochs are corpus-complete and the last epoch is the
    * thinned remainder.
    */
  val q82EpochMix: Q = (s, d) => {
    val wcp = epochWeightsCp
      .foldRight(lit(0): org.apache.spark.sql.Column) { case ((l, w), rhs) =>
        when(col("lang") === l, lit(w)).otherwise(rhs)
      }
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_toks"),
        wcp.cast("long").as("wcp"))
      .withColumn("full", (col("wcp") / lit(100L)).cast("long"))
      .select(col("lang"), col("doc_id"), col("n_toks"), col("full"),
        ((col("wcp") % 100L) * 100L).as("frac_bp"),
        explode(sequence(lit(0L), col("full"))).as("epoch"))
      .filter(col("epoch") < col("full") ||
        graft.ops.Splits.sampleKeep(col("doc_id"), col("frac_bp"), "epoch"))
      .groupBy("lang", "epoch")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
  }

  /** Corpus-SELF exact-substring duplication spans
    * ([[graft.ops.Decontaminate.selfHitSpans]]): every 4-token window
    * occurring in ≥2 distinct documents, reported as merged excisable
    * spans in every document except the owning (minimum-id) one — the
    * distributed restatement of suffix-array substring dedup (Lee et
    * al. 2022). No pair join: gram stats are one map-side-combinable
    * aggregation and positions re-join keyed by the gram, so candidate
    * volume is LINEAR in corpus positions (Σ occurrences of duplicated
    * grams), not Σ df² — the property that keeps self-substring-dedup
    * tractable at 100 TB.
    */
  val q83SelfdedupSpans: Q = (s, d) =>
    graft.ops.Decontaminate.selfHitSpans(
      Tables.documents(s, d), "text", "doc_id", n = 4)
      .withColumnRenamed("id", "doc_id")

  /** SemDeDup cluster-scoped semantic near-dup pairs
    * ([[graft.ops.Dedup.semanticNearDup]]) at q50's threshold: the
    * k-means cells of the session-cached IVF quantizer prune the pair
    * space by the data's own structure instead of a grid or random
    * projections. Engine-fitted quantizer → rows-only gate; no false
    * positives by construction (exact-cosine verify); recall vs q50's
    * exact grid join is pinned ≥0.8 in DedupSpec on a CLUSTERED corpus
    * (where SemDeDup's assumption holds — its paper operates at
    * sim≳0.9 on web-scale clusters). On this bench corpus the
    * embeddings are unclustered and the strongest pair sits at 0.51,
    * so at the 0.35 threshold cell-boundary misses are expected
    * (~0.35 recall at sf0.01) — that is the documented trade the
    * cluster pruning makes; q50/q51 remain the exact/LSH paths.
    */
  val q84SemanticNearDup: Q = (s, d) =>
    Dedup.semanticNearDup(
      Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)

  /** SemDeDup under the FULL driver oracle gate ([[graft.ops.Dedup
    * .semanticNearDup]] `seedQuantizer = 16`): the quantizer is pinned
    * to a SQL-replayable rule — cells are argmin-L2 over the corpus's
    * first 16 vectors by id, ties to the lower centroid — so DuckDB
    * recomputes cell assignment, 2-probe inflation, within-cell pair
    * generation and the exact-cosine verify bit-for-bit (the
    * q26/q27/q70 md5-replay pattern applied to cluster scoping).
    * The ENGINE side still runs the real plan: multi-probe assignment,
    * Σ|cell|²/2 pre-flight guard, skew-blocked triangle join, canonical
    * pair dedup. q84's fitted k-means quantizer stays the production
    * path; this gates its machinery.
    *
    * GATE-SCALE configuration by design: a static SQL oracle can't
    * scale the seed count, so k is pinned at 16 — at audit scales
    * (100×: 200k vectors / 16 cells) the Σ|cell|²/2 pre-flight guard
    * REFUSES the quadratic launch (verified at the round-11 100×
    * audit: predicted 5.0B > 4.0B cap — the guard wiring through the
    * seeded path is itself the evidence). q84's occupancy-scaled
    * quantizer is the path that runs at scale.
    */
  val q84bSemanticNearDupPortable: Q = (s, d) =>
    Dedup.semanticNearDup(
      Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35,
      seedQuantizer = 16)

  /** LENGTH-BUCKETED batch assembly: sequences are grouped into
    * token-length buckets (`ceil(n/32)`) and batched 16-at-a-time
    * within each bucket in deterministic doc-id order — the
    * variable-length batching every trainer runs to cut padding waste
    * (batch cost is `max_len · batch_size`; mixing a 500-token doc
    * with 30-token docs pads 94% of the batch away). The within-bucket
    * global rank is [[graft.ops.Packing.startOffsets]] with weight 1 —
    * the same two-level distributed prefix sum as q74, because
    * `row_number() OVER (PARTITION BY bucket)` is one-task-per-bucket
    * at corpus scale and a handful of buckets span the whole corpus.
    * Output: the per-(bucket, batch) manifest including the padding
    * waste the bucketing is buying down.
    */
  val q85BucketedBatches: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_toks"))
      .withColumn("bucket", ceil(col("n_toks") / lit(32.0)).cast("long"))
      .withColumn("one", lit(1L))
    graft.ops.Packing
      .startOffsetsAuto(docs, "bucket", "doc_id", "one")
      .withColumn("batch", (col("start_offset") / lit(16L)).cast("long"))
      .groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("n_seqs"),
        max("n_toks").as("max_toks"),
        sum("n_toks").as("n_tokens"),
        (max("n_toks") * count(lit(1)) - sum("n_toks")).as("padding_waste"))
  }

  /** The END-TO-END training-data capstone — curation through batch
    * layout as ONE query, the composition a real pretraining run
    * executes nightly: q81's curation (quality → repetition →
    * fingerprint dedup) → q67's reproducible split → q74's offset
    * packing per (lang, split) stratum, landing on the number a
    * trainer actually schedules against: how many `budget`-token
    * sequences each (lang, split) cell yields. Every stage is the
    * already-gated operator; the packing stratum is the (lang, split)
    * CELL, so val/test sequences never interleave train documents.
    * Scale shape: the curation stages are per-row, dedup is one hash
    * shuffle, and the packing is the two-level distributed prefix sum
    * — nothing in the chain holds more than a shard span of one
    * stratum in a task.
    */
  val q86TrainPipeline: Q = (s, d) => {
    val kept = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        TextAnalytics.qualityScore(col("text")).as("quality"),
        TextAnalytics.repetitionStats(
          TextAnalytics.tokens(col("text"))).as("r"))
      .filter(col("quality") >= 0.48 &&
        col("r.dup_tok_frac") <= 0.60 && col("r.dup_3gram_frac") <= 0.05)
      .select(col("doc_id"), col("lang"),
        TextAnalytics.fingerprint(col("text")).as("fp"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_toks"))
      .transform(graft.core.StagingScope.stage(_))
    val canon = Dedup.exact(kept, "fp", "doc_id")
    val deduped = kept
      .join(canon, kept("doc_id") === canon("canonical_id"))
      .withColumn("split", graft.ops.Splits.splitLabel(
        col("doc_id"), Seq("train" -> 90, "val" -> 95), "test"))
      .withColumn("stratum", concat_ws("|", col("lang"), col("split")))
      .select("stratum", "lang", "split", "doc_id", "n_toks")
      // TWO downstream jobs read this frame — packByOffsetAuto's span
      // aggregate, then the prefix sum itself; staged so the dedup
      // join+groupBy runs once, not once per job. Narrow (5 scalar
      // cols), so the pinned blocks are small at any audit scale.
      .transform(graft.core.StagingScope.stage(_))
    graft.ops.Packing
      .packByOffsetAuto(deduped, "stratum", "doc_id", "n_toks",
        budget = 512L)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        countDistinct(col("seq_id")).as("n_seqs"))
  }

  /** DETERMINISTIC corpus shuffle — the training-order permutation
    * every epoch needs, as a reproducible RANK per document rather
    * than RNG state: order by a salted stable hash (salt `"shuffle"`,
    * independent of the split/sample/epoch decisions like all the
    * engine's salted hashes), made collision-proof by packing
    * `(hash28 << 32) | doc_id` into one 60-bit order key. The global
    * rank materializes WITHOUT a global sort or one-task window:
    * the hash key spreads uniformly over its 60-bit domain, and
    * [[graft.ops.Packing.startOffsetsAuto]]'s two-level prefix sum
    * (weight 1, ~sqrt(n) shards derived from the corpus count — a
    * fixed span would freeze the shard count at authoring-time scale)
    * turns per-shard counts into exact global positions — hash
    * exchanges only, no range partitioning, no driver collect.
    * Precondition doc_id < 2³² (asserted by the packing arithmetic
    * staying in 60 bits). Resumability: a trainer restarts mid-epoch
    * by filtering `shuffle_rank >= k` — the permutation is a pure
    * function of (id, salt).
    */
  val q87CorpusShuffle: Q = (s, d) => {
    val h = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":shuffle"))), 1, 7), 16, 10).cast("long")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        (h * lit(4294967296L) + col("doc_id")).as("ord"))
      .withColumn("g", lit(0))
      .withColumn("one", lit(1L))
    graft.ops.Packing
      .startOffsetsAuto(docs, "g", "ord", "one")
      .select(col("doc_id"), col("start_offset").as("shuffle_rank"))
  }

  /** PII redaction ([[graft.functions.Redaction]]): scrub emails, IPv4
    * addresses, and phone numbers from document text and publish the
    * per-doc audit counts plus the scrubbed text's md5. The synthetic
    * corpus carries no PII, so the query INJECTS deterministic
    * PII-shaped tokens derived from doc_id — built by the identical
    * `||`-concatenation in the oracle, so the gate tests the REDACTION
    * semantics (pattern matching + replacement order) across engines,
    * not the injection. Per-row, shuffle-free, codegen regex — scan
    * speed at any corpus size.
    */
  val q88PiiRedact: Q = (s, d) => {
    import graft.functions.Redaction
    val aug = Tables.documents(s, d).select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact doc"), col("doc_id").cast("string"),
        lit("@example.com at 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"), lit(" call 555-"),
        lpad((col("doc_id") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
    aug.select(
      col("doc_id"),
      Redaction.emailCount(col("t")).cast("long").as("n_email"),
      Redaction.ipv4Count(col("t")).cast("long").as("n_ipv4"),
      Redaction.phoneCount(col("t")).cast("long").as("n_phone"),
      md5(Redaction.redact(col("t"))).as("redacted_md5"))
  }

  /** Classifier-evaluation AUC ([[graft.ops.Eval.binaryAuc]]): the
    * tie-averaged Mann-Whitney ROC-AUC of the q19 quality score
    * (fixed-point integer form) against a binary label (`lang = 'en'`
    * as the demo target — the NUMBER is what the gate checks, not the
    * model's merit), with ranks computed by the two-level distributed
    * prefix sum — no global sort, no one-task window — and the rank
    * sum folded in exact integer space. The published `auc_ppm` is
    * ⌊AUC·10⁶⌋: one floating division on exact integers, floor-scaled
    * so no round-half tie can split the engines.
    */
  val q89QualityAuc: Q = (s, d) =>
    graft.ops.Eval.binaryAuc(
      Tables.documents(s, d).select(
        TextAnalytics.qualityScoreScaled(col("text")).as("score"),
        (col("lang") === "en").cast("long").as("pos")),
      "score", "pos")

  /** The q90 decomposed-sequence probes, ONE source of truth for both
    * engines (Spark literals and the interpolated oracle SQL): café /
    * über / mañana with the accent carried as a COMBINING mark
    * (U+0301/U+0308/U+0303) that NFC must compose. All three target
    * precomposed codepoints frozen by Unicode's normalization
    * stability policy, so JDK and utf8proc agree byte-for-byte.
    */
  private val nfcProbes = Seq(" cafe\u0301", " u\u0308ber", " man\u0303ana")

  /** Unicode NFC normalization + full text cleanup
    * ([[graft.functions.TextNormalize]]): the canonicalization step
    * that runs before tokenization/dedup/decontamination in any real
    * corpus pipeline. The synthetic corpus is pure ASCII (NFC no-op,
    * exercising the kernel's no-allocation fast path), so the query
    * injects decomposed accent sequences chosen by doc_id — built by
    * the identical concatenation in the oracle — and gates the
    * composed bytes (md5), the changed flag, and the codepoint-count
    * contraction cross-engine; a quarter of the rows stay uninjected
    * to pin the ASCII identity path. Per-row, shuffle-free, native
    * codegen.
    */
  val q90Normalize: Q = (s, d) => {
    import graft.functions.TextNormalize
    val m = pmod(col("doc_id"), lit(4))
    val aug = Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"),
        when(m === 0, lit(nfcProbes(0)))
          .when(m === 1, lit(nfcProbes(1)))
          .when(m === 2, lit(nfcProbes(2)))
          .otherwise(lit(""))).as("t"))
    val norm = TextNormalize.nfc(col("t"))
    aug.select(
      col("doc_id"),
      (norm =!= col("t")).as("changed"),
      length(col("t")).cast("long").as("n_before"),
      length(norm).cast("long").as("n_after"),
      md5(norm).as("norm_md5"),
      md5(TextNormalize.cleanText(col("t"))).as("clean_md5"))
  }

  /** Bloom-prefiltered decontamination ([[graft.ops.Decontaminate
    * .bloomOverlap]]): the q64 n-gram screen re-planned for the 100 TB
    * corpus — the benchmark gram set is sketched into one broadcast
    * Bloom bitset and the training-side explode drops non-candidate
    * grams INSIDE the scan stage, so the gram exchange carries hits +
    * false positives instead of the whole token stream; an exact
    * verify join then removes the false positives, making the output
    * bit-identical to the plain screen by construction. Gated on its
    * own split (every 10th doc, 3-grams) so q64 and q91 are
    * independent oracle rows.
    */
  val q91DecontaminateBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.Decontaminate.bloomOverlap(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "text", "doc_id", n = 3,
      // the gate must exercise the SKETCH machinery at every SF; at
      // sf0.01 the tiny bench would otherwise self-route to the plain
      // screen (same rows — the routing is a cost call, not semantics)
      delegateBytes = 0L)
      .withColumnRenamed("id", "doc_id")
  }

  /** Exact corpus heavy hitters ([[graft.ops.HeavyHitters]]): every
    * token BIGRAM occurring at least once per 1000 bigram occurrences,
    * with its exact count — candidates from one merged Misra-Gries
    * sketch (k = 1001 counters, one k-entry summary per partition on
    * the wire instead of the vocabulary), then an exact scan-stage
    * verify, so the output is exact and layout-independent while the
    * shuffle stays O(k·P) at any corpus size. Bigrams (not unigrams)
    * because the synthetic corpus's 31-word vocabulary makes every
    * unigram a hitter — the 916-bigram distribution actually splits
    * at the 1/1000 threshold.
    */
  val q92HeavyHitters: Q = (s, d) => {
    val terms = Tables.documents(s, d).select(
      explode(graft.functions.Shingling.orderedShingles(
        TextAnalytics.tokens(col("text")), 2)).as("term"))
    graft.ops.HeavyHitters.heavyHitters(terms, "term", denom = 1000L)
  }

  /** Exact corpus length quantiles ([[graft.ops.Quantiles]]): the
    * p10/p25/p50/p75/p90/p99 of the per-document token count, exact
    * and sort-free — distinct-value collapse + the two-level
    * distributed prefix sum, with each fraction resolved to an
    * integer target rank so no floating arithmetic touches the
    * result. The numbers a filter stage turns into "drop below p10 /
    * cap at p99" thresholds.
    */
  val q93LengthQuantiles: Q = (s, d) =>
    graft.ops.Quantiles.exactQuantiles(
      Tables.documents(s, d).select(
        greatest(coalesce(size(TextAnalytics.tokens(col("text"))), lit(0)),
          lit(0)).cast("long").as("n_tokens")),
      "n_tokens",
      Seq(10L -> 100L, 25L -> 100L, 50L -> 100L,
        75L -> 100L, 90L -> 100L, 99L -> 100L))

  /** Leakage-safe splitting: q67's deterministic md5 split assigns by
    * DOCUMENT, so two near-duplicates can land in train and test —
    * the classic evaluation-leakage hole near-dup detection exists to
    * close. Here the q53 near-dup components supply a group id (each
    * doc's component representative; singletons are their own group)
    * and [[graft.ops.Splits.splitLabel]] hashes the GROUP, so an
    * entire near-dup cluster moves to one split atomically — same
    * stable-hash reproducibility, zero straddle by construction.
    */
  val q94LeakSafeSplit: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val comps = graft.ops.Components.components(
      Dedup.ngramJaccardPairs(
        docs, "text", "doc_id",
        blockCol = "lang", shingleN = 2, threshold = 0.5)
        .select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("group_id"))
      .withColumn("split",
        graft.ops.Splits.splitLabel(
          col("group_id"), Seq("train" -> 90, "val" -> 95), "test"))
  }

  /** Near-dup-graph PageRank ([[graft.ops.PageRank]]): link-style
    * centrality over the symmetrized q53 near-dup pair graph — high
    * rank marks template/boilerplate hubs (docs similar to MANY
    * others), the Common-Crawl-lineage signal for demoting
    * machine-generated filler. 5 fixed iterations, all arithmetic in
    * exact scaled integers (`div`, no floats), so the mass vector is
    * bit-identical across engines and partitionings; the oracle
    * unrolls the same 5 steps as chained CTEs. Isolated docs sit at
    * exactly the base mass.
    */
  val q95NearDupPageRank: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // pair-sized; the symmetrizing union reads it twice and PageRank's
    // degree + edge tables read the union twice more — materialize the
    // PPJoin verify DAG once instead of up to four times
    val pairs = Dedup.ngramJaccardPairs(
      docs, "text", "doc_id",
      blockCol = "lang", shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b")
      .transform(graft.core.StagingScope.stage(_))
    val edges = pairs.unionAll(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    graft.ops.PageRank.pageRank(
      docs.select("doc_id"), edges, "id_a", "id_b", iterations = 5)
      .withColumnRenamed("node", "doc_id")
      .withColumnRenamed("rank", "rank_scaled")
  }

  /** Hard-negative mining ([[graft.ops.Similarity
    * .cosineTopKExcluding]]): for each query embedding, the 5 most
    * similar corpus vectors excluding the query's own near-dup
    * component (q50 exact pairs → q53 components) — the contrastive-
    * training negative sampler that never hands a disguised positive
    * to the loss. Exclusion precedes the rank window, so the output
    * is the true top-5 of the eligible set.
    */
  val q96HardNegatives: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val comps = graft.ops.Components.components(
      Dedup.embeddingNearDupExact(
        emb, "vec_id", "embedding", threshold = 0.35)
        .select("id_a", "id_b"))
    Similarity.cosineTopKExcluding(
      emb, emb.filter(col("vec_id") < 20), comps,
      "vec_id", "id", "component", "embedding", k = 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("sim"))
  }

  /** Sharded inverted index ([[graft.ops.InvertedIndex]]): term →
    * positional posting lists over the corpus, sharded by doc-id span
    * so no output row aggregates more than `shardSpan` documents
    * regardless of a term's document frequency (the stopword-row OOM
    * is unconstructible). Postings ride as an engine-portable md5
    * digest of the canonical `doc:pos,...` serialization, replayed
    * byte-for-byte by the oracle.
    */
  val q97InvertedIndex: Q = (s, d) =>
    graft.ops.InvertedIndex.postingShards(
      Tables.documents(s, d), "text", "doc_id", shardSpan = 100L)

  /** Watermarked windowed aggregation, streamed ([[graft.streaming
    * .EventStreams.windowedTypeCounts]]) — the canonical Structured
    * Streaming primitive (event-time window + watermark + append
    * emission) run to completion over the bounded events table and
    * gated against q31's batch hour-binning oracle VERBATIM. One
    * sentinel 2h past the max stamp pushes the watermark beyond every
    * real window's end so append mode emits them all; the sentinel's
    * own window never emits (the watermark cannot pass the last
    * event's window), so no post-filter is needed.
    */
  val q98WindowStream: Q = (s, d) => {
    import graft.streaming.{EventStreams, StreamGate}
    val maxNs = StreamGate.maxEventNs(s, d)
    val dir = StreamGate.stageEvents(s, d, Seq(maxNs + 7200L * 1000000000L))
    val counts = EventStreams.windowedTypeCounts(
      StreamGate.streamEvents(s, dir).toDF())
    StreamGate.runAvailableNow(counts)
      .select(expr("unix_micros(window_start) div 3600000000").as("bucket"),
        col("event_type"), col("n_events"))
  }

  /** Corpus snapshot diff ([[graft.ops.SnapshotDiff]]): the version
    * audit between two corpus releases — added/removed/changed/
    * unchanged per doc with content digests — simulated here as two
    * overlapping slices of the documents table with an 11-periodic
    * text edit. One full-outer id join; the `added ∪ changed` slice
    * is what an incremental re-screen consumes.
    */
  val q99SnapshotDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.ops.SnapshotDiff.diff(v1, v2, "doc_id", Seq("text", "lang"))
      .withColumnRenamed("id", "doc_id")
  }

  /** Incremental decontamination — the capstone the q99 diff exists
    * for: between corpus versions, re-screen ONLY the added∪changed
    * documents and CARRY the previous round's rows for unchanged ones
    * (valid because the benchmark set is fixed across versions — the
    * per-doc screen is a pure function of (doc text, benchmark), so an
    * unchanged digest implies an unchanged result). At 100 TB with a
    * ~1% daily churn this turns a corpus-sized screen into a
    * churn-sized one. The ORACLE IS THE EQUIVALENCE PROOF: it replays
    * the FULL screen over v2 — the incremental result must be
    * hash-identical to recomputing everything.
    */
  val q100IncrementalDecontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = docs.where(col("doc_id") % 20 === 0) // fixed benchmark
    val pool = docs.where(col("doc_id") % 20 =!= 0)
    val v1 = pool.where(col("doc_id") % 7 =!= 0)
    val v2 = pool.where(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    // the previous round's artifact (in production: read back, not
    // recomputed — recomputed here so the query is self-contained)
    val prior = graft.ops.Decontaminate.ngramOverlap(
      v1, bench, "text", "doc_id", n = 4)
    // churn-sized; both the carry semi-join and the re-screen slice
    // consume it — one diff scan of the two versions instead of two
    val delta = graft.ops.SnapshotDiff.diff(
      v1, v2, "doc_id", Seq("text")).withColumnRenamed("id", "doc_id")
      .transform(graft.core.StagingScope.stage(_))
    val carried = prior.withColumnRenamed("id", "doc_id")
      .join(delta.where(col("status") === "unchanged").select("doc_id"),
        Seq("doc_id"), "left_semi")
    val rescreen = graft.ops.Decontaminate.ngramOverlap(
      v2.join(delta.where(col("status").isin("added", "changed"))
        .select("doc_id"), Seq("doc_id"), "left_semi"),
      bench, "text", "doc_id", n = 4)
      .withColumnRenamed("id", "doc_id")
    carried.unionByName(rescreen)
  }

  /** Per-doc percentile rank ([[graft.ops.Quantiles.percentileRanks]]):
    * every document's exact position in the token-count distribution
    * as SQL `percent_rank` in integer ppm — the per-row complement of
    * q93's thresholds ("drop everything below p10" needs the
    * thresholds; "weight by length percentile" needs this). Rank via
    * the distributed prefix sum + a value-keyed re-join; no global
    * sort, no one-task window.
    */
  val q101PercentileRank: Q = (s, d) =>
    graft.ops.Quantiles.percentileRanks(
      Tables.documents(s, d).select(col("doc_id"),
        greatest(coalesce(size(TextAnalytics.tokens(col("text"))), lit(0)),
          lit(0)).cast("long").as("n_tokens")),
      "n_tokens")

  /** Alignment kernels ([[graft.functions.Genomics]]): CIGAR
    * expansion + percent identity — the reference's gene-tree leaf
    * decoration (`search/genetree_adder.js:8-78`) — driver-gated over
    * doc_id-derived synthetic alignments (the q88 injection pattern):
    * per doc, two md5-hex "sequences" and run-length cigars built
    * from doc_id arithmetic (including bare-letter runs, which parse
    * as run 1); every 13th doc carries a malformed cigar and every
    * 13th+1 a sequence-exhausting one, pinning both null branches.
    * The oracle reconstructs the expansion from first principles
    * (substr/repeat) and replays the identity count per character.
    * `pct_id_64k = round(pct·2¹⁶)`: with ≤ 32 compared positions the
    * true value m·2¹⁶/t is never at a rounding tie (t's odd part
    * cannot divide a pure power of two), so the one float multiply
    * cannot split the engines. Per-row, shuffle-free, whole-stage
    * codegen end to end.
    */
  val q102GenomicsAlign: Q = (s, d) => {
    import graft.functions.Genomics
    val id = col("doc_id")
    val a = (id % 7 + 1).cast("int")
    val b = (id % 3 + 1).cast("int")
    val c = (id % 5 + 1).cast("int")
    val cigarA = when(id % 13 === 0, lit("3MXQ")) // malformed: X
      .when(id % 13 === 1, lit("40M")) // exhausts the 32-char sequence
      .otherwise(concat(a.cast("string"), lit("M"), b.cast("string"),
        lit("DM"), (lit(15) - a).cast("string"), lit("M")))
    val cigarB = concat(c.cast("string"), lit("MD"),
      (lit(16) - c).cast("string"), lit("M"))
    val sa = md5(concat(id.cast("string"), lit(":ga")))
    val sb = md5(concat(id.cast("string"), lit(":gb")))
    val e1 = Genomics.cigarExpand(cigarA, sa)
    val e2 = Genomics.cigarExpand(cigarB, sb)
    Tables.documents(s, d).select(
      id.as("doc_id"),
      md5(e1).as("exp_a_md5"),
      md5(e2).as("exp_b_md5"),
      round(Genomics.percentIdentity(e1, e2) * lit(65536.0))
        .cast("long").as("pct_id_64k"))
  }

  /** BM25 retrieval over the wide-vocabulary corpus
    * ([[graft.ops.Bm25]] + [[Tables.documentsWide]]): top-10 docs per
    * query (first-5-token queries from docs 0–7), every arithmetic
    * step integer — idf through the pure-integer fixed-point log
    * ([[graft.functions.FixedLog]]), length normalization and tf
    * saturation as exact scaled rationals — so the oracle replays the
    * SCORE bit-for-bit (the log as a 20-step recursive CTE of shifts
    * and multiplies). Gated on the wide corpus deliberately: the
    * 31-word driver vocabulary would make every doc a candidate for
    * every query; the 16k Zipfian vocabulary puts df/idf and
    * candidate selectivity in realistic regimes.
    */
  val q103Bm25: Q = (s, d) => {
    val wide = Tables.documentsWide(s, d)
    val queries = wide.where(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalytics.tokens(col("text")), 1, 5).as("terms"))
    graft.ops.Bm25.bm25TopK(
      wide, queries, "text", "doc_id", "query_id", "terms", k = 10)
  }

  /** Incremental NEAR-DUP decontamination across snapshots — the op a
    * 100 TB corpus re-runs nightly, composing the q99 diff with the
    * q70 MinHash screen exactly the way q100 composed it with the
    * exact n-gram screen: probe ONLY added∪changed docs against the
    * benchmark's banded index, CARRY the prior round's verdicts for
    * unchanged docs (valid because the screen is a pure per-doc
    * function of (text, benchmark) and the benchmark is fixed across
    * versions). The screen's md5-60-bit signatures make THE ORACLE THE
    * EQUIVALENCE PROOF: it replays the FULL MinHash+LSH+verify screen
    * over all of v2 — the incremental union must be hash-identical to
    * recomputing everything.
    */
  val q105IncrementalNearDup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = docs.where(col("doc_id") % 20 === 0)
    val pool = docs.where(col("doc_id") % 20 =!= 0)
    val v1 = pool.where(col("doc_id") % 7 =!= 0)
    val v2 = pool.where(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    def screen(train: org.apache.spark.sql.DataFrame) =
      graft.ops.Decontaminate.minHashScreen(
        train, bench, "text", "doc_id", shingleN = 2, bands = 8,
        rowsPerBand = 4, threshold = 0.5)
        .withColumnRenamed("id", "doc_id")
    // the previous round's artifact (in production: read back, not
    // recomputed — recomputed here so the query is self-contained)
    val prior = screen(v1)
    // churn-sized; both the carry semi-join and the re-screen slice
    // consume it — one diff scan of the two versions instead of two
    val delta = graft.ops.SnapshotDiff.diff(
      v1, v2, "doc_id", Seq("text")).withColumnRenamed("id", "doc_id")
      .transform(graft.core.StagingScope.stage(_))
    val carried = prior.join(
      delta.where(col("status") === "unchanged").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val rescreen = screen(
      v2.join(delta.where(col("status").isin("added", "changed"))
        .select("doc_id"), Seq("doc_id"), "left_semi"))
    carried.unionByName(rescreen)
  }

  /** Streaming exact heavy hitters ([[graft.streaming
    * .StreamHeavyHitters]]): q92's bigram heavy hitters with the
    * Misra-Gries candidate summaries held in `flatMapGroupsWithState`
    * state across document micro-batches — terms sprayed by hash into
    * 8 state groups (a term's mass lands in one group, so the batch
    * completeness bound holds per group), state bounded at
    * groups × (denom+1) counters forever, exact verify as one bounded
    * batch pass after the stream drains. On bounded input the answer
    * must equal batch q92 verbatim — q92's oracle gates both forms.
    */
  val q104HeavyHittersStream: Q = (s, d) =>
    graft.streaming.StreamHeavyHitters.heavyHittersAvailableNow(
      s, d, denom = 1000L, groups = 8, slices = 4)

  /** The q91 Bloom-prefiltered decontamination re-gated on the
    * wide-vocabulary corpus ([[Tables.documentsWide]]) — the driver
    * corpus's 31-word vocabulary put the %10 split at 61% gram-hit
    * selectivity (three orders off real benchmarks, adversarial to
    * any prefilter); the 16k Zipfian vocabulary puts the screen in
    * the sub-1% regime the sketch exists for. Sketch forced at gate
    * SF exactly as in q91.
    */
  val q106DecontaminateWide: Q = (s, d) => {
    val docs = Tables.documentsWide(s, d)
    graft.ops.Decontaminate.bloomOverlap(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "text", "doc_id", n = 3,
      delegateBytes = 0L)
      .withColumnRenamed("id", "doc_id")
  }

  /** q92's exact heavy hitters re-gated on the wide corpus — and on
    * UNIGRAMS, which the Zipf octaves make meaningful (the driver
    * corpus's every unigram is a hitter): band-0 terms clear the
    * 1/1000 threshold, deep-band terms don't, so the MG candidate
    * machinery works a realistic frequency split.
    */
  val q107HeavyHittersWide: Q = (s, d) =>
    graft.ops.HeavyHitters.heavyHitters(
      Tables.documentsWide(s, d).select(
        explode(TextAnalytics.tokens(col("text"))).as("term")),
      "term", denom = 1000L)

  /** q77's vocabulary build re-gated on the wide corpus: top-50 terms
    * by (occurrences desc, token) over a 16k-term Zipfian vocabulary —
    * the cut now discards a real tail instead of keeping everything.
    */
  val q108VocabWide: Q = (s, d) =>
    Tables.documentsWide(s, d)
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(50)

  /** Compressed posting shards ([[graft.ops.InvertedIndex
    * .postingShardsCompressed]]): q97's index with the payload
    * delta+varint encoded ([[graft.functions.Varint]]) — the exact
    * bytes are replayed by the oracle (LEB128 is shifts + hex
    * printf), so the compressed artifact is hash-gated, and both
    * payload sizes ride along so the ratio (≈4.5× on this corpus) is
    * measurable straight from the gated rows at any SF.
    */
  val q109PostingsCompressed: Q = (s, d) =>
    graft.ops.InvertedIndex.postingShardsCompressed(
      Tables.documents(s, d), "text", "doc_id", shardSpan = 100L)

  /** Positional phrase search ([[graft.ops.InvertedIndex
    * .phraseMatches]]): exact token-sequence matching over the corpus
    * — six phrases (doc 1's leading trigram as phrase 0, docs 1–5's
    * leading bigrams as phrases 1–5, collected driver-side: five
    * bounded rows), each resolved by posting-sized branches equi-
    * joined on (doc_id, re-based start) — the adjacency consumer the
    * positional index exists for. Oracle replays the sliding-window
    * match over the token lists with a nested list lambda.
    */
  val q110PhraseSearch: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val heads = docs.where(col("doc_id").between(1, 5))
      .select(col("doc_id"),
        slice(TextAnalytics.tokens(col("text")), 1, 3).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val phrases: Seq[(Long, Seq[String])] =
      (0L -> heads(1L).take(3)) +:
        (1L to 5L).map(i => i -> heads(i).take(2))
    // one corpus tokenize pass for ALL six phrases (the dictionary
    // kernel computes the identical per-phrase offset certificates);
    // the per-phrase union re-tokenized the corpus once per phrase
    import s.implicits._
    graft.ops.InvertedIndex.phraseTableMatches(
      docs, "text", "doc_id", phrases.toDF("phrase_id", "terms"))
  }

  /** Phrase search SERVED FROM THE COMPRESSED INDEX ([[graft.ops
    * .InvertedIndex.phraseMatchesFromPostings]]): the q110 queries
    * answered without touching document text — the LEB128 artifact is
    * built once (checkpointed: it IS the stored index, ~posting-sized),
    * the phrase terms' shards are decoded
    * ([[graft.functions.Varint.postingsDecode]]), and the same
    * (doc_id, start) adjacency join runs over the reconstructed
    * positions. Gated against q110's oracle VERBATIM — the driver
    * gate is the round-trip proof that the compressed artifact alone
    * answers queries.
    */
  val q111PhraseFromIndex: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val heads = docs.where(col("doc_id").between(1, 5))
      .select(col("doc_id"),
        slice(TextAnalytics.tokens(col("text")), 1, 3).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val phrases: Seq[(Long, Seq[String])] =
      (0L -> heads(1L).take(3)) +:
        (1L to 5L).map(i => i -> heads(i).take(2))
    val index = graft.ops.InvertedIndex
      .postingShardsBinary(docs, "text", "doc_id", shardSpan = 100L)
      .transform(graft.core.StagingScope.stage(_, eager = true))
    phrases.map { case (pid, p) =>
      graft.ops.InvertedIndex.phraseMatchesFromPostings(index, 100L, p)
        .select(lit(pid).as("phrase_id"), col("doc_id"), col("n_matches"))
    }.reduce(_ unionByName _)
  }

  /** Streaming BM25 serving ([[graft.streaming.StreamBm25]]): the
    * q103 queries arrive as hash-sliced micro-batches and score
    * against the once-built, pinned wide-corpus index — the
    * production serving shape, and the retrieval family's streaming
    * twin (q104:q92 :: q98:q31 :: this:q103). On bounded input the
    * accumulated answers must equal batch q103 verbatim — q103's
    * oracle gates both forms.
    */
  val q112Bm25Stream: Q = (s, d) =>
    graft.streaming.StreamBm25.bm25StreamAvailableNow(s, d, k = 10)

  /** DSIR-style data selection ([[graft.ops.Dsir]]): every raw-corpus
    * doc scored by the hashed-unigram log-likelihood ratio against a
    * target distribution (here the wide corpus — an arbitrary but
    * deterministic target; the SEMANTICS under gate are the
    * importance-scoring machinery), all in exact integers through the
    * fixed-point log, then kept at-or-above the MEDIAN per-token
    * score via [[graft.ops.Quantiles.exactQuantiles]] — the composed
    * select-half-the-corpus pipeline. Spark `div` and DuckDB `//`
    * both truncate toward zero, so the negative per-token averages
    * agree exactly (gate-pinned).
    */
  val q113DsirSelect: Q = (s, d) => {
    val scored = graft.ops.Dsir.importanceScores(
      Tables.documents(s, d), Tables.documentsWide(s, d),
      "text", "doc_id", buckets = 1024)
      .withColumn("avg_llr", expr("llr_scaled div greatest(n_tokens, 1L)"))
    val med = graft.ops.Quantiles
      .exactQuantiles(scored, "avg_llr", Seq(50L -> 100L))
      .head().getLong(2)
    scored.withColumn("keep", col("avg_llr") >= med)
  }

  /** BM25 FROM THE STORED ARTIFACT ([[graft.ops.Bm25
    * .buildIndexFromTf]] over [[graft.functions.Varint
    * .postingsDecode]]): the q103 queries answered without ever
    * touching document text — tf is the decoded position count, dl
    * and df re-aggregate from the postings themselves. With q111
    * (phrase) this closes the artifact story: the compressed index
    * alone serves BOTH retrieval access paths. Gated with q103's
    * oracle verbatim.
    */
  val q114Bm25FromIndex: Q = (s, d) => {
    val wide = Tables.documentsWide(s, d)
    val queries = wide.where(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalytics.tokens(col("text")), 1, 5).as("terms"))
    val artifact = graft.ops.InvertedIndex
      .postingShardsBinary(wide, "text", "doc_id", shardSpan = 100L)
    val tf = artifact.select(col("term"),
        explode(graft.functions.Varint.postingsDecode(
          col("bin"), col("shard") * lit(100L))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("term"),
        size(col("e.ps")).cast("long").as("tf"))
    graft.ops.Bm25.scoreTopK(
      graft.ops.Bm25.buildIndexFromTf(tf), queries, "query_id", "terms",
      k = 10)
  }

  /** Proximity search ([[graft.ops.InvertedIndex.proximityMatches]]):
    * doc 2's first two tokens within 4 positions of each other,
    * exact pair counts — positions band into window-sized buckets so
    * the per-doc pairing is a keyed (doc, bucket) equi-join, never a
    * position cross join. The oracle replays the pairing as a nested
    * list lambda (1-based positions; offsets cancel in |i−j|).
    */
  val q115ProximitySearch: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val ws = docs.where(col("doc_id") === 2)
      .select(slice(TextAnalytics.tokens(col("text")), 1, 2))
      .head().getSeq[String](0)
    graft.ops.InvertedIndex.proximityMatches(
      docs, "text", "doc_id", ws(0), ws(1), window = 4L)
  }

  /** Bigram-LM perplexity scoring ([[graft.ops.LmScore]]): every
    * non-benchmark doc's negative log-likelihood under an add-one
    * bigram LM trained on the %10 benchmark split — the CCNet-style
    * quality filter, in exact integers through the fixed-point log
    * (every log argument an integer: c₂+1 and c₁+V). The LM tables
    * join keyed (a web-scale bigram table shuffles on its key, never
    * broadcasts); avg_nll is the perplexity proxy a filter thresholds
    * on.
    */
  val q116LmPerplexity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ops.LmScore.bigramNll(
      docs.where(col("doc_id") % 10 === 0),
      docs.where(col("doc_id") % 10 =!= 0),
      "text", "doc_id")
  }

  /** Winnowed document fingerprints ([[graft.functions.TextAnalytics
    * .winnowedFingerprints]], Schleimer et al. 2003): the MOSS-style
    * local fingerprint set over the wide corpus — 3-gram md5 hashes,
    * window-4 minima, sorted distinct — the storage-reduced digest a
    * copy of any ≥6-token passage is guaranteed to collide with.
    * Per-row codegen HOFs; the oracle replays gram-hash, window-min
    * and the canonical join byte-for-byte.
    */
  val q117Winnowing: Q = (s, d) =>
    // fingerprints via the RELATIONAL kernel ([[graft.ops.Dedup
    // .winnowedFingerprintTable]] — one tokenize, lead-window hashes,
    // window minima), re-aggregated to the per-doc sorted set: over
    // the SYNTHESIZED wide text the per-row HOF kernel goes O(len³)
    // under projection collapse (870 s vs ~60 s at 100×); the oracle
    // is unchanged, so the gate pins the two forms equivalent
    graft.ops.Dedup.winnowedFingerprintTable(
        Tables.documentsWide(s, d), "text", "doc_id", 3, 4)
      .groupBy(col("id").as("doc_id"))
      .agg(sort_array(collect_set(col("fp"))).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fps"),
        md5(concat_ws(",", transform(col("fps"), _.cast("string"))))
          .as("fps_md5"))

  /** Incremental maintenance of the stored posting artifact
    * ([[graft.ops.InvertedIndex.incrementalShardsBinary]]): the v1
    * index (doc_id %7≠0) maintained to v2 (doc_id %5≠0, %11 docs
    * edited) by rebuilding ONLY churn-touched (term, shard) groups and
    * carrying every other artifact row byte-identical. The ORACLE IS
    * THE EQUIVALENCE PROOF (the q105 pattern applied to the index):
    * it replays the FULL compressed-artifact build over all of v2, so
    * the gate proves incremental ≡ from-scratch down to the LEB128
    * bytes. In production the v1 artifact is read back, not recomputed
    * (recomputed here so the query is self-contained).
    */
  val q118IncrementalIndex: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val prior = graft.ops.InvertedIndex
      .postingShardsBinary(v1, "text", "doc_id", shardSpan = 100L)
    graft.ops.InvertedIndex.compressedView(
      graft.ops.InvertedIndex.incrementalShardsBinary(
        prior, v1, v2, "text", "doc_id", shardSpan = 100L))
  }

  /** BPE merge-pair LEARNING ([[graft.ops.BpeLearn]]): six rounds of
    * count-pairs → argmax (ties pinned count desc, pair asc) →
    * leftmost-non-overlapping re-pair over the documents corpus — the
    * TRAINING side of the tokenizer (q52 gates the apply side). The
    * gate is on the learned MERGE TABLE, the artifact a tokenizer
    * ships; the oracle replays the six rounds as chained CTE stages,
    * with the non-overlap scan expressed as run-parity over match
    * flags (prototyped 4/4 against an independent replay, including
    * identical-symbol runs where naive replays double-merge).
    */
  val q119BpeLearn: Q = (s, d) =>
    graft.ops.BpeLearn.learnMerges(
      Tables.documents(s, d), "text", rounds = bpeGateRounds)

  /** The multilingual NFC fixture: 16 nibble-indexed strings covering
    * the normalizer's non-trivial branches end-to-end — composition
    * (e+◌́→é, c+◌̧→ç), singleton replacement (Å U+212B→U+00C5, Ω
    * U+2126→U+03A9), Hangul jamo composition (ᄀ+ᅡ→가, +ᆨ→각),
    * canonical mark REORDERING (both a+◌̣+◌́ orders → U+1EA1 U+0301),
    * already-composed identities, and an unpaired double mark.
    * Interpolated VERBATIM into the oracle SQL from this one Seq so
    * the two engines cannot drift; prototyped 200/200 identical
    * between utf8proc (DuckDB) and a Python unicodedata replay.
    */
  private val nfcFixture124: Seq[String] = Seq(
    "e\u0301", "\u00e9", "\u212b", "A\u030a",
    "\u1100\u1161", "\u1100\u1161\u11a8", "\uac00", "a\u0323\u0301",
    "a\u0301\u0323", "\u03a9", "\u2126", "ascii",
    "c\u0327", "\u00c7", "\u0131", "e\u0301\u0301")

  /** NFC re-gated on a WIDE-CHARSET token mix ([[graft.functions
    * .TextNormalize]]): q90 gates the kernel on ASCII-dominant text
    * with three Latin accent probes; this derives an 8-token
    * combining-mark/Hangul/singleton mix deterministically from
    * md5(doc_id) nibbles (the documentsWide pattern applied to
    * charset), so the composed/decomposed/reordering branches are
    * exercised END-TO-END through the parquet gate, not just in unit
    * tests — the JDK normalizer vs utf8proc, byte for byte.
    */
  val q124NormalizeMultilingual: Q = (s, d) => {
    import graft.functions.TextNormalize
    val fx = array(nfcFixture124.map(lit): _*)
    val h = md5(col("doc_id").cast("string"))
    val raw = concat_ws(" ", (1 to 8).map(i =>
      element_at(fx,
        conv(substring(h, i, 1), 16, 10).cast("int") + 1)): _*)
    Tables.documents(s, d).select(col("doc_id"), raw.as("t"))
      .select(
        col("doc_id"),
        (TextNormalize.nfc(col("t")) =!= col("t")).as("changed"),
        length(col("t")).cast("long").as("n_before"),
        length(TextNormalize.nfc(col("t"))).cast("long").as("n_after"),
        md5(TextNormalize.nfc(col("t"))).as("norm_md5"))
  }

  /** Phrase search re-gated on the WIDE corpus ([[Tables
    * .documentsWide]]): q110 gates the kernel on the 31-word driver
    * corpus where phrase selectivity is degenerate-high (the
    * q106–q108 lesson); here the 16,383-term Zipfian vocabulary puts
    * it in the realistic regime. Phrases are built from the
    * construction's GUARANTEED-frequent tokens (`w1` is the band-0
    * symbol ≈ 1/14 of all tokens, `w2` band-1 ≈ 1/28), including a
    * repeated-word phrase — frequent enough that matches exist,
    * selective enough that most docs don't match.
    */
  val q122PhraseWide: Q = (s, d) => {
    val docs = Tables.documentsWide(s, d)
    val phrases: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("w1", "w2"), 1L -> Seq("w2", "w1"),
      2L -> Seq("w1", "w1"), 3L -> Seq("w1", "w2", "w1"))
    // one corpus tokenize pass for all four phrases (the dictionary
    // kernel computes the identical per-phrase offset certificates)
    import s.implicits._
    graft.ops.InvertedIndex.phraseTableMatches(
      docs, "text", "doc_id", phrases.toDF("phrase_id", "terms"))
  }

  /** Proximity search re-gated on the WIDE corpus: `w1 NEAR/4 w2`
    * over the Zipfian vocabulary — band-0/band-1 tokens co-occur in
    * most docs but only some within the window, so the banding join
    * works a realistic middle selectivity instead of q115's
    * almost-every-doc regime.
    */
  val q123ProximityWide: Q = (s, d) =>
    graft.ops.InvertedIndex.proximityMatches(
      Tables.documentsWide(s, d), "text", "doc_id", "w1", "w2", window = 4L)

  /** Multi-phrase DICTIONARY matching ([[graft.ops.InvertedIndex
    * .phraseTableMatches]]): a six-phrase dictionary (mixed lengths,
    * incl. repeats) matched against the wide corpus in ONE tokenize
    * pass — the phrase table is data (a keyed join, no per-phrase
    * driver loop), the shape a 100k-phrase blocklist or gazetteer
    * needs. Oracle: the q122 sliding-window replay over all six
    * phrases.
    */
  val q125PhraseDictionary: Q = (s, d) => {
    import s.implicits._
    val dict = Seq(
      (0L, Seq("w1", "w2")), (1L, Seq("w2", "w1")),
      (2L, Seq("w1", "w1")), (3L, Seq("w1", "w2", "w1")),
      (4L, Seq("w2", "w2", "w1")), (5L, Seq("w1", "w3", "w1")))
      .toDF("phrase_id", "terms")
    graft.ops.InvertedIndex.phraseTableMatches(
      Tables.documentsWide(s, d), "text", "doc_id", dict)
  }

  /** Incremental heavy hitters across snapshots ([[graft.ops
    * .HeavyHitters.incrementalTermCounts]]): q92's bigram heavy
    * hitters served from an exact count artifact maintained v1→v2 —
    * only churn docs tokenize (old terms subtract, new terms add; MG
    * sketches can't subtract, so the exact table is the sound
    * incremental artifact). THE ORACLE IS THE EQUIVALENCE PROOF: it
    * recounts all of v2 from scratch, so the gate proves
    * carried-counts ∘ churn-delta ≡ full recount. Same v1/v2
    * construction as q118 (the index twin of this op).
    */
  val q121IncrementalHeavyHitters: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val v1 = docs.where(col("doc_id") % 7 =!= 0)
    val v2 = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    def terms(df: org.apache.spark.sql.DataFrame) = df.select(
      explode(graft.functions.Shingling.orderedShingles(
        TextAnalytics.tokens(col("text")), 2)).as("term"))
    // the v1 artifact (in production: read back, not recomputed)
    val prior = terms(v1).groupBy("term").agg(count(lit(1)).as("cnt"))
    graft.ops.HeavyHitters.heavyHittersFromCounts(
      graft.ops.HeavyHitters.incrementalTermCounts(
        prior, v1, v2, "doc_id", Seq("text"), terms),
      denom = 1000L)
  }

  /** Proximity search SERVED FROM THE COMPRESSED INDEX
    * ([[graft.ops.InvertedIndex.proximityMatchesFromPostings]]): the
    * q115 query answered from the LEB128 artifact alone — only the two
    * terms' shards decode (term pushdown before the decode), then the
    * same banding equi-join. Gated against q115's oracle VERBATIM,
    * closing the retrieval family's round-trip story: the artifact
    * alone now serves phrase (q111), BM25 (q114), and proximity.
    */
  val q120ProximityFromIndex: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val ws = docs.where(col("doc_id") === 2)
      .select(slice(TextAnalytics.tokens(col("text")), 1, 2))
      .head().getSeq[String](0)
    val index = graft.ops.InvertedIndex
      .postingShardsBinary(docs, "text", "doc_id", shardSpan = 100L)
    graft.ops.InvertedIndex.proximityMatchesFromPostings(
      index, 100L, ws(0), ws(1), window = 4L)
  }

  /** The multilingual token fixture for q126: 16 nibble-indexed tokens
    * across seven languages and five scripts (Latin en/fr/de/es words,
    * Cyrillic, Greek, precomposed Hangul, Han) plus one marker-free
    * filler. Interpolated VERBATIM into the oracle SQL (the q124
    * pattern) so the two engines vote over the identical text.
    */
  private val langTokens126: Seq[String] = Seq(
    "the", "and", "le", "les", "der", "das", "el", "que",
    "\u0438", "\u043d\u0435", "\u03ba\u03b1\u03b9", "\u03c4\u03bf",
    "\uc774", "\ub294", "\u7684", "zzz")

  /** The multilingual marker set: two (one for zh) marker tokens per
    * language, drawn from [[langTokens126]]; vote ties break to this
    * order (the [[graft.functions.TextAnalytics.langId]] contract).
    */
  private val langMarkers126: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and"),
    "fr" -> Seq("le", "les"),
    "de" -> Seq("der", "das"),
    "es" -> Seq("el", "que"),
    "ru" -> Seq("\u0438", "\u043d\u0435"),
    "el" -> Seq("\u03ba\u03b1\u03b9", "\u03c4\u03bf"),
    "ko" -> Seq("\uc774", "\ub294"),
    "zh" -> Seq("\u7684"))

  /** Language ID + script routing re-gated on a MULTILINGUAL mix
    * ([[graft.functions.TextAnalytics.langId]] /
    * [[graft.functions.TextAnalytics.scriptId]]): q20 gates the
    * stopword vote on ASCII-dominant synthetic text (the r15 verdict's
    * other half of item 8, next to q124's NFC); here an 8-token
    * seven-language mix derives deterministically from md5(doc_id)
    * nibbles, so the vote (including cross-language ties, broken by
    * marker order) and the per-SCRIPT character profile — the
    * writing-system routing stage of a multilingual pipeline — are
    * exercised end-to-end across Latin, Cyrillic, Greek, Hangul and
    * Han. Both kernels are pure per-row codegen (no shuffle); the
    * oracle rebuilds the identical text and replays vote and regexp
    * counts through RE2's form of the same character classes.
    */
  val q126LangMultilingual: Q = (s, d) => {
    import graft.functions.TextAnalytics
    val fx = array(langTokens126.map(lit): _*)
    val h = md5(col("doc_id").cast("string"))
    val raw = concat_ws(" ", (1 to 8).map(i =>
      element_at(fx,
        conv(substring(h, i, 1), 16, 10).cast("int") + 1)): _*)
    val counts = TextAnalytics.scriptCounts(raw)
      .map { case (name, c) => c.as(s"n_$name") }
    Tables.documents(s, d).select(
      (col("doc_id") +:
        TextAnalytics.langId(raw, langMarkers126).as("lang_pred") +:
        TextAnalytics.scriptId(raw).as("script_pred") +:
        counts): _*)
  }

  /** The nightly index pipeline END-TO-END: snapshot diff → patch only
    * churn-touched (term, shard) groups of the stored LEB128 artifact
    * ([[graft.ops.InvertedIndex.incrementalShardsBinary]], q118's
    * kernel on the WIDE corpus) → serve BM25 from the maintained
    * artifact alone ([[graft.ops.Bm25.buildIndexFromTf]] over the
    * decoded postings — corpus text never touched at query time). The
    * ORACLE IS THE EQUIVALENCE PROOF twice over: it replays the
    * from-scratch BM25 build over all of v2, so the gate proves
    * (incremental patch ∘ artifact-served scoring) ≡ (full rebuild ∘
    * corpus scoring) down to the exact integer scores. This is the
    * production loop a 100 TB corpus runs every refresh: churn-
    * proportional maintenance, then serving without the documents.
    */
  val q127IncrementalBm25: Q = (s, d) => {
    val wide = Tables.documentsWide(s, d)
    val v1 = wide.where(col("doc_id") % 7 =!= 0)
    val v2 = wide.where(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    // the v1 artifact (in production: read back, not recomputed)
    val prior = graft.ops.InvertedIndex
      .postingShardsBinary(v1, "text", "doc_id", shardSpan = 100L)
    val artifact = graft.ops.InvertedIndex.incrementalShardsBinary(
      prior, v1, v2, "text", "doc_id", shardSpan = 100L)
    val queries = wide.where(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalytics.tokens(col("text")), 1, 5).as("terms"))
    val tf = artifact.select(col("term"),
        explode(graft.functions.Varint.postingsDecode(
          col("bin"), col("shard") * lit(100L))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("term"),
        size(col("e.ps")).cast("long").as("tf"))
    graft.ops.Bm25.scoreTopK(
      graft.ops.Bm25.buildIndexFromTf(tf), queries, "query_id", "terms",
      k = 10)
  }

  /** The tokenizer pipeline END-TO-END ([[graft.ops.BpeLearn]] then
    * [[graft.functions.BpeMerge]]): learn the merge table from the
    * corpus (q119's kernel — the table is the artifact a tokenizer
    * ships), then APPLY the learned merges in round order to every
    * document (a bounded ≤-rounds-row collect of the table, then one
    * narrow map with the per-round merge kernels composed — q52 gates
    * the apply kernel against a FIXED table; this gates the
    * composition against a LEARNED one). The oracle's chained round
    * CTEs compute the post-merge corpus state as a byproduct of
    * learning, so one replay gates train-then-tokenize end-to-end:
    * per-doc symbol count + md5 over the merged sequence.
    */
  val q128BpeRoundtrip: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = graft.ops.BpeLearn
      .learnMerges(docs, "text", rounds = bpeGateRounds)
      .orderBy("round").collect() // bounded: at most bpeGateRounds rows
    val base = docs.select(
      col("doc_id"), TextAnalytics.tokens(col("text")).as("syms"))
    val applied = merges.foldLeft(base) { (df, m) =>
      df.withColumn("syms", graft.functions.BpeMerge.mergePair(
        col("syms"), lit(m.getString(1)), lit(m.getString(2))))
    }
    applied.select(col("doc_id"),
      size(col("syms")).cast("long").as("n_syms"),
      md5(concat_ws(" ", col("syms"))).as("syms_md5"))
  }

  /** Append-only index maintenance FROM THE ARTIFACT ALONE
    * ([[graft.ops.InvertedIndex.appendToShardsBinary]]): a third of
    * the corpus arrives as new documents and folds into the stored
    * LEB128 artifact by decode-merge-re-encode of only the touched
    * (term, shard) groups — the already-indexed corpus is never read
    * (the contrast with q118, which re-tokenizes dirty shards from the
    * document store). THE ORACLE IS THE EQUIVALENCE PROOF: q109's
    * full-build replay over ALL documents, so the gate proves
    * append ≡ from-scratch down to the payload bytes.
    */
  val q129IndexAppend: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val v1 = docs.where(col("doc_id") % 3 =!= 0)
    val added = docs.where(col("doc_id") % 3 === 0)
    // the prior artifact (in production: read back, not recomputed);
    // the append kernel consumes it three times (dirty-group semi,
    // decode semi, carry anti) — materialize the build once, like the
    // stored artifact it stands in for
    val prior = graft.ops.InvertedIndex
      .postingShardsBinary(v1, "text", "doc_id", shardSpan = 100L)
      .transform(graft.core.StagingScope.stage(_))
    graft.ops.InvertedIndex.compressedView(
      graft.ops.InvertedIndex.appendToShardsBinary(
        prior, added, "text", "doc_id", shardSpan = 100L))
  }

  /** Streaming index INGEST ([[graft.streaming.StreamIndexIngest]]):
    * the corpus arrives as hash-sliced micro-batches and folds
    * batch-by-batch into an initially-empty artifact via the q129
    * append kernel — the artifact is the only state carried between
    * batches. Gated against q109's oracle VERBATIM: the streamed fold
    * must reproduce the one-shot build byte-for-byte.
    */
  val q130IndexIngestStream: Q = (s, d) =>
    graft.streaming.StreamIndexIngest.ingestAvailableNow(s, d)

  /** Collocation mining by PMI ([[graft.ops.Collocations]], Church &
    * Hanks 1990) over the wide Zipfian corpus: top-50 bigrams with
    * support ≥ 5 by integer fixed-point PMI — the phrase-discovery /
    * tokenizer-vocabulary-candidate stage. The additive log
    * decomposition keeps every log argument a plain count, so the
    * score is overflow-free at any corpus size and the oracle replays
    * it exactly through the same integer-log CTE chain.
    */
  val q131PmiCollocations: Q = (s, d) =>
    graft.ops.Collocations.pmiTopK(
      Tables.documentsWide(s, d), "text", minCount = 5L, k = 50)

  /** Winnowing-fingerprint near-dup pair screen ([[graft.ops.Dedup
    * .winnowingPairs]]) — the JOIN consumer of q117's fingerprints
    * (MOSS's second half): every tenth wide doc gets a planted
    * near-copy (id + 10⁶, one appended token), and pairs sharing ≥ 3
    * kept fingerprints are exactly the planted twins — chance overlap
    * on this corpus maxes at 1 shared fingerprint (measured), so the
    * gate proves the screen finds every planted copy and nothing
    * else. Fingerprints with df > 50 elide (the stop-gram move;
    * df-bounded candidate volume), though no fingerprint comes close
    * here (max df 7 + the planted duplication).
    */
  val q132WinnowingPairs: Q = (s, d) => {
    val wide = Tables.documentsWide(s, d).select(col("doc_id"), col("text"))
    val planted = wide.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" zq")).as("text"))
    graft.ops.Dedup.winnowingPairs(
      wide.unionByName(planted), "text", "doc_id",
      k = 3, w = 4, maxDf = 50L, minShared = 3L)
  }

  // ---------------------------------------------------------------------

  val all: Map[String, Q] = Map(
    "q01_pricing_summary" -> q01PricingSummary,
    "q02_filter_pushdown" -> q02FilterPushdown,
    "q03_region_revenue" -> q03RegionRevenue,
    "q04_semi_join" -> q04SemiJoin,
    "q05_anti_join" -> q05AntiJoin,
    "q06_theta_self_join" -> q06ThetaSelfJoin,
    "q07_window_topk" -> q07WindowTopk,
    "q08_first_order" -> q08FirstOrder,
    "q09_event_gaps" -> q09EventGaps,
    "q10_sessionize" -> q10Sessionize,
    "q11_interval_join_keyed" -> q11IntervalJoinKeyed,
    "q12_interval_join_global" -> q12IntervalJoinGlobal,
    "q13_closure" -> q13Closure,
    "q14_subtree_rollup" -> q14SubtreeRollup,
    "q15_collect_sorted" -> q15CollectSorted,
    "q16_set_except" -> q16SetExcept,
    "q17_dedup_exact" -> q17DedupExact,
    "q18_token_stats" -> q18TokenStats,
    "q19_quality_score" -> q19QualityScore,
    "q20_lang_id" -> q20LangId,
    "q21_knn_cosine" -> q21KnnCosine,
    "q22_ngram_jaccard" -> q22NgramJaccard,
    "q23_fingerprint" -> q23Fingerprint,
    "q24_pivot_events" -> q24PivotEvents,
    "q25_top_priced" -> q25TopPriced,
    "q29_tree_stats" -> q29TreeStats,
    "q30_interval_merge" -> q30IntervalMerge,
    "q31_hour_bins" -> q31HourBins,
    "q32_rollup" -> q32Rollup,
    "q33_type_count_map" -> q33TypeCountMap,
    "q34_doc_assembly" -> q34DocAssembly,
    "q35_media_meta" -> q35MediaMeta,
    "q36_media_features" -> q36MediaFeatures,
    "q37_distinct_users" -> q37DistinctUsers,
    "q38_regex_extract" -> q38RegexExtract,
    "q39_asof_join" -> q39AsofJoin,
    "q40_interval_join_custom_plan" -> q40IntervalJoinCustomPlan,
    "q41_topk_aggregator" -> q41TopkAggregator,
    "q43_genetree_score" -> q43GenetreeScore,
    "q44_genetree_rep" -> q44GenetreeRep,
    "q45_domain_clusters" -> q45DomainClusters,
    "q46_domain_roots" -> q46DomainRoots,
    "q47_split_rescue" -> q47SplitRescue,
    "q48_foster_graft" -> q48FosterGraft,
    "q49_asof_custom_plan" -> q49AsofCustomPlan,
    "q50_embedding_neardup" -> q50EmbeddingNearDup,
    "q51_embedding_neardup_lsh" -> q51EmbeddingNearDupLsh,
    "q52_bpe_tokens" -> q52BpeTokens,
    "q53_dedup_components" -> q53DedupComponents,
    "q54_genes_pipeline" -> ((s, d) => graft.pipelines.GenesPipeline.run(s, d)),
    "q55_ivf_exact" -> q55IvfExact,
    "q56_media_decode" -> q56MediaDecode,
    "q57_apss_cosine" -> q57ApssCosine,
    "q58_audio_decode" -> q58AudioDecode,
    "q59_sessionize_stream" -> q59SessionizeStream,
    "q60_asof_stream" -> q60AsofStream,
    "q61_components_stream" -> q61ComponentsStream,
    "q66_decorate_stream" -> q66DecorateStream,
    "q73_decontaminate_stream" -> q73DecontaminateStream,
    "q73b_decontaminate_stream_portable" -> q73bDecontaminateStreamPortable,
    "q62_apss_probe" -> q62ApssProbe,
    "q63_apss_tfidf" -> q63ApssTfidf,
    "q64_decontaminate" -> q64Decontaminate,
    "q68_decontaminate_spans" -> q68DecontaminateSpans,
    "q69_decontaminate_jaccard" -> q69DecontaminateJaccard,
    "q71_excise_spans" -> q71ExciseSpans,
    "q72_decontam_pipeline" -> q72DecontamPipeline,
    "q65_repetition" -> q65Repetition,
    "q67_hash_split" -> q67HashSplit,
    "q26_minhash_lsh" -> q26MinHashLsh,
    "q26b_minhash_lsh_portable" -> q26bMinhashLshPortable,
    "q70_decontaminate_minhash" -> q70DecontaminateMinhash,
    "q70b_minhash_portable" -> q70bMinhashPortable,
    "q27_simhash" -> q27SimHash,
    "q27b_simhash_pairs" -> q27bSimhashPairs,
    "q28_lsh_ann" -> q28LshAnn,
    "q28b_lsh_ann_portable" -> q28bLshAnnPortable,
    "q51b_embedding_neardup_lsh_portable" -> q51bEmbeddingNearDupLshPortable,
    "q42_ivf_ann" -> q42IvfAnn,
    "q74_sequence_pack" -> q74SequencePack,
    "q75_doc_chunks" -> q75DocChunks,
    "q76_stratified_sample" -> q76StratifiedSample,
    "q77_vocab_build" -> q77VocabBuild,
    "q78_corpus_stats" -> q78CorpusStats,
    "q79_greedy_pack" -> q79GreedyPack,
    "q80_mixing_sample" -> q80MixingSample,
    "q81_curation_pipeline" -> q81CurationPipeline,
    "q82_epoch_mix" -> q82EpochMix,
    "q83_selfdedup_spans" -> q83SelfdedupSpans,
    "q84_semantic_neardup" -> q84SemanticNearDup,
    "q84b_semantic_neardup_portable" -> q84bSemanticNearDupPortable,
    "q85_bucketed_batches" -> q85BucketedBatches,
    "q86_train_pipeline" -> q86TrainPipeline,
    "q87_corpus_shuffle" -> q87CorpusShuffle,
    "q88_pii_redact" -> q88PiiRedact,
    "q89_quality_auc" -> q89QualityAuc,
    "q90_normalize" -> q90Normalize,
    "q91_decontaminate_bloom" -> q91DecontaminateBloom,
    "q92_heavy_hitters" -> q92HeavyHitters,
    "q93_length_quantiles" -> q93LengthQuantiles,
    "q94_leak_safe_split" -> q94LeakSafeSplit,
    "q95_neardup_pagerank" -> q95NearDupPageRank,
    "q96_hard_negatives" -> q96HardNegatives,
    "q97_inverted_index" -> q97InvertedIndex,
    "q98_window_stream" -> q98WindowStream,
    "q99_snapshot_diff" -> q99SnapshotDiff,
    "q100_incremental_decontaminate" -> q100IncrementalDecontaminate,
    "q101_percentile_rank" -> q101PercentileRank,
    "q102_genomics_align" -> q102GenomicsAlign,
    "q103_bm25" -> q103Bm25,
    "q104_heavy_hitters_stream" -> q104HeavyHittersStream,
    "q105_incremental_neardup" -> q105IncrementalNearDup,
    "q106_decontaminate_wide" -> q106DecontaminateWide,
    "q107_heavy_hitters_wide" -> q107HeavyHittersWide,
    "q108_vocab_wide" -> q108VocabWide,
    "q109_postings_compressed" -> q109PostingsCompressed,
    "q110_phrase_search" -> q110PhraseSearch,
    "q111_phrase_from_index" -> q111PhraseFromIndex,
    "q112_bm25_stream" -> q112Bm25Stream,
    "q113_dsir_select" -> q113DsirSelect,
    "q114_bm25_from_index" -> q114Bm25FromIndex,
    "q115_proximity_search" -> q115ProximitySearch,
    "q116_lm_perplexity" -> q116LmPerplexity,
    "q117_winnowing" -> q117Winnowing,
    "q118_incremental_index" -> q118IncrementalIndex,
    "q119_bpe_learn" -> q119BpeLearn,
    "q120_proximity_from_index" -> q120ProximityFromIndex,
    "q121_incremental_heavy_hitters" -> q121IncrementalHeavyHitters,
    "q122_phrase_wide" -> q122PhraseWide,
    "q123_proximity_wide" -> q123ProximityWide,
    "q124_normalize_multilingual" -> q124NormalizeMultilingual,
    "q125_phrase_dictionary" -> q125PhraseDictionary,
    "q126_lang_multilingual" -> q126LangMultilingual,
    "q127_incremental_bm25" -> q127IncrementalBm25,
    "q128_bpe_roundtrip" -> q128BpeRoundtrip,
    "q129_index_append" -> q129IndexAppend,
    "q130_index_ingest_stream" -> q130IndexIngestStream,
    "q131_pmi_collocations" -> q131PmiCollocations,
    "q132_winnowing_pairs" -> q132WinnowingPairs)

  /** Streaming micro-batch queries with no single auditable batch
    * plan — PlanAudit skips them (each has a batch twin that IS
    * audited) and the evidence sweeps record the skip by name.
    * Centralized here so the audit tools derive their exemptions from
    * the catalog instead of keeping hand-copied lists that go stale
    * (the r15 q117 lesson: a hand-maintained evidence list silently
    * missed a declared query). q73b is NOT here: it drains its stream
    * and returns a batch frame whose final plan audits normally.
    */
  val streamingQueries: Set[String] = Set(
    "q59_sessionize_stream", "q60_asof_stream", "q61_components_stream",
    "q66_decorate_stream", "q73_decontaminate_stream", "q98_window_stream",
    "q104_heavy_hitters_stream", "q112_bm25_stream",
    "q130_index_ingest_stream")

  /** Queries whose plan is an INTENDED bounded cross product: q21 is
    * the brute-force exact-cosine BASELINE (a bounded query set
    * broadcast against the streamed corpus IS the cross product — its
    * scaladoc says so; q28/q42/q55 are the scale paths); q96 is the
    * same brute-force scoring behind a group-exclusion predicate.
    */
  val intendedCrossQueries: Set[String] = Set(
    "q21_knn_cosine", "q96_hard_negatives")

  /** DuckDB tokenizer fragment matching TextAnalytics.tokens. */
  private val toks = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** DuckDB replay of [[Tables.documentsWide]]'s token list — the
    * same md5-60-bit → Zipf-octave construction, so the wide corpus
    * is identical on both engines by construction.
    */
  private val wideToks =
    """list_transform(
         list_transform(generate_series(0, (39 + doc_id % 41)::INT),
           i -> ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR),
                 1, 15))::BIGINT),
         h -> 'w' || ((1::BIGINT << (h % 14)::INT) +
                      (h // 14) % (1::BIGINT << (h % 14)::INT))::VARCHAR)"""

  /** The q103 fixed-point-log replay: iln(m) ≈ 10⁶·ln m as the SAME
    * pure-integer repeated-squaring recurrence the engine's
    * [[graft.functions.FixedLog]] kernel runs, unrolled as a 20-step
    * recursive CTE of shifts and multiplies over the integer log
    * arguments (2df+1 per term, 2N+2 once) — no float ln anywhere,
    * so the score gate cannot split on a library's last ulp.
    */
  private val ilnCtes =
    """base AS (SELECT m, length(printf('%b', m)) - 1 AS e FROM ms),
       init AS (SELECT m, e,
           CASE WHEN e <= 30 THEN m << (30 - e) ELSE m >> (e - 30) END AS x
         FROM base),
       lg(m, e, i, x, frac) AS (
         SELECT m, e, 0, x, 0::BIGINT FROM init
         UNION ALL
         SELECT m, e, i + 1,
           CASE WHEN ((x * x) >> 30) >= 2147483648
                THEN ((x * x) >> 30) >> 1 ELSE (x * x) >> 30 END,
           frac * 2 + CASE WHEN ((x * x) >> 30) >= 2147483648
                           THEN 1 ELSE 0 END
         FROM lg WHERE i < 20),
       iln AS (SELECT m, (((e << 20) | frac) * 693147) >> 20 AS v
               FROM lg WHERE i = 20)"""

  /** The compressed-posting-artifact replay (q109/q118), parametrized
    * by the document relation (a SELECT exposing `doc_id, text`): the
    * q97 posting construction with the payload rebuilt as the EXACT
    * LEB128 byte stream — per doc [doc delta, n_pos, pos0, pos
    * deltas...], varint = little-endian 7-bit groups via shifts +
    * printf hex; raw_bytes prices the ASCII form for the ratio. q118
    * points it at the v2 snapshot, so the full-rebuild oracle IS the
    * equivalence proof for the engine's incremental maintenance.
    */
  private def postingsCompressedOracleOver(rel: String): String =
    s"""WITH t AS (SELECT doc_id, $toks AS l FROM ($rel)),
         tp AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l)),
               i -> {'pos': i - 1, 'term': l[i]})) AS u
           FROM t WHERE len(l) >= 1),
         f AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tp),
         pd AS (SELECT term, doc_id, list_sort(list(pos)) AS ps
                FROM f GROUP BY term, doc_id),
         sd AS (SELECT term, doc_id // 100 AS shard, doc_id, ps,
             lag(doc_id) OVER (PARTITION BY term, doc_id // 100
                               ORDER BY doc_id) AS prev,
             strlen(lpad(doc_id::VARCHAR, 12, '0') || ':' ||
               array_to_string(list_transform(ps, x -> x::VARCHAR), ','))
               AS rawlen
           FROM pd),
         ch AS (SELECT term, shard, doc_id, len(ps)::BIGINT AS tf, rawlen,
             list_concat(
               [coalesce(doc_id - prev, doc_id - shard * 100),
                len(ps)::BIGINT, ps[1]::BIGINT],
               list_transform(generate_series(2, len(ps)),
                 i -> (ps[i] - ps[i-1])::BIGINT)) AS chunk
           FROM sd),
         stream AS (SELECT term, shard,
             count(*)::BIGINT AS df_shard, sum(tf)::BIGINT AS tf_shard,
             (sum(rawlen) + count(*) - 1)::BIGINT AS raw_bytes,
             flatten(list(chunk ORDER BY doc_id)) AS vs
           FROM ch GROUP BY term, shard),
         hx AS (SELECT term, shard, df_shard, tf_shard, raw_bytes,
             array_to_string(list_transform(vs, v ->
               array_to_string(list_transform(
                 generate_series(0,
                   greatest(1, (length(printf('%b', v)) + 6) // 7) - 1),
                 i -> printf('%02x', ((v >> (7*i)) & 127) +
                   CASE WHEN i < greatest(1,
                       (length(printf('%b', v)) + 6) // 7) - 1
                     THEN 128 ELSE 0 END)), '')), '') AS hx
           FROM stream)
         SELECT term, shard, df_shard, tf_shard, md5(hx) AS varint_md5,
           (length(hx) // 2)::BIGINT AS varint_bytes, raw_bytes
         FROM hx"""

  /** The full BM25 replay (q103/q112/q114/q127), parametrized by the
    * corpus relation (`doc_id, l` token lists — q127 points it at the
    * v2 snapshot so the from-scratch replay IS the equivalence proof
    * for scoring from the incrementally-maintained artifact) and the
    * query relation (`query_id, term` — may reference `wd`): tf/dl/df
    * from the token lists, idf through the integer-log CTE chain,
    * exact scaled-rational saturation, top-10 per query.
    */
  private def bm25OracleOver(corpusRel: String, queryRel: String): String =
    s"""WITH RECURSIVE wd AS ($corpusRel),
         tok AS (SELECT doc_id, unnest(l) AS term FROM wd),
         tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS tot FROM dl),
         dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         ms AS (SELECT DISTINCT 2 * df + 1 AS m FROM dfreq
                UNION SELECT 2 * n + 2 FROM st),
         $ilnCtes,
         idf AS (SELECT dfreq.term,
             (SELECT v FROM iln JOIN st ON iln.m = 2 * st.n + 2) - iln.v
               AS idf_1m
           FROM dfreq JOIN iln ON iln.m = 2 * dfreq.df + 1),
         qd AS ($queryRel),
         sc AS (SELECT qd.query_id, tf.doc_id,
             sum(idf.idf_1m * ((2200000 * tf.tf * 1000000) //
               (1000000 * tf.tf + 300000 +
                (9 * ((1000000 * dl.dl * st.n) // st.tot)) // 10)))::BIGINT
               AS score
           FROM qd JOIN tf USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id
             JOIN idf ON idf.term = qd.term
             CROSS JOIN st
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, score FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS rank
           FROM sc) WHERE rank <= 10"""

  /** Full SRP-LSH ANN replay of q28/q28b: md5-derived plane
    * components (identical doubles on both engines — 15-hex-char
    * BIGINT / 2^59 − 1), sign bits pack into per-table buckets,
    * candidates share any (table, bucket), exact cosine re-ranks with
    * neighbor-id ties; `outCols` picks from query_id, rank,
    * neighbor_id and sim.
    */
  private def lshAnnOracle(outCols: String): String =
    s"""WITH pl AS (
           SELECT ts.t, ps.p, isq.i,
             ('0x' || substr(md5(ts.t || ':' || ps.p || ':' || isq.i), 1, 15))::BIGINT
               / 576460752303423488.0 - 1.0 AS c
           FROM generate_series(0, 5) ts(t),
                generate_series(0, 5) ps(p),
                generate_series(0, 63) isq(i)),
         proj AS (
           SELECT e.vec_id, pl.t, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.c) AS dot
           FROM embeddings e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY 1, 2, 3),
         buck AS (
           SELECT vec_id, t,
             sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
           FROM proj GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM buck q JOIN buck c ON q.t = c.t AND q.bucket = c.bucket
           WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT $outCols FROM (
           SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) AS sim,
             row_number() OVER (PARTITION BY cand.query_id
               ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]) DESC,
                        cand.neighbor_id) AS rank
           FROM cand
             JOIN embeddings a ON a.vec_id = cand.query_id
             JOIN embeddings b ON b.vec_id = cand.neighbor_id)
         WHERE rank <= 5"""

  /** SimHash replay ending in `fp(doc_id, simhash)`, shared by q27 and
    * q27b: the md5-60-bit token hash (15 hex chars parse as a
    * non-negative BIGINT on both engines), +1/-1 bit votes, positive
    * sums set the bit.
    */
  private val simhashFp: String =
    s"""t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         h AS (SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t),
         votes AS (
           SELECT doc_id, b.b AS b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM h, (SELECT unnest(generate_series(0, 59)) AS b) b
           GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                  sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
                    AS simhash
                FROM votes GROUP BY doc_id)"""

  /** Shared by q70/q70b (batch) and q73/q73b (streaming): full MinHash+LSH
    * replay — md5-60-bit permutation hashes (15 hex chars parse as
    * non-negative BIGINT on both engines), per-doc min per permutation,
    * 8 bands × 4 rows collide on the exact value tuple, candidates
    * verify with exact distinct-2-gram Jaccard. On bounded input the
    * streaming screen must equal this batch answer verbatim (its dedup
    * state never expires mid-run), so ONE oracle gates both forms.
    */
  private lazy val minhashCrossOracle: String =
    minhashOracleOver("SELECT doc_id, text FROM documents")

  /** The same full MinHash+LSH replay over a caller-supplied
    * `(doc_id, text)` relation — q105 reuses it with the v2 snapshot
    * (bench rows original, pool rows carrying the 11-periodic edit)
    * so the oracle IS the full-recompute equivalence proof for the
    * incremental screen.
    */
  private def minhashOracleOver(docsSql: String): String =
    s"""WITH t AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(l) - 1),
               i -> l[i] || ' ' || l[i + 1])) AS g
           FROM (SELECT doc_id, $toks AS l FROM ($docsSql))
           WHERE len(l) >= 2),
         e AS (SELECT doc_id, unnest(g) AS gram FROM t),
         hs AS (SELECT doc_id, h.i AS i,
             min(('0x' || substr(md5(h.i || ':' || gram), 1, 15))::BIGINT) AS v
           FROM e, (SELECT unnest(generate_series(0, 31)) AS i) h
           GROUP BY 1, 2),
         bandkey AS (SELECT doc_id, i // 4 AS band,
             string_agg(v::VARCHAR, ',' ORDER BY i) AS key
           FROM hs GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
           FROM bandkey a JOIN bandkey b ON a.band = b.band AND a.key = b.key
           WHERE a.doc_id % 20 <> 0 AND b.doc_id % 20 = 0),
         verify AS (SELECT c.doc_id, c.bench_id,
             len(list_intersect(ta.g, tb.g))::DOUBLE /
               (len(ta.g) + len(tb.g) - len(list_intersect(ta.g, tb.g))) AS j
           FROM cand c
             JOIN t ta ON ta.doc_id = c.doc_id
             JOIN t tb ON tb.doc_id = c.bench_id)
         SELECT doc_id, bench_id, round(j, 4) AS jaccard
         FROM verify WHERE j >= 0.5"""

  /** Shared DuckDB CTE chain replaying the domain-architecture sweep
    * (`search/domain_architect.js:140-165`): ranked features → recursive
    * per-(gene,root) sweep carrying (seed, span) state → clusters with
    * the trailing-seed drop → heap LCA in closed form (align depths by
    * binary length, then cut at the highest differing bit; the set LCA
    * is the pair LCA of the lexicographic min/max binary strings).
    */
  /** The domain-architecture sweep CTE chain (f → rf → sweep → cl →
    * kept → lca) over a caller-supplied feature synthesis — shared by
    * q45/q46 (orderkey-keyed features) and the q54 pipeline oracle
    * (partkey-keyed features).
    */
  private def domainSweepCtes(featureSql: String) =
    s"""f AS ($featureSql),
       rf AS (
         SELECT *, row_number() OVER (PARTITION BY gene, root
                                      ORDER BY s, e, ipr) AS r,
                count(*) OVER (PARTITION BY gene, root) AS grp_n
         FROM f),
       sweep AS (
         SELECT gene, root, r, grp_n, r AS seed_r, s AS cs, e AS ce
         FROM rf WHERE r = 1
         UNION ALL
         SELECT gene, root, r, grp_n,
           CASE WHEN merged THEN seed_r ELSE r END,
           CASE WHEN merged THEN cs ELSE s END,
           CASE WHEN merged THEN greatest(ce, e) ELSE e END
         FROM (
           SELECT w.gene, w.root, n.r, n.grp_n, w.seed_r, w.cs, w.ce, n.s, n.e,
             n.s < w.ce AND (n.e < w.ce
               OR (w.ce - n.s)::DOUBLE / (n.e - n.s) >= 0.2
               OR (w.ce - n.s)::DOUBLE / (w.ce - w.cs) >= 0.2) AS merged
           FROM sweep w JOIN rf n
             ON n.gene = w.gene AND n.root = w.root AND n.r = w.r + 1)),
       cl AS (
         SELECT w.gene, w.root, w.seed_r,
                min(w.cs) AS c_start, max(w.ce) AS c_end,
                count(*) AS n_members, max(w.grp_n) AS grp_n,
                min_by(rf.ipr, bin(rf.ipr)) AS vmin,
                max_by(rf.ipr, bin(rf.ipr)) AS vmax
         FROM sweep w JOIN rf
           ON rf.gene = w.gene AND rf.root = w.root AND rf.r = w.r
         GROUP BY w.gene, w.root, w.seed_r),
       kept AS (
         SELECT * FROM (
           SELECT *, max(seed_r) OVER (PARTITION BY gene, root) AS last_seed
           FROM cl)
         WHERE NOT (seed_r = last_seed AND n_members = 1 AND grp_n > 1)),
       lca AS (
         SELECT gene, root, c_start, c_end, n_members,
           CASE WHEN d = 0 THEN a2 ELSE a2 >> length(bin(d)) END AS lca_ipr
         FROM (
           SELECT *, xor(a2, b2) AS d FROM (
             SELECT *,
               vmin >> (length(bin(vmin))
                        - least(length(bin(vmin)), length(bin(vmax)))) AS a2,
               vmax >> (length(bin(vmax))
                        - least(length(bin(vmin)), length(bin(vmax)))) AS b2
             FROM kept)))"""

  private val domainSweepSql = "WITH RECURSIVE " + domainSweepCtes(
    """SELECT l_orderkey AS gene, l_linenumber % 2 AS root, l_partkey AS ipr,
                (l_suppkey % 20) * 10 AS s,
                (l_suppkey % 20) * 10 + 5 + (l_partkey % 30) * 5 AS e
         FROM lineitem""")

  private val langIdSql: String = {
    val cnts = langMarkers.map { case (lang, vocab) =>
      val pred = vocab.map(w => s"x = '$w'").mkString(" or ")
      s"len(list_filter($toks, x -> $pred)) AS c_$lang"
    }
    val names = langMarkers.map { case (l, _) => s"c_$l" }
    val best = s"greatest(${names.mkString(", ")})"
    val chain = langMarkers
      .map { case (l, _) => s"WHEN c_$l = $best THEN '$l'" }
      .mkString(" ")
    s"""SELECT doc_id,
       CASE WHEN $best = 0 THEN 'und' $chain ELSE 'und' END AS lang_pred
       FROM (SELECT doc_id, ${cnts.mkString(", ")} FROM documents)"""
  }

  private val knnExactOracle =
    """SELECT query_id, rank, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                    c.embedding::DOUBLE[]) DESC,
                             c.vec_id) AS rank
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         WHERE rank <= 5"""

  /** DuckDB replay of q36's bytes→thumb→rolling-hash→float32 chain:
    * byte access via hex-string slicing (DuckDB 1.0 has no blob
    * subscript), the Java wrapping-long hash via HUGEINT mod-2⁶⁴, the
    * float32 rounding via ::REAL — verified bit-equal to the JVM chain
    * for every sf0.01 document before being wired here.
    */
  private val mediaFeaturesOracle =
    """WITH b AS (
         SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                octet_length(encode(text)) AS n
         FROM documents),
       byt AS (
         SELECT media_id, n,
           list_transform(generate_series(1, n),
             i -> 16*(strpos('0123456789ABCDEF', hx[2*i-1:2*i-1])-1)
                   + (strpos('0123456789ABCDEF', hx[2*i:2*i])-1)) AS bs
         FROM b),
       thumb AS (
         SELECT media_id, n,
           list_transform(generate_series(1, 64), i ->
             CASE WHEN n = 0 THEN 0 ELSE
               list_sum(bs[((i-1)*n)//64 + 1 :
                           greatest(((i-1)*n)//64 + 1, (i*n)//64)])
               // greatest(1, (i*n)//64 - ((i-1)*n)//64)
             END) AS th
         FROM byt),
       hh AS (
         SELECT media_id, n,
           list_transform(th, x -> x::HUGEINT) AS thh,
           18446744073709551616::HUGEINT AS M,
           11400714819323198485::HUGEINT AS K
         FROM thumb),
       f AS (
         SELECT media_id, n,
           list_reduce(list_prepend((1125899906842597::HUGEINT + 0*K) % M, thh), (a,b) -> (a*31+b) % M) AS a0,
           list_reduce(list_prepend((a0 + 1*K) % M, thh), (a,b) -> (a*31+b) % M) AS a1,
           list_reduce(list_prepend((a1 + 2*K) % M, thh), (a,b) -> (a*31+b) % M) AS a2,
           list_reduce(list_prepend((a2 + 3*K) % M, thh), (a,b) -> (a*31+b) % M) AS a3,
           list_reduce(list_prepend((a3 + 4*K) % M, thh), (a,b) -> (a*31+b) % M) AS a4,
           list_reduce(list_prepend((a4 + 5*K) % M, thh), (a,b) -> (a*31+b) % M) AS a5,
           list_reduce(list_prepend((a5 + 6*K) % M, thh), (a,b) -> (a*31+b) % M) AS a6,
           list_reduce(list_prepend((a6 + 7*K) % M, thh), (a,b) -> (a*31+b) % M) AS a7
         FROM hh),
       sc AS (
         SELECT media_id, n,
           [floor(((a0 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT,
            floor(((a1 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT,
            floor(((a2 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT,
            floor(((a3 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT,
            floor(((a4 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT,
            floor(((a5 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT,
            floor(((a6 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT,
            floor(((a7 // 2048)::DOUBLE / 9007199254740992)::REAL::DOUBLE * 1048576)::BIGINT] AS s
         FROM f)
       SELECT media_id, n::BIGINT AS n_bytes,
         md5(array_to_string(s, ',')) AS features_digest,
         list_sum(s)::BIGINT AS features_l1
       FROM sc"""

  /** q44's tree-representative oracle, split into its CTE chain and
    * final per-leaf SELECT so the q54 pipeline oracle can compose them
    * with the domain sweep in one WITH RECURSIVE.
    */
  private val treeRepCtes =
    """base AS (
           SELECT p_partkey AS pk, (p_partkey // 40)::BIGINT AS tree,
                  row_number() OVER (PARTITION BY p_partkey // 40
                                     ORDER BY p_partkey) AS r,
                  count(*) OVER (PARTITION BY p_partkey // 40) AS n
           FROM part),
         leaves AS (
           SELECT tree, r,
             (pk % 5) * 0.25e0 + 0.25e0 AS dist,
             CASE WHEN pk % 17 = 0 THEN 3702001
                  WHEN pk % 5 = 0 THEN 3702 ELSE 4577 END AS taxon,
             CASE WHEN pk % 3 = 0 THEN 'AT' || pk ELSE 'G' || pk END AS gene,
             (pk % 9) * 25.0e0 - 110.0e0 AS score,
             least(r, n - 1) AS pj
           FROM base),
         ip AS (
           SELECT tree, j, sum(idist) OVER (PARTITION BY tree ORDER BY j) AS s
           FROM (SELECT tree, r AS j, (r % 3) * 0.5e0 AS idist
                 FROM base WHERE r <= n - 1)),
         bu AS (
           SELECT tree, j, c AS bu_score, gene AS bu_gene, r AS bu_r FROM (
             SELECT l.tree, i.j, l.r, l.gene,
                    l.score + l.dist + sp.s - i.s AS c,
                    row_number() OVER (PARTITION BY l.tree, i.j
                      ORDER BY l.score + l.dist + sp.s - i.s, l.r) AS rn
             FROM leaves l
             JOIN ip sp ON sp.tree = l.tree AND sp.j = l.pj
             JOIN ip i ON i.tree = l.tree AND i.j <= l.pj)
           WHERE rn = 1),
         td AS (
           SELECT tree, j, bu_score AS fin_score, bu_gene AS fin_gene,
                  bu_r AS fin_r,
                  CASE WHEN regexp_matches(bu_gene, '^AT') THEN bu_gene END
                    AS ath_gene
           FROM bu WHERE j = 1
           UNION ALL
           SELECT tree, j, fin_score, fin_gene, fin_r,
             CASE WHEN gated THEN
               CASE WHEN regexp_matches(fin_gene, '^AT') THEN fin_gene
                    ELSE p_ath END
             END AS ath_gene
           FROM (
             SELECT b.tree, b.j,
               CASE WHEN t.fin_score < -60 AND b.bu_score > 0.8e0 * t.fin_score
                    THEN t.fin_score ELSE b.bu_score END AS fin_score,
               CASE WHEN t.fin_score < -60 AND b.bu_score > 0.8e0 * t.fin_score
                    THEN t.fin_gene ELSE b.bu_gene END AS fin_gene,
               CASE WHEN t.fin_score < -60 AND b.bu_score > 0.8e0 * t.fin_score
                    THEN t.fin_r ELSE b.bu_r END AS fin_r,
               t.fin_score < -60 AS gated, t.ath_gene AS p_ath
             FROM td t JOIN bu b ON b.tree = t.tree AND b.j = t.j + 1)),
         lf AS (
           SELECT l.tree, l.r, l.gene, l.taxon, l.pj,
             CASE WHEN t.fin_score < -60 AND l.score > 0.8e0 * t.fin_score
                  THEN t.fin_score ELSE l.score END AS rep_sc,
             CASE WHEN t.fin_score < -60 AND l.score > 0.8e0 * t.fin_score
                  THEN t.fin_gene ELSE l.gene END AS rep_gene,
             CASE WHEN t.fin_score < -60 AND l.score > 0.8e0 * t.fin_score
                  THEN t.fin_r ELSE l.r END AS rep_r,
             t.fin_score < -60 AS gated, t.ath_gene AS p_ath
           FROM leaves l JOIN td t ON t.tree = l.tree AND t.j = l.pj),
         lf2 AS (
           SELECT *,
             CASE WHEN gated THEN
               CASE WHEN regexp_matches(rep_gene, '^AT') THEN rep_gene
                    ELSE p_ath END
             END AS ath_gene,
             rep_sc >= -60 OR taxon = 3702001 AS norep
           FROM lf)"""

  private val treeRepSelect =
    """SELECT tree AS tree_id, gene AS gene_id, 1001::BIGINT AS root_taxon_id,
           CASE WHEN norep THEN NULL ELSE rep_sc END AS rep_score,
           CASE WHEN norep THEN NULL
                WHEN rep_r = r THEN coalesce(ath_gene, gene)
                WHEN ath_gene IS NOT NULL AND ath_gene <> rep_gene THEN ath_gene
           END AS model_id,
           CASE WHEN norep OR rep_r = r THEN NULL ELSE rep_gene END AS closest_id,
           coalesce(array_to_string(list_transform(generate_series(4, pj::INT, 4),
                                                   x -> CAST(1000 + x AS VARCHAR)), ','),
                    '') AS duplications
         FROM lf2"""

  /** Oracle for the composed SURVEY §3.1 genes pipeline
    * ([[graft.pipelines.GenesPipeline.run]]): the q44 tree CTE chain
    * plus the domain sweep over the PIPELINE's partkey-keyed feature
    * synthesis, assembled and digested exactly like the Spark side
    * (all digest fields are non-null, so '||'-concat matches
    * concat_ws's null-skipping semantics).
    */
  private val genesPipelineOracle =
    s"""WITH RECURSIVE $treeRepCtes,
       ${domainSweepCtes(
      """SELECT l_partkey AS gene, l_linenumber % 2 AS root,
                l_suppkey + 1 AS ipr,
                (l_orderkey % 40) * 25 AS s,
                (l_orderkey % 40) * 25 + 10 + (l_suppkey % 30) * 10 AS e
         FROM lineitem""")},
       tree AS ($treeRepSelect),
       dom AS (
         SELECT CASE WHEN gene % 3 = 0 THEN 'AT' || gene
                     ELSE 'G' || gene END AS gene_id,
           array_to_string(list(root::VARCHAR ORDER BY c_start, c_end, root),
                           ' ') AS domain_roots,
           count(*)::BIGINT AS n_domain_clusters
         FROM lca GROUP BY gene)
       SELECT t.gene_id, t.tree_id, t.rep_score, t.model_id, t.closest_id,
         t.duplications,
         coalesce(d.domain_roots, '') AS domain_roots,
         coalesce(d.n_domain_clusters, 0)::BIGINT AS n_domain_clusters,
         md5(t.gene_id || '|' || t.tree_id::VARCHAR || '|' ||
             coalesce(t.rep_score::VARCHAR, '') || '|' ||
             coalesce(t.model_id, '') || '|' ||
             coalesce(t.closest_id, '') || '|' ||
             t.duplications || '|' ||
             coalesce(d.domain_roots, '') || '|' ||
             coalesce(d.n_domain_clusters, 0)::VARCHAR) AS doc_digest
       FROM tree t LEFT JOIN dom d ON d.gene_id = t.gene_id"""

  private val oraclesBase: Map[String, String] = Map(
    "q54_genes_pipeline" -> genesPipelineOracle,
    "q36_media_features" -> mediaFeaturesOracle,
    // 8-bit PCM WAV stores samples verbatim: the decoded frame bytes ARE
    // the document bytes — header fields and window means replay directly
    "q58_audio_decode" ->
      """WITH b AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         byt AS (
           SELECT media_id, n,
             list_transform(generate_series(1, n),
               i -> 16*(strpos('0123456789ABCDEF', hx[2*i-1:2*i-1])-1)
                     + (strpos('0123456789ABCDEF', hx[2*i:2*i])-1)) AS bs
           FROM b),
         w AS (
           SELECT media_id, n,
             list_transform(generate_series(1, 8), i ->
               CASE WHEN n = 0 THEN 0 ELSE
                 list_sum(bs[((i-1)*n)//8 + 1 :
                             greatest(((i-1)*n)//8 + 1, (i*n)//8)])
                 // greatest(1, (i*n)//8 - ((i-1)*n)//8)
               END) AS means
           FROM byt)
         SELECT media_id, 8000::BIGINT AS sample_rate, 1::BIGINT AS channels,
           n::BIGINT AS n_frames,
           md5(array_to_string(means, ',')) AS means_digest
         FROM w""",
    // PNG is lossless: the decoded 8x8 raster must equal the first 64
    // document bytes zero-padded — replayed here without any codec
    "q56_media_decode" ->
      """WITH b AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         px AS (
           SELECT media_id,
             list_transform(generate_series(1, 64), i ->
               CASE WHEN i <= n THEN
                 16*(strpos('0123456789ABCDEF', hx[2*i-1:2*i-1])-1)
                  + (strpos('0123456789ABCDEF', hx[2*i:2*i])-1)
               ELSE 0 END) AS p
           FROM b)
         SELECT media_id, 8::BIGINT AS width, 8::BIGINT AS height,
           md5(array_to_string(p, ',')) AS thumb_digest,
           (list_sum(p) // 64)::BIGINT AS luma_mean
         FROM px""",
    // money sums in the q01/q02/q03/q14/q24/q32 family accumulate exact
    // scaled integers on BOTH sides (see the engine-side note on q01) —
    // a rounded double sum is accumulation-order-dependent and breaks
    // hash-exactness once groups get large (10x scale audit).
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           sum(cast(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             AS sum_base_price,
           sum(cast(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
             / 10000.0 AS sum_disc_price,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_pushdown" ->
      """SELECT sum(cast(round(l_extendedprice * l_discount * 10000) AS BIGINT))
             / 10000.0 AS revenue,
           count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "q03_region_revenue" ->
      """SELECT r_name,
           sum(cast(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
           count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q04_semi_join" ->
      """SELECT n_nationkey, n_name FROM nation n
         WHERE EXISTS (SELECT 1 FROM customer c
                       WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000)""",
    "q05_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_idle_customers
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_nationkey""",
    "q06_theta_self_join" ->
      """SELECT s1.s_nationkey AS nationkey, count(*) AS n_pairs
         FROM supplier s1
         JOIN supplier s2
           ON s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey
         GROUP BY s1.s_nationkey""",
    "q07_window_topk" ->
      """SELECT c_nationkey, rn, c_custkey, acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal AS acctbal,
                  row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer)
         WHERE rn <= 3""",
    "q08_first_order" ->
      """SELECT o_custkey, first_orderkey, first_priority FROM (
           SELECT o_custkey, o_orderkey AS first_orderkey,
                  o_orderpriority AS first_priority,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders)
         WHERE rn = 1""",
    "q09_event_gaps" ->
      """SELECT user_id, count(gap) AS n_gaps,
           round(sum(gap) / 1000000.0 / count(gap), 2) AS avg_gap_sec
         FROM (SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap
               FROM events)
         GROUP BY user_id""",
    "q10_sessionize" ->
      """SELECT user_id, sum(is_new)::BIGINT AS n_sessions, count(*) AS n_events
         FROM (SELECT user_id,
                 CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS is_new
               FROM (SELECT user_id,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) AS gap
                     FROM events))
         GROUP BY user_id""",
    "q11_interval_join_keyed" ->
      """SELECT p.user_id, count(*) AS n_hits
         FROM events p JOIN events w
           ON p.user_id = w.user_id
          AND p.event_type = 'purchase' AND w.event_type = 'error'
          AND epoch_us(p.ts) >= epoch_us(w.ts)
          AND epoch_us(p.ts) <= epoch_us(w.ts) + 600000000
         GROUP BY p.user_id""",
    "q12_interval_join_global" ->
      """SELECT DISTINCT p.event_id
         FROM events p
         WHERE p.event_type = 'purchase'
           AND EXISTS (SELECT 1 FROM events w
                       WHERE w.event_type = 'error'
                         AND epoch_us(p.ts) >= epoch_us(w.ts)
                         AND epoch_us(p.ts) <= epoch_us(w.ts) + 600000000)""",
    "q13_closure" ->
      """WITH RECURSIVE anc(node, ancestor) AS (
           SELECT p_partkey, p_partkey // 2 FROM part WHERE p_partkey >= 1
           UNION
           SELECT a.node, e.p_partkey // 2
           FROM anc a JOIN part e ON a.ancestor = e.p_partkey
           WHERE e.p_partkey >= 1)
         SELECT node, count(*) AS n_ancestors FROM anc GROUP BY node""",
    "q14_subtree_rollup" ->
      """WITH RECURSIVE anc(node, ancestor) AS (
           SELECT p_partkey, p_partkey // 2 FROM part WHERE p_partkey >= 1
           UNION
           SELECT a.node, e.p_partkey // 2
           FROM anc a JOIN part e ON a.ancestor = e.p_partkey
           WHERE e.p_partkey >= 1),
         pairs AS (
           SELECT node, ancestor FROM anc
           UNION ALL
           SELECT p_partkey, p_partkey FROM part)
         SELECT pr.ancestor AS node,
           sum(cast(round(p.p_retailprice * 100) AS BIGINT)) / 100.0
             AS subtree_value
         FROM pairs pr JOIN part p ON pr.node = p.p_partkey
         GROUP BY pr.ancestor""",
    "q15_collect_sorted" ->
      """SELECT c_nationkey,
           array_to_string(list(c_custkey ORDER BY c_custkey), ',') AS custkeys,
           count(*) AS n_customers
         FROM customer GROUP BY c_nationkey""",
    "q16_set_except" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900
         EXCEPT
         SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal > 9000""",
    "q17_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
           count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "q18_token_stats" ->
      s"""SELECT doc_id,
           len($toks)::BIGINT AS n_tokens,
           len(list_distinct($toks))::BIGINT AS n_distinct_tokens,
           (length(replace(text, ' ', ''))::BIGINT * 100 // len($toks)) / 100.0
             AS mean_token_len
         FROM documents""",
    "q19_quality_score" ->
      s"""SELECT doc_id,
           (least(n, 100) * 50 +
            CASE WHEN n > 0 THEN (d * 5000) // n ELSE 0 END) / 10000.0 AS quality
         FROM (SELECT doc_id,
                 len($toks)::BIGINT AS n,
                 len(list_distinct($toks))::BIGINT AS d
               FROM documents)""",
    "q20_lang_id" ->
      s"""SELECT p.doc_id, p.lang_pred, (p.lang_pred = d.lang) AS is_correct
         FROM ($langIdSql) p JOIN documents d ON p.doc_id = d.doc_id""",
    "q21_knn_cosine" -> knnExactOracle,
    // exhaustive probe scans every cell → provably the exact answer,
    // so the IVF machinery shares the brute-force oracle
    "q55_ivf_exact" -> knnExactOracle,
    "q22_ngram_jaccard" ->
      s"""WITH sh AS (
           SELECT doc_id, lang,
             list_distinct(list_transform(generate_series(1, len(l) - 1),
                                          i -> l[i] || ' ' || l[i + 1])) AS g
           FROM (SELECT doc_id, lang, $toks AS l FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.g, b.g))::DOUBLE /
                 len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
         FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.g, b.g))::DOUBLE /
               len(list_distinct(list_concat(a.g, b.g))) >= 0.5""",
    "q23_fingerprint" ->
      s"""SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp
         FROM documents""",
    "q24_pivot_events" ->
      """SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
           sum(CASE WHEN event_type = 'purchase'
                 THEN cast(round(value * 100) AS BIGINT) END) / 100.0
             AS purchase_value
         FROM events GROUP BY user_id""",
    "q25_top_priced" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
         FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         LIMIT 100""",
    "q27_simhash" -> s"WITH $simhashFp SELECT doc_id AS id, simhash FROM fp",
    "q27b_simhash_pairs" ->
      // the q27 fingerprints, then a BRUTE-FORCE hamming join — the
      // engine's chunk-blocked plan must reproduce it exactly
      s"""WITH $simhashFp,
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""",
    "q29_tree_stats" ->
      """WITH RECURSIVE walk(node, cur, d) AS (
           SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey >= 8
           UNION ALL
           SELECT node, cur // 2, d + 1 FROM walk WHERE cur >= 16),
         m AS (SELECT node, cur AS tree_id, d AS depth
               FROM walk WHERE cur BETWEEN 8 AND 15),
         s AS (SELECT m.tree_id, m.node, m.depth, p.p_retailprice,
                 row_number() OVER (PARTITION BY m.tree_id
                   ORDER BY p.p_retailprice DESC, m.node) AS rn
               FROM m JOIN part p ON m.node = p.p_partkey)
         SELECT g.tree_id, g.n_nodes, g.max_depth, r.rep_id, r.rep_score
         FROM (SELECT tree_id, count(*) AS n_nodes, max(depth)::BIGINT AS max_depth
               FROM s GROUP BY tree_id) g
         JOIN (SELECT tree_id, node AS rep_id, p_retailprice AS rep_score
               FROM s WHERE rn = 1) r USING (tree_id)""",
    "q30_interval_merge" ->
      """SELECT user_id, count(*) AS n_spans,
           (sum(e0 - s0) // 1000000)::BIGINT AS covered_sec
         FROM (
           SELECT user_id, island, min(w_start) AS s0, max(w_end) AS e0
           FROM (
             SELECT user_id, w_start, w_end,
               sum(CASE WHEN prev_max IS NULL OR w_start > prev_max
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY w_start, w_end
                       ROWS UNBOUNDED PRECEDING) AS island
             FROM (
               SELECT user_id, w_start, w_end,
                 max(w_end) OVER (PARTITION BY user_id
                   ORDER BY w_start, w_end
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
               FROM (SELECT user_id, epoch_us(ts) AS w_start,
                       epoch_us(ts) + 600000000 AS w_end FROM events)))
           GROUP BY user_id, island)
         GROUP BY user_id""",
    "q31_hour_bins" ->
      """SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
           count(*) AS n_events
         FROM events GROUP BY 1, 2""",
    "q32_rollup" ->
      // exact integer-cent sum, mirroring the engine (order-independent)
      """SELECT coalesce(r_name, '(all)') AS r_name,
           coalesce(n_name, '(all)') AS n_name,
           sum(cast(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
           count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)""",
    "q33_type_count_map" ->
      """SELECT user_id,
           array_to_string(list(entry ORDER BY entry), ',') AS type_counts
         FROM (SELECT user_id, event_type || ':' || count(*)::VARCHAR AS entry
               FROM events GROUP BY user_id, event_type)
         GROUP BY user_id""",
    "q34_doc_assembly" ->
      """SELECT l_orderkey, count(*) AS n_items,
           md5(string_agg(l_partkey::VARCHAR, ','
                          ORDER BY l_linenumber, l_partkey)) AS items_digest
         FROM lineitem GROUP BY l_orderkey""",
    "q35_media_meta" ->
      // char-slice-then-encode equals the byte slice because the corpus
      // is ASCII; DuckDB has no BLOB substring
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
           hex(encode(substring(text, 1, 4))) AS magic
         FROM documents""",
    "q37_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
         FROM events GROUP BY event_type""",
    "q38_regex_extract" ->
      """SELECT c_custkey,
           nullif(regexp_extract(c_name, '#0*(\d+)$', 1), '')::BIGINT AS name_id,
           upper(substring(c_name, 1, 8)) AS prefix
         FROM customer
         WHERE regexp_matches(c_name, '^Customer#\d+$')""",
    "q39_asof_join" ->
      // correlated max as the engine-neutral as-of oracle (DuckDB ASOF
      // JOIN exists but ties at equal timestamps are easier to pin this
      // way: at-or-before, inclusive)
      """SELECT p.user_id, p.event_id,
           epoch_us(p.ts) AS purchase_us,
           (SELECT max(epoch_us(e.ts)) FROM events e
             WHERE e.user_id = p.user_id AND e.event_type = 'error'
               AND epoch_us(e.ts) <= epoch_us(p.ts)) AS last_err_us
         FROM events p WHERE p.event_type = 'purchase'""",
    "q40_interval_join_custom_plan" ->
      """SELECT DISTINCT p.event_id
         FROM events p
         WHERE p.event_type = 'purchase'
           AND EXISTS (SELECT 1 FROM events w
                       WHERE w.event_type = 'error'
                         AND epoch_us(p.ts) >= epoch_us(w.ts)
                         AND epoch_us(p.ts) <= epoch_us(w.ts) + 600000000)""",
    "q41_topk_aggregator" ->
      """SELECT c_nationkey, rn, c_custkey, acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal AS acctbal,
                  row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer)
         WHERE rn <= 3""",
    "q43_genetree_score" ->
      """WITH g AS (
           SELECT p_partkey AS pk,
             CASE WHEN p_partkey % 3 = 0 THEN 'AT' || p_partkey
                  ELSE 'G' || p_partkey END AS gene,
             p_partkey % 10 = 0 AS curated,
             CASE p_partkey % 7
               WHEN 1 THEN 'hypothetical protein kinase'
               WHEN 2 THEN 'expressed protein'
               WHEN 3 THEN 'Zm00001d0 kinase'
               WHEN 4 THEN 'Receptor kinase activity [Source:UniProtKB]'
               WHEN 5 THEN CASE WHEN p_partkey % 3 = 0 THEN 'AT' || p_partkey
                                ELSE 'G' || p_partkey END
               WHEN 6 THEN 'Putative transporter'
             END AS descr,
             CASE p_partkey % 5
               WHEN 1 THEN CASE WHEN p_partkey % 3 = 0 THEN 'AT' || p_partkey
                                ELSE 'G' || p_partkey END
               WHEN 2 THEN 'POPTRDRAFT_99'
               WHEN 3 THEN 'KIN' || p_partkey
               WHEN 4 THEN 'abc'
             END AS label,
             CASE WHEN p_partkey % 4 = 0 THEN 3702 ELSE 4577 END AS taxon,
             CASE WHEN p_partkey % 11 = 0 THEN NULL
                  WHEN p_partkey % 11 < 6 THEN true ELSE false END AS hosted
           FROM part),
         c AS (
           SELECT *,
             regexp_replace(regexp_replace(descr, '\s*\[Source:.*', '', 'g'),
                            '(?i)' || gene || '\S*', '', 'g') AS cdesc
           FROM g)
         SELECT gene AS gene_id,
           (CASE WHEN curated THEN -500.0e0 ELSE 0.0e0 END)
           + (CASE WHEN descr IS NULL THEN 0.0e0 ELSE -100.0e0 +
               CASE WHEN regexp_matches(cdesc, '(?i)(projected|unknown|uncharacterized|predicted|hypothetical|putative|cDNA)') THEN 100.0e0
                    WHEN regexp_matches(cdesc, '(?i)^(expressed)?\s*protein$') THEN 100.0e0
                    WHEN regexp_matches(cdesc, '^Zm0') THEN 100.0e0
                    WHEN cdesc = '' THEN 100.0e0
                    ELSE 0.0e0 END END)
           + (CASE WHEN label IS NULL THEN 0.0e0 ELSE -50.0e0 +
               CASE WHEN label = gene THEN 50.0e0
                    WHEN regexp_matches(label, '^POPTRDRAFT') THEN 50.0e0
                    ELSE 0.0e0 END END)
           + (CASE WHEN taxon = 3702 THEN -25.0e0 +
               CASE WHEN descr IS NOT NULL AND regexp_matches(cdesc, '^Putative')
                    THEN -100.0e0 ELSE 0.0e0 END
               ELSE 0.0e0 END)
           + (CASE WHEN NOT coalesce(hosted, false) THEN 100.0e0 ELSE 0.0e0 END)
           AS score
         FROM c""",
    "q44_genetree_rep" -> s"WITH RECURSIVE $treeRepCtes $treeRepSelect",
    "q45_domain_clusters" ->
      s"""$domainSweepSql
         SELECT gene::BIGINT AS gene_id, root::BIGINT AS root,
                c_start::BIGINT AS c_start, c_end::BIGINT AS c_end,
                n_members::BIGINT AS n_members, lca_ipr::BIGINT AS lca_ipr
         FROM lca""",
    "q46_domain_roots" ->
      s"""$domainSweepSql,
         roots AS (
           SELECT gene,
             array_to_string(list(root::VARCHAR ORDER BY c_start, c_end, root),
                             ' ') AS roots,
             count(*) AS n_clusters
           FROM lca GROUP BY gene),
         types AS (
           SELECT gene,
             array_to_string(list(entry ORDER BY entry), ',') AS type_counts
           FROM (SELECT gene,
                   ['domain','family','repeat','site'][(ipr % 4) + 1]
                     || ':' || count(*)::VARCHAR AS entry
                 FROM f GROUP BY gene, ipr % 4)
           GROUP BY gene)
         SELECT r.gene::BIGINT AS gene_id, r.roots, r.n_clusters, t.type_counts
         FROM roots r JOIN types t ON r.gene = t.gene""",
    "q47_split_rescue" ->
      """WITH g AS (
           SELECT o_custkey % 500 AS frag, o_orderkey % 2 AS strand,
                  o_orderkey::BIGINT AS gid,
                  (o_orderkey::BIGINT * 7919) % 10000000 AS s,
                  (o_orderkey::BIGINT * 7919) % 10000000
                    + 1000 + (o_orderkey % 100) * 3000 AS e
           FROM orders),
         rg AS (
           SELECT *, row_number() OVER (PARTITION BY frag, strand
                                        ORDER BY s, e, gid) AS idx,
                  count(*) OVER (PARTITION BY frag, strand) AS grp_n
           FROM g),
         pairs AS (
           SELECT a.frag, a.strand, a.gid, a.idx AS gi, a.s AS gs, a.e AS ge,
                  a.grp_n, b.gid AS oid, b.s AS os, b.e AS oe,
                  a.gid * 10 + k.k AS pair_id,
                  (a.gid % 13)::DOUBLE AS gp, (b.gid % 13)::DOUBLE AS op
           FROM rg a
           CROSS JOIN (VALUES (1), (2), (4)) k(k)
           JOIN rg b ON b.frag = a.frag AND b.strand = a.strand
                    AND b.idx = a.idx + k.k),
         t AS (
           SELECT p.*,
             coalesce((SELECT min(r2.idx) FROM rg r2
                       WHERE r2.frag = p.frag AND r2.strand = p.strand
                         AND r2.idx >= p.gi AND r2.e > p.oe),
                      p.grp_n + 1) - p.gi AS tally
           FROM pairs p)
         SELECT pair_id, gid AS gene_id, oid AS other_id,
                tally::BIGINT AS n_between,
           CASE WHEN gp < 10 AND op < 10 THEN
             CASE WHEN gp = 0 AND op = 0
                  THEN tally <= 3 AND abs(gs - os) <= 1000000
                  ELSE tally <= 2 AND abs(gs - os) <= 500000
                       AND abs(ge - oe) <= 500000 END
           ELSE false END AS rescued
         FROM t""",
    "q48_foster_graft" ->
      """WITH tax AS (
           SELECT p_partkey::BIGINT AS id, (p_partkey // 2)::BIGINT AS parent,
             list_reverse(list_filter(list_transform(generate_series(0, 21),
               i -> p_partkey::BIGINT >> i), x -> x >= 1)) AS ancestors,
             'node_' || p_partkey AS name
           FROM part),
         des AS (
           SELECT CASE WHEN p_partkey % 3 = 0
                       THEN p_partkey::BIGINT * 1000 + p_partkey % 90
                       ELSE p_partkey::BIGINT END AS id,
                  'genome_' || p_partkey AS display_name,
                  (p_partkey % 50)::BIGINT AS n_genes
           FROM part),
         present AS (
           SELECT d.id, t.parent AS is_a, t.ancestors, t.name,
                  false AS fostered, d.n_genes
           FROM des d JOIN tax t ON d.id = t.id),
         missing AS (
           SELECT d.id, d.display_name, d.n_genes,
                  sib.parent AS fp, fpt.ancestors AS fp_ancestors
           FROM des d
           LEFT JOIN tax t ON d.id = t.id
           JOIN tax sib ON sib.id = d.id // 1000 AND (d.id // 100) % 10 = 0
           JOIN tax fpt ON fpt.id = sib.parent
           WHERE t.id IS NULL),
         fostered AS (
           SELECT id, fp AS is_a, list_append(fp_ancestors, id) AS ancestors,
                  display_name AS name, true AS fostered, n_genes
           FROM missing),
         adds AS (
           SELECT uid AS id, sum(n_genes) AS fg
           FROM (SELECT unnest(fp_ancestors) AS uid, n_genes FROM missing)
           GROUP BY uid),
         u AS (
           SELECT id, is_a, ancestors, name, fostered, n_genes FROM present
           UNION ALL
           SELECT id, is_a, ancestors, name, fostered, n_genes FROM fostered)
         SELECT u.id, u.is_a,
                coalesce(array_to_string(u.ancestors, ','), '') AS ancestors,
                u.name, u.fostered,
                (u.n_genes + coalesce(a.fg, 0))::BIGINT AS num_genes
         FROM u LEFT JOIN adds a ON u.id = a.id""",
    "q49_asof_custom_plan" ->
      // identical to q39's oracle: inclusive at-or-before max per user
      """SELECT p.user_id, p.event_id,
           epoch_us(p.ts) AS purchase_us,
           (SELECT max(epoch_us(e.ts)) FROM events e
             WHERE e.user_id = p.user_id AND e.event_type = 'error'
               AND epoch_us(e.ts) <= epoch_us(p.ts)) AS last_err_us
         FROM events p WHERE p.event_type = 'purchase'""",
    "q50_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.v, b.v), 4) AS sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.35""",
    "q28_lsh_ann" -> lshAnnOracle("query_id, rank, neighbor_id, sim"),
    "q28b_lsh_ann_portable" -> lshAnnOracle("query_id, rank, neighbor_id"),
    "q51b_embedding_neardup_lsh_portable" ->
      // pair form of the q28 replay: SELF-join on shared
      // (table, bucket), id_a < id_b, exact cosine >= 0.35
      """WITH pl AS (
           SELECT ts.t, ps.p, isq.i,
             ('0x' || substr(md5(ts.t || ':' || ps.p || ':' || isq.i), 1, 15))::BIGINT
               / 576460752303423488.0 - 1.0 AS c
           FROM generate_series(0, 7) ts(t),
                generate_series(0, 5) ps(p),
                generate_series(0, 63) isq(i)),
         proj AS (
           SELECT e.vec_id, pl.t, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.c) AS dot
           FROM embeddings e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY 1, 2, 3),
         buck AS (
           SELECT vec_id, t,
             sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
           FROM proj GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM buck a JOIN buck b
             ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(x.embedding::DOUBLE[],
                                        y.embedding::DOUBLE[]), 4) AS sim
         FROM cand c
           JOIN embeddings x ON x.vec_id = c.id_a
           JOIN embeddings y ON y.vec_id = c.id_b
         WHERE list_cosine_similarity(x.embedding::DOUBLE[],
                                      y.embedding::DOUBLE[]) >= 0.35""",
    "q84b_semantic_neardup_portable" ->
      // full SemDeDup replay under the portable seed quantizer: cells
      // are argmin-L2 over the 16 smallest-id vectors (ties to the
      // lower centroid id), each vector probes its 2 nearest cells,
      // candidates are within-cell pairs, exact cosine verifies
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
           FROM v ORDER BY vec_id LIMIT 16),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT x.vec_id, s.cid,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY list_distance(x.v, s.c), s.cid) AS rk
             FROM v x CROSS JOIN seeds s)
           WHERE rk <= 2),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assign a JOIN assign b
             ON a.cid = b.cid AND a.vec_id < b.vec_id)
         SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(va.v, vb.v), 4) AS sim
         FROM cand c
           JOIN v va ON va.vec_id = c.id_a
           JOIN v vb ON vb.vec_id = c.id_b
         WHERE list_cosine_similarity(va.v, vb.v) >= 0.35""",
    "q52_bpe_tokens" ->
      """SELECT doc_id,
           len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))::BIGINT
             AS n_pieces,
           len(list_filter(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'),
             p -> regexp_matches(p, '^ ?[A-Za-z]+$')))::BIGINT AS n_alpha
         FROM documents""",
    "q57_apss_cosine" ->
      // brute force over the SAME top-8-by-|w| sparsification (1-based
      // dims, ties to the lower dim), unit-normalized; a pair sharing
      // no dim has dot 0 < t, so the dim-join enumerates every
      // qualifying pair
      """WITH x AS (
           SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS w
           FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS t(i)
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY abs(embedding[i]) DESC, i) <= 8),
         n AS (SELECT vec_id, sqrt(sum(w*w)) AS nrm FROM x GROUP BY vec_id),
         xn AS (SELECT x.vec_id, x.dim, x.w / n.nrm AS wn
                FROM x JOIN n USING (vec_id)),
         dots AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.wn * b.wn) AS sim
           FROM xn a JOIN xn b ON a.dim = b.dim AND a.vec_id < b.vec_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, round(sim, 4) AS sim FROM dots WHERE sim >= 0.4""",
    "q62_apss_probe" ->
      // q57's brute force, cross-set: ORDERED (query, corpus) pairs
      // with the query side restricted and self-matches excluded
      """WITH x AS (
           SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS w
           FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS t(i)
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY abs(embedding[i]) DESC, i) <= 8),
         n AS (SELECT vec_id, sqrt(sum(w*w)) AS nrm FROM x GROUP BY vec_id),
         xn AS (SELECT x.vec_id, x.dim, x.w / n.nrm AS wn
                FROM x JOIN n USING (vec_id)),
         dots AS (
           SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                  sum(a.wn * b.wn) AS sim
           FROM xn a JOIN xn b ON a.dim = b.dim AND a.vec_id <> b.vec_id
           WHERE a.vec_id < 100
           GROUP BY 1, 2)
         SELECT query_id, corpus_id, round(sim, 4) AS sim
         FROM dots WHERE sim >= 0.4""",
    "q63_apss_tfidf" ->
      // brute-force TF-IDF cosine over the SAME distinct-3-gram
      // vocabulary: ln(N/df) weights, unit-normalized, pairs meet on
      // shared shingle strings (a no-shared-shingle pair has dot 0 < t)
      s"""WITH sh AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(l) - 2),
               i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS g
           FROM (SELECT doc_id, $toks AS l FROM documents)
           WHERE len(l) >= 3),
         e AS (SELECT doc_id, unnest(g) AS shingle FROM sh),
         corpus AS (SELECT count(*) AS n FROM sh),
         dfreq AS (SELECT shingle, count(*) AS df FROM e GROUP BY shingle),
         w AS (SELECT e.doc_id, e.shingle,
                 ln(corpus.n::DOUBLE / dfreq.df) AS w
               FROM e JOIN dfreq USING (shingle), corpus),
         nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY doc_id),
         xn AS (SELECT w.doc_id, w.shingle, w.w / nrm.nrm AS wn
                FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0),
         dots AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wn * b.wn) AS sim
           FROM xn a JOIN xn b ON a.shingle = b.shingle
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, round(sim, 4) AS sim FROM dots WHERE sim >= 0.6""",
    "q64_decontaminate" ->
      // same distinct-4-gram derivation on both sides; training docs
      // LEFT-join their benchmark hits so zero-hit docs survive
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(l) - 3),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]))) AS gram
           FROM t WHERE len(l) >= 4),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM g
                 WHERE doc_id % 20 <> 0 GROUP BY doc_id),
         hits AS (SELECT g.doc_id, count(*) AS n_hit
                  FROM g JOIN bench USING (gram)
                  WHERE g.doc_id % 20 <> 0 GROUP BY g.doc_id)
         SELECT t.doc_id,
           coalesce(tot.n_grams, 0) AS n_grams,
           coalesce(hits.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(tot.n_grams, 0) > 0
             THEN round(coalesce(hits.n_hit, 0)::DOUBLE / tot.n_grams, 4)
             ELSE 0.0 END AS hit_frac,
           coalesce(hits.n_hit, 0) > 0 AS contaminated
         FROM t LEFT JOIN tot USING (doc_id) LEFT JOIN hits USING (doc_id)
         WHERE t.doc_id % 20 <> 0""",
    "q68_decontaminate_spans" ->
      // positional 4-grams via generate_series (pos is 0-based), hits
      // against the benchmark gram set, then gaps-and-islands: a new
      // span when the gap to the previous hit exceeds the gram width
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 3),
               i -> {'pos': i - 1,
                     'gram': l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]}))
               AS pg
           FROM t WHERE len(l) >= 4),
         gp AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g),
         bench AS (SELECT DISTINCT gram FROM gp WHERE doc_id % 20 = 0),
         hits AS (SELECT gp.doc_id, gp.pos FROM gp JOIN bench USING (gram)
                  WHERE gp.doc_id % 20 <> 0),
         isl AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
               THEN 1 ELSE 0 END AS brk
           FROM hits),
         sp AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM isl)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
           count(*) AS n_hits
         FROM sp GROUP BY doc_id, island""",
    "q71_excise_spans" ->
      // q68's span derivation, then the complement-interval split:
      // segment k spans [prev span end, this span start), plus a tail
      // (last span end, doc length) per doc — clean docs get (0, len)
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 3),
               i -> {'pos': i - 1,
                     'gram': l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]}))
               AS pg
           FROM t WHERE len(l) >= 4),
         gp AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g),
         bench AS (SELECT DISTINCT gram FROM gp WHERE doc_id % 20 = 0),
         hits AS (SELECT gp.doc_id, gp.pos FROM gp JOIN bench USING (gram)
                  WHERE gp.doc_id % 20 <> 0),
         isl AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
               THEN 1 ELSE 0 END AS brk
           FROM hits),
         spp AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM isl),
         spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
                   FROM spp GROUP BY doc_id, island),
         tt AS (SELECT doc_id, l, len(l)::BIGINT AS n FROM t
                WHERE doc_id % 20 <> 0),
         mid AS (SELECT doc_id,
             lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS seg_start,
             s AS seg_end
           FROM spans),
         tail AS (SELECT tt.doc_id, coalesce(mx.me, 0) AS seg_start,
             tt.n AS seg_end
           FROM tt LEFT JOIN (SELECT doc_id, max(e) AS me FROM spans
                              GROUP BY doc_id) mx USING (doc_id)),
         segs AS (SELECT * FROM mid UNION ALL SELECT * FROM tail)
         SELECT segs.doc_id, seg_start::BIGINT AS seg_start,
           seg_end::BIGINT AS seg_end,
           array_to_string(list_slice(tt.l, seg_start + 1, seg_end), ' ')
             AS seg_text
         FROM segs JOIN tt USING (doc_id)
         WHERE seg_end > seg_start""",
    "q26b_minhash_lsh_portable" ->
      // self-join form of the q70b replay: same md5 permutation
      // hashes and raw-value band tuples, candidates are id_a < id_b
      // band collisions over the WHOLE corpus, verified with exact
      // distinct-2-gram Jaccard
      s"""WITH t AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(l) - 1),
               i -> l[i] || ' ' || l[i + 1])) AS g
           FROM (SELECT doc_id, $toks AS l FROM documents)
           WHERE len(l) >= 2),
         e AS (SELECT doc_id, unnest(g) AS gram FROM t),
         hs AS (SELECT doc_id, h.i AS i,
             min(('0x' || substr(md5(h.i || ':' || gram), 1, 15))::BIGINT) AS v
           FROM e, (SELECT unnest(generate_series(0, 31)) AS i) h
           GROUP BY 1, 2),
         bandkey AS (SELECT doc_id, i // 4 AS band,
             string_agg(v::VARCHAR, ',' ORDER BY i) AS key
           FROM hs GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bandkey a JOIN bandkey b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         verify AS (SELECT c.id_a, c.id_b,
             len(list_intersect(ta.g, tb.g))::DOUBLE /
               (len(ta.g) + len(tb.g) - len(list_intersect(ta.g, tb.g))) AS j
           FROM cand c
             JOIN t ta ON ta.doc_id = c.id_a
             JOIN t tb ON tb.doc_id = c.id_b)
         SELECT id_a, id_b, round(j, 4) AS jaccard
         FROM verify WHERE j >= 0.5""",
    // the engine's banded/salted batch plan must match the replay
    // ([[minhashCrossOracle]])
    "q70_decontaminate_minhash" -> minhashCrossOracle,
    "q70b_minhash_portable" -> minhashCrossOracle,
    // same oracle, STREAMING form: bounded input + non-expiring dedup
    // state make the streamed screen equal the batch answer
    "q73_decontaminate_stream" -> minhashCrossOracle,
    "q73b_decontaminate_stream_portable" -> minhashCrossOracle,
    "q69_decontaminate_jaccard" ->
      // cross-set distinct-2-gram Jaccard: intersection via the gram
      // equi-join, union by inclusion-exclusion over the set sizes
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(l) - 1),
               i -> l[i] || ' ' || l[i+1]))) AS gram
           FROM t WHERE len(l) >= 2),
         sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_t, b.doc_id AS id_b, count(*) AS ov
                   FROM g a JOIN g b USING (gram)
                   WHERE a.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
                   GROUP BY 1, 2)
         SELECT id_t AS doc_id, id_b AS bench_id,
           round(ov::DOUBLE / (sa.sz + sb.sz - ov), 4) AS jaccard
         FROM inter
           JOIN sz sa ON sa.doc_id = id_t
           JOIN sz sb ON sb.doc_id = id_b
         WHERE ov::DOUBLE / (sa.sz + sb.sz - ov) >= 0.5""",
    "q65_repetition" ->
      // keep is decided on the ROUNDED fractions, mirroring the engine
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         c1 AS (SELECT doc_id, len(l) AS total, len(list_distinct(l)) AS nd FROM t),
         g2 AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 1),
               i -> l[i] || ' ' || l[i+1])) AS gram
           FROM t WHERE len(l) >= 2),
         c2 AS (SELECT doc_id, sum(cnt) AS total, count(*) AS nd, max(cnt) AS mf
                FROM (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2)
                GROUP BY doc_id),
         g3 AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 2),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS gram
           FROM t WHERE len(l) >= 3),
         c3 AS (SELECT doc_id, count(*) AS total, count(DISTINCT gram) AS nd
                FROM g3 GROUP BY doc_id),
         fr AS (SELECT t.doc_id,
             CASE WHEN c1.total > 0
               THEN round((c1.total - c1.nd)::DOUBLE / c1.total, 4)
               ELSE 0.0 END AS dup_tok_frac,
             coalesce(round(c2.mf::DOUBLE / c2.total, 4), 0.0) AS top_2gram_frac,
             coalesce(round((c3.total - c3.nd)::DOUBLE / c3.total, 4), 0.0)
               AS dup_3gram_frac
           FROM t LEFT JOIN c1 USING (doc_id) LEFT JOIN c2 USING (doc_id)
             LEFT JOIN c3 USING (doc_id))
         SELECT doc_id, dup_tok_frac, top_2gram_frac, dup_3gram_frac,
           (dup_tok_frac <= 0.30 AND top_2gram_frac <= 0.20
             AND dup_3gram_frac <= 0.18) AS keep
         FROM fr""",
    "q67_hash_split" ->
      // same stable md5-of-id bucketing; split decided on the bucket
      s"""WITH a AS (
           SELECT lang,
             CASE WHEN b < 90 THEN 'train'
                  WHEN b < 95 THEN 'val'
                  ELSE 'test' END AS split,
             len($toks) AS n_toks
           FROM (SELECT lang, text,
                   CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
                     AS UBIGINT) % 100 AS b
                 FROM documents))
         SELECT lang, split, count(*) AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens
         FROM a GROUP BY lang, split""",
    "q72_decontam_pipeline" ->
      // the q69 screen, q68 spans, q71 excision, q17 dedup and q67
      // split replayed as one CTE chain over the same corpus split
      s"""WITH t AS (SELECT doc_id, lang, $toks AS l FROM documents),
         g2 AS (SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(l) - 1),
               i -> l[i] || ' ' || l[i+1]))) AS gram
           FROM t WHERE len(l) >= 2),
         sz AS (SELECT doc_id, count(*) AS sz FROM g2 GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_t, b.doc_id AS id_b, count(*) AS ov
                   FROM g2 a JOIN g2 b USING (gram)
                   WHERE a.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
                   GROUP BY 1, 2),
         contaminated AS (SELECT DISTINCT id_t AS doc_id FROM inter
             JOIN sz sa ON sa.doc_id = id_t JOIN sz sb ON sb.doc_id = id_b
           WHERE ov::DOUBLE / (sa.sz + sb.sz - ov) >= 0.5),
         tt AS (SELECT doc_id, lang, l, len(l)::BIGINT AS n FROM t
                WHERE doc_id % 20 <> 0
                  AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         g4 AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 3),
               i -> {'pos': i - 1,
                     'gram': l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]}))
               AS pg
           FROM t WHERE len(l) >= 4),
         gp AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g4),
         bench AS (SELECT DISTINCT gram FROM gp WHERE doc_id % 20 = 0),
         hits AS (SELECT gp.doc_id, gp.pos FROM gp JOIN bench USING (gram)
                  WHERE gp.doc_id IN (SELECT doc_id FROM tt)),
         isl AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
               THEN 1 ELSE 0 END AS brk
           FROM hits),
         spp AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM isl),
         spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
                   FROM spp GROUP BY doc_id, island),
         mid AS (SELECT doc_id,
             lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS seg_start,
             s AS seg_end
           FROM spans),
         tail AS (SELECT tt.doc_id, coalesce(mx.me, 0) AS seg_start,
             tt.n AS seg_end
           FROM tt LEFT JOIN (SELECT doc_id, max(e) AS me FROM spans
                              GROUP BY doc_id) mx USING (doc_id)),
         segs AS (SELECT * FROM mid UNION ALL SELECT * FROM tail),
         segx AS (SELECT segs.doc_id, seg_start::BIGINT AS seg_start,
             seg_end::BIGINT AS seg_end,
             array_to_string(list_slice(tt.l, seg_start + 1, seg_end), ' ')
               AS seg_text
           FROM segs JOIN tt USING (doc_id)
           WHERE seg_end > seg_start),
         ded AS (SELECT doc_id, seg_start, seg_end, n_copies FROM (
             SELECT segx.*, count(*) OVER (PARTITION BY seg_text) AS n_copies,
               row_number() OVER (PARTITION BY seg_text
                                  ORDER BY doc_id * 4294967296 + seg_start) AS rn
             FROM segx) WHERE rn = 1),
         sp2 AS (SELECT doc_id, seg_start, seg_end, n_copies,
             CASE WHEN b < 90 THEN 'train'
                  WHEN b < 95 THEN 'val'
                  ELSE 'test' END AS split
           FROM (SELECT ded.*,
                   CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
                     AS UBIGINT) % 100 AS b
                 FROM ded))
         SELECT t.lang AS lang, sp2.split AS split, count(*) AS n_segs,
           sum(seg_end - seg_start)::BIGINT AS n_tokens,
           sum(n_copies - 1)::BIGINT AS n_dup_segs
         FROM sp2 JOIN t USING (doc_id)
         GROUP BY 1, 2""",
    "q53_dedup_components" ->
      s"""WITH RECURSIVE sh AS (
           SELECT doc_id, lang,
             list_distinct(list_transform(generate_series(1, len(l) - 1),
                                          i -> l[i] || ' ' || l[i + 1])) AS g
           FROM (SELECT doc_id, lang, $toks AS l FROM documents)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
           WHERE len(a.g) > 0 AND len(b.g) > 0
             AND len(list_intersect(a.g, b.g))::DOUBLE /
                 len(list_distinct(list_concat(a.g, b.g))) >= 0.5),
         e AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs),
         reach(src, node) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM e)
           UNION
           SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node)
         SELECT src AS doc_id, min(node) AS component
         FROM reach GROUP BY src""",
    "q74_sequence_pack" ->
      // the naive per-stratum window IS the oracle: the engine's
      // distributed two-level prefix sum must equal it exactly
      s"""WITH t AS (SELECT lang, doc_id, len($toks)::BIGINT AS w
                     FROM documents),
         c AS (SELECT lang, doc_id, w,
                 (sum(w) OVER (PARTITION BY lang ORDER BY doc_id) - w)::BIGINT
                   AS so
               FROM t)
         SELECT lang, so // 512 AS seq_id, count(*) AS n_docs,
           sum(w)::BIGINT AS n_tokens, min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
         FROM c GROUP BY lang, so // 512""",
    "q75_doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         s AS (SELECT doc_id, l, len(l)::BIGINT AS n,
                 unnest(generate_series(0, len(l) - 1, 16))::BIGINT AS st
               FROM t WHERE len(l) > 0)
         SELECT doc_id, st // 16 AS chunk_id, st AS chunk_start,
           least(st + 32, n) - st AS chunk_len,
           l[(st + 1)::INT] AS first_token
         FROM s""",
    "q76_stratified_sample" ->
      // same stable md5-of-id ranking as q67's buckets; k smallest per
      // stratum, ties (impossible for distinct ids, pinned anyway) by id
      """SELECT lang, source, doc_id FROM (
           SELECT lang, source, doc_id,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
                 AS UBIGINT), doc_id) AS rn
           FROM documents)
         WHERE rn <= 3""",
    "q77_vocab_build" ->
      s"""SELECT token, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
         GROUP BY token
         ORDER BY n_occurrences DESC, token LIMIT 50""",
    "q78_corpus_stats" ->
      s"""SELECT lang, count(*) AS n_docs, sum(w)::BIGINT AS n_tokens,
           quantile_cont(w, 0.5) AS p50, quantile_cont(w, 0.9) AS p90,
           quantile_cont(w, 0.99) AS p99, max(w) AS max_tokens
         FROM (SELECT lang, len($toks)::BIGINT AS w FROM documents)
         GROUP BY lang""",
    "q79_greedy_pack" ->
      // rank-lockstep recursion: every (lang, shard) group advances one
      // row per iteration, so depth = max group size = the 32-doc shard
      s"""WITH RECURSIVE t AS (
           SELECT lang, doc_id // 32 AS shard, doc_id,
             len($toks)::BIGINT AS w
           FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang, shard
                                            ORDER BY doc_id) AS rn
               FROM t),
         g AS (
           SELECT lang, shard, rn, doc_id, w,
             0::BIGINT AS seq, w AS running
           FROM r WHERE rn = 1
           UNION ALL
           SELECT n.lang, n.shard, n.rn, n.doc_id, n.w,
             CASE WHEN g.running > 0 AND g.running + n.w > 256
                  THEN g.seq + 1 ELSE g.seq END,
             CASE WHEN g.running > 0 AND g.running + n.w > 256
                  THEN n.w ELSE g.running + n.w END
           FROM g JOIN r n
             ON n.lang = g.lang AND n.shard = g.shard AND n.rn = g.rn + 1)
         SELECT lang, shard, seq, count(*) AS n_docs,
           sum(w)::BIGINT AS n_tokens, min(doc_id) AS first_doc
         FROM g GROUP BY lang, shard, seq""",
    "q80_mixing_sample" -> {
      val rateCase = mixRatesBp
        .map { case (l, bp) => s"WHEN lang = '$l' THEN $bp" }
        .mkString(" ")
      s"""WITH a AS (
           SELECT lang,
             CASE WHEN sb < 90 THEN 'train'
                  WHEN sb < 95 THEN 'val'
                  ELSE 'test' END AS split,
             (mb < CASE $rateCase ELSE 0 END) AS keep,
             len($toks)::BIGINT AS n_toks
           FROM (SELECT lang, text,
                   CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
                     AS UBIGINT) % 100 AS sb,
                   CAST(('0x' || substring(md5(doc_id::VARCHAR || ':mix'), 1, 8))
                     AS UBIGINT) % 10000 AS mb
                 FROM documents))
         SELECT lang, split, count(*) AS n_docs,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           sum(CASE WHEN keep THEN n_toks ELSE 0 END)::BIGINT
             AS n_tokens_kept
         FROM a GROUP BY lang, split"""
    },
    "q81_curation_pipeline" ->
      // q19's quality + q65's repetition fractions + q23's fingerprint
      // + q17's dedup + q67's split replayed as one CTE chain
      s"""WITH t AS (SELECT doc_id, lang, $toks AS l FROM documents),
         c1 AS (SELECT doc_id, len(l)::BIGINT AS total,
                  len(list_distinct(l))::BIGINT AS nd FROM t),
         g3 AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 2),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS gram
           FROM t WHERE len(l) >= 3),
         c3 AS (SELECT doc_id, count(*) AS total, count(DISTINCT gram) AS nd
                FROM g3 GROUP BY doc_id),
         fr AS (SELECT t.doc_id, t.lang, t.l,
             (least(c1.total, 100) * 50 +
              CASE WHEN c1.total > 0 THEN (c1.nd * 5000) // c1.total
                   ELSE 0 END) / 10000.0 AS quality,
             CASE WHEN c1.total > 0
               THEN round((c1.total - c1.nd)::DOUBLE / c1.total, 4)
               ELSE 0.0 END AS f1,
             coalesce(round((c3.total - c3.nd)::DOUBLE / c3.total, 4), 0.0)
               AS f3
           FROM t JOIN c1 USING (doc_id) LEFT JOIN c3 USING (doc_id)),
         kept AS (SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(l)), ' ')) AS fp,
             len(l)::BIGINT AS n_toks
           FROM fr WHERE quality >= 0.48 AND f1 <= 0.60 AND f3 <= 0.05),
         canon AS (SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
           FROM kept GROUP BY md5(fp)),
         k2 AS (SELECT k.lang, k.n_toks, c.n_copies,
             CASE WHEN CAST(('0x' || substring(md5(k.doc_id::VARCHAR), 1, 8))
                         AS UBIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST(('0x' || substring(md5(k.doc_id::VARCHAR), 1, 8))
                         AS UBIGINT) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
           FROM kept k JOIN canon c ON k.doc_id = c.canonical_id)
         SELECT lang, split, count(*) AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens,
           sum(n_copies - 1)::BIGINT AS n_dup_dropped
         FROM k2 GROUP BY lang, split""",
    "q82_epoch_mix" -> {
      val wCase = epochWeightsCp
        .map { case (l, w) => s"WHEN lang = '$l' THEN $w" }
        .mkString(" ")
      // same centi-epoch arithmetic + salted fractional-epoch bucket
      s"""WITH t AS (SELECT lang, doc_id, len($toks)::BIGINT AS n_toks,
             CASE $wCase ELSE 0 END AS wcp
           FROM documents),
         e AS (SELECT lang, doc_id, n_toks, wcp // 100 AS fullep,
             (wcp % 100) * 100 AS frac_bp,
             unnest(generate_series(0, wcp // 100)) AS epoch
           FROM t)
         SELECT lang, epoch, count(*) AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens
         FROM e
         WHERE epoch < fullep OR
           CAST(('0x' || substring(md5(doc_id::VARCHAR || ':epoch'), 1, 8))
             AS UBIGINT) % 10000 < frac_bp
         GROUP BY lang, epoch"""
    },
    "q87_corpus_shuffle" ->
      // same salted-hash order key; the distributed rank replayed as
      // the naive global row_number
      """SELECT doc_id,
           row_number() OVER (ORDER BY
             CAST(('0x' || substring(md5(doc_id::VARCHAR || ':shuffle'),
               1, 7)) AS UBIGINT) * 4294967296 + doc_id) - 1
             AS shuffle_rank
         FROM documents""",
    "q86_train_pipeline" ->
      // q81's curation chain carried through to q74's offset-packing
      // window, replayed naively (tractable at oracle scale)
      s"""WITH t AS (SELECT doc_id, lang, $toks AS l FROM documents),
         c1 AS (SELECT doc_id, len(l)::BIGINT AS total,
                  len(list_distinct(l))::BIGINT AS nd FROM t),
         g3 AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 2),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS gram
           FROM t WHERE len(l) >= 3),
         c3 AS (SELECT doc_id, count(*) AS total, count(DISTINCT gram) AS nd
                FROM g3 GROUP BY doc_id),
         fr AS (SELECT t.doc_id, t.lang, t.l,
             (least(c1.total, 100) * 50 +
              CASE WHEN c1.total > 0 THEN (c1.nd * 5000) // c1.total
                   ELSE 0 END) / 10000.0 AS quality,
             CASE WHEN c1.total > 0
               THEN round((c1.total - c1.nd)::DOUBLE / c1.total, 4)
               ELSE 0.0 END AS f1,
             coalesce(round((c3.total - c3.nd)::DOUBLE / c3.total, 4), 0.0)
               AS f3
           FROM t JOIN c1 USING (doc_id) LEFT JOIN c3 USING (doc_id)),
         kept AS (SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(l)), ' ')) AS fp,
             len(l)::BIGINT AS n_toks
           FROM fr WHERE quality >= 0.48 AND f1 <= 0.60 AND f3 <= 0.05),
         canon AS (SELECT min(doc_id) AS canonical_id
           FROM kept GROUP BY md5(fp)),
         k2 AS (SELECT k.lang, k.doc_id, k.n_toks,
             CASE WHEN CAST(('0x' || substring(md5(k.doc_id::VARCHAR), 1, 8))
                         AS UBIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST(('0x' || substring(md5(k.doc_id::VARCHAR), 1, 8))
                         AS UBIGINT) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
           FROM kept k JOIN canon c ON k.doc_id = c.canonical_id),
         p AS (SELECT lang, split, n_toks,
             coalesce(sum(n_toks) OVER (PARTITION BY lang, split
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 512 AS seq
           FROM k2)
         SELECT lang, split, count(*) AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens,
           count(DISTINCT seq)::BIGINT AS n_seqs
         FROM p GROUP BY lang, split""",
    "q85_bucketed_batches" ->
      // same bucket arithmetic; the distributed rank replayed as the
      // naive row_number window (tractable at oracle scale)
      s"""WITH t AS (SELECT doc_id, len($toks)::BIGINT AS n FROM documents),
         b AS (SELECT doc_id, n,
             CAST(ceil(n / 32.0) AS BIGINT) AS bucket FROM t),
         r AS (SELECT doc_id, n, bucket,
             (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
               // 16 AS batch
           FROM b)
         SELECT bucket, batch, count(*) AS n_seqs, max(n) AS max_toks,
           sum(n)::BIGINT AS n_tokens,
           (max(n) * count(*) - sum(n))::BIGINT AS padding_waste
         FROM r GROUP BY bucket, batch""",
    "q83_selfdedup_spans" ->
      // q68's positional-gram + island replay, with the benchmark gram
      // set replaced by the corpus's own duplicated grams (df >= 2
      // distinct docs; the min-id doc owns the gram and produces no row)
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 3),
               i -> {'pos': i - 1,
                     'gram': l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]}))
               AS pg
           FROM t WHERE len(l) >= 4),
         gp AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g),
         st AS (SELECT gram, min(doc_id) AS owner FROM gp
                GROUP BY gram HAVING min(doc_id) < max(doc_id)),
         hits AS (SELECT gp.doc_id, gp.pos FROM gp JOIN st USING (gram)
                  WHERE gp.doc_id <> st.owner),
         isl AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
               THEN 1 ELSE 0 END AS brk
           FROM hits),
         sp AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM isl)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
           count(*) AS n_hits
         FROM sp GROUP BY doc_id, island""",
    "q88_pii_redact" ->
      // the patterns interpolate from graft.functions.Redaction — ONE
      // source of truth, restricted to the Java/RE2-identical subset;
      // the injected PII is built by the same ||-concatenation the
      // engine uses, so the gate exercises redaction, not injection
      s"""WITH aug AS (
           SELECT doc_id,
             text || ' contact doc' || doc_id::VARCHAR ||
               '@example.com at 10.' || (doc_id % 256)::VARCHAR || '.0.' ||
               (doc_id % 100)::VARCHAR || ' call 555-' ||
               lpad((doc_id * 7 % 1000)::VARCHAR, 3, '0') || '-' ||
               lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(t,
             '${graft.functions.Redaction.EmailPattern}'))::BIGINT AS n_email,
           len(regexp_extract_all(t,
             '${graft.functions.Redaction.Ipv4Pattern}'))::BIGINT AS n_ipv4,
           len(regexp_extract_all(t,
             '${graft.functions.Redaction.PhonePattern}'))::BIGINT AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '${graft.functions.Redaction.EmailPattern}', '<EMAIL>', 'g'),
             '${graft.functions.Redaction.Ipv4Pattern}', '<IP>', 'g'),
             '${graft.functions.Redaction.PhonePattern}', '<PHONE>', 'g'))
             AS redacted_md5
         FROM aug""",
    "q89_quality_auc" ->
      // tie-averaged Mann-Whitney AUC replayed rank-free: per-score
      // counts, a window prefix sum for each run's start, 2*R+ folded
      // as an exact BIGINT, one floor-scaled division at the end —
      // identical integer arithmetic to Eval.binaryAuc
      s"""WITH t AS (SELECT len($toks)::BIGINT AS n,
             len(list_distinct($toks))::BIGINT AS dd,
             (lang = 'en')::BIGINT AS pos
           FROM documents),
         sc AS (SELECT least(n, 100) * 50 +
             CASE WHEN n > 0 THEN (dd * 5000) // n ELSE 0 END AS score, pos
           FROM t),
         g AS (SELECT score, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS npos
           FROM sc GROUP BY score),
         r AS (SELECT score, cnt, npos,
             coalesce(sum(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start FROM g),
         a AS (SELECT sum(npos * (start * 2 + cnt + 1))::BIGINT AS rank_sum2,
             sum(npos)::BIGINT AS n_pos, sum(cnt - npos)::BIGINT AS n_neg
           FROM r)
         SELECT CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             floor(((rank_sum2 - n_pos * (n_pos + 1))::DOUBLE * 1000000.0)
               / (n_pos::DOUBLE * n_neg * 2.0))::BIGINT
           END AS auc_ppm,
           n_pos, n_neg, rank_sum2
         FROM a""",
    "q90_normalize" ->
      // nfcProbes interpolate VERBATIM (the decomposed base+combining
      // bytes ride inside the SQL literal), so both engines normalize
      // the identical input; utf8proc's nfc_normalize is the oracle
      // for the JDK kernel
      s"""WITH aug AS (
           SELECT doc_id, text || CASE doc_id % 4
               WHEN 0 THEN '${nfcProbes(0)}'
               WHEN 1 THEN '${nfcProbes(1)}'
               WHEN 2 THEN '${nfcProbes(2)}'
               ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           nfc_normalize(t) <> t AS changed,
           length(t)::BIGINT AS n_before,
           length(nfc_normalize(t))::BIGINT AS n_after,
           md5(nfc_normalize(t)) AS norm_md5,
           md5(lower(trim(regexp_replace(nfc_normalize(t), '\\s+', ' ', 'g'))))
             AS clean_md5
         FROM aug""",
    "q91_decontaminate_bloom" ->
      // the q64 derivation at width 3 / split %10 — the Bloom prefilter
      // is a physical-plan device, invisible to the semantics, so the
      // oracle is the plain exact screen
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(l) - 2),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
           FROM t WHERE len(l) >= 3),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM g
                 WHERE doc_id % 10 <> 0 GROUP BY doc_id),
         hits AS (SELECT g.doc_id, count(*) AS n_hit
                  FROM g JOIN bench USING (gram)
                  WHERE g.doc_id % 10 <> 0 GROUP BY g.doc_id)
         SELECT t.doc_id,
           coalesce(tot.n_grams, 0) AS n_grams,
           coalesce(hits.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(tot.n_grams, 0) > 0
             THEN round(coalesce(hits.n_hit, 0)::DOUBLE / tot.n_grams, 4)
             ELSE 0.0 END AS hit_frac,
           coalesce(hits.n_hit, 0) > 0 AS contaminated
         FROM t LEFT JOIN tot USING (doc_id) LEFT JOIN hits USING (doc_id)
         WHERE t.doc_id % 10 <> 0""",
    "q92_heavy_hitters" ->
      // the MG sketch is a candidate-generation device; semantically
      // the query is "exact counts of terms with cnt >= ceil(N/1000)",
      // with the threshold in pure integer arithmetic on both engines
      s"""WITH t AS (SELECT $toks AS l FROM documents),
         g AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
             i -> l[i] || ' ' || l[i+1])) AS term
           FROM t WHERE len(l) >= 2),
         n AS (SELECT count(*)::BIGINT AS n FROM g),
         c AS (SELECT term, count(*)::BIGINT AS cnt FROM g GROUP BY term)
         SELECT c.term, c.cnt FROM c, n
         WHERE c.cnt >= (n.n + 999) // 1000""",
    "q93_length_quantiles" ->
      // type-1 quantile replay: cumulative-count window over distinct
      // values, integer target rank ceil(num*N/den), pick the value
      // whose (start, start+cnt] range covers the target
      s"""WITH v AS (SELECT greatest(coalesce(len($toks), 0), 0)::BIGINT
             AS value FROM documents),
         n AS (SELECT count(*)::BIGINT AS n FROM v),
         c AS (SELECT value, count(*)::BIGINT AS cnt FROM v GROUP BY value),
         r AS (SELECT value, cnt,
             coalesce(sum(cnt) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start FROM c),
         qs AS (SELECT pct_num::BIGINT AS pct_num, pct_den::BIGINT AS pct_den
           FROM (VALUES (10, 100), (25, 100), (50, 100),
                        (75, 100), (90, 100), (99, 100)) AS t(pct_num, pct_den))
         SELECT qs.pct_num, qs.pct_den, r.value
         FROM qs, n, r
         WHERE r.start < (qs.pct_num * n.n + qs.pct_den - 1) // qs.pct_den
           AND (qs.pct_num * n.n + qs.pct_den - 1) // qs.pct_den
             <= r.start + r.cnt""",
    "q94_leak_safe_split" ->
      // q53's component derivation, then q67's md5 bucket applied to
      // the GROUP id (component representative; singletons fall back
      // to their own doc_id)
      s"""WITH RECURSIVE sh AS (
           SELECT doc_id, lang,
             list_distinct(list_transform(generate_series(1, len(l) - 1),
                                          i -> l[i] || ' ' || l[i + 1])) AS g
           FROM (SELECT doc_id, lang, $toks AS l FROM documents)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
           WHERE len(a.g) > 0 AND len(b.g) > 0
             AND len(list_intersect(a.g, b.g))::DOUBLE /
                 len(list_distinct(list_concat(a.g, b.g))) >= 0.5),
         e AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs),
         reach(src, node) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM e)
           UNION
           SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
         comp AS (SELECT src AS doc_id, min(node) AS component
                  FROM reach GROUP BY src),
         g AS (SELECT d.doc_id,
                 coalesce(c.component, d.doc_id) AS group_id
               FROM documents d LEFT JOIN comp c USING (doc_id))
         SELECT doc_id, group_id,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, group_id,
                 CAST(('0x' || substring(md5(group_id::VARCHAR), 1, 8))
                   AS UBIGINT) % 100 AS b
               FROM g)""",
    "q95_neardup_pagerank" -> q95OracleSql,
    "q119_bpe_learn" -> q119OracleSql,
    "q128_bpe_roundtrip" -> q128OracleSql,
    "q121_incremental_heavy_hitters" ->
      // THE EQUIVALENCE PROOF: q92's exact-recount oracle over ALL of
      // v2 — the engine's carry + churn-delta must hash-match it
      s"""WITH t AS (SELECT $toks AS l
           FROM (SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END
                 AS text
             FROM documents WHERE doc_id % 5 <> 0)),
         g AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
             i -> l[i] || ' ' || l[i+1])) AS term
           FROM t WHERE len(l) >= 2),
         n AS (SELECT count(*)::BIGINT AS n FROM g),
         c AS (SELECT term, count(*)::BIGINT AS cnt FROM g GROUP BY term)
         SELECT c.term, c.cnt FROM c, n
         WHERE c.cnt >= (n.n + 999) // 1000""",
    "q96_hard_negatives" ->
      // q50's exact pair derivation, the q53 component closure, then
      // the q21 ranked-knn replay with the same-group join exclusion
      """WITH RECURSIVE e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
         ed AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
         reach(src, node) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM ed)
           UNION SELECT r.src, ed.v FROM reach r JOIN ed ON ed.u = r.node),
         comp AS (SELECT src AS id, min(node) AS component
                  FROM reach GROUP BY src),
         gq AS (SELECT e.vec_id, e.v,
                  coalesce(c.component, e.vec_id) AS grp
                FROM e LEFT JOIN comp c ON c.id = e.vec_id)
         SELECT query_id, rank, neighbor_id, sim FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.v, c.v), 4) AS sim,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id) AS rank
           FROM gq q JOIN gq c
             ON c.vec_id <> q.vec_id AND c.grp <> q.grp
           WHERE q.vec_id < 20)
         WHERE rank <= 5""",
    "q97_inverted_index" ->
      // positional postings replay: per-(term,doc) sorted positions,
      // zero-padded doc prefix makes lexical order numeric, md5 over
      // the ';'-joined canonical strings per (term, shard)
      s"""WITH t AS (SELECT doc_id, $toks AS l FROM documents),
         tp AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l)),
               i -> {'pos': i - 1, 'term': l[i]})) AS u
           FROM t WHERE len(l) >= 1),
         f AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tp),
         pd AS (SELECT term, doc_id, list_sort(list(pos)) AS ps
                FROM f GROUP BY term, doc_id),
         sd AS (SELECT term, doc_id // 100 AS shard, len(ps)::BIGINT AS tf,
                  lpad(doc_id::VARCHAR, 12, '0') || ':' ||
                    array_to_string(list_transform(ps, x -> x::VARCHAR), ',')
                    AS s
                FROM pd)
         SELECT term, shard, count(*)::BIGINT AS df_shard,
           sum(tf)::BIGINT AS tf_shard,
           md5(string_agg(s, ';' ORDER BY s)) AS postings_md5
         FROM sd GROUP BY term, shard""",
    "q99_snapshot_diff" ->
      // same chr(1)-separated chr(2)-null-marked digest on both
      // engines; full outer join classifies
      """WITH v1 AS (SELECT doc_id,
             md5(concat_ws(chr(1), coalesce(text, chr(2)),
               coalesce(lang, chr(2)))) AS old_md5
           FROM documents WHERE doc_id % 7 <> 0),
         v2 AS (SELECT doc_id,
             md5(concat_ws(chr(1),
               coalesce(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                             ELSE text END, chr(2)),
               coalesce(lang, chr(2)))) AS new_md5
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN old_md5 IS NULL THEN 'added'
                WHEN new_md5 IS NULL THEN 'removed'
                WHEN old_md5 = new_md5 THEN 'unchanged'
                ELSE 'changed' END AS status,
           old_md5, new_md5
         FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id""",
    "q100_incremental_decontaminate" ->
      // THE EQUIVALENCE PROOF: the oracle is the FULL 4-gram screen
      // over v2 — the engine's carry-unchanged + re-screen-delta
      // union must hash-match recomputing everything from scratch
      s"""WITH v2 AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END
               AS text
           FROM documents WHERE doc_id % 20 <> 0 AND doc_id % 5 <> 0),
         tv AS (SELECT doc_id, $toks AS l FROM v2),
         gt AS (SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(l) - 3),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])))
               AS gram
           FROM tv WHERE len(l) >= 4),
         tb AS (SELECT $toks AS l FROM documents WHERE doc_id % 20 = 0),
         gb0 AS (SELECT
             unnest(list_distinct(list_transform(generate_series(1, len(l) - 3),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])))
               AS gram
           FROM tb WHERE len(l) >= 4),
         gb AS (SELECT DISTINCT gram FROM gb0),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM gt GROUP BY doc_id),
         hits AS (SELECT gt.doc_id, count(*) AS n_hit
                  FROM gt JOIN gb USING (gram) GROUP BY gt.doc_id)
         SELECT v2.doc_id,
           coalesce(tot.n_grams, 0) AS n_grams,
           coalesce(hits.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(tot.n_grams, 0) > 0
             THEN round(coalesce(hits.n_hit, 0)::DOUBLE / tot.n_grams, 4)
             ELSE 0.0 END AS hit_frac,
           coalesce(hits.n_hit, 0) > 0 AS contaminated
         FROM v2 LEFT JOIN tot USING (doc_id) LEFT JOIN hits USING (doc_id)""",
    "q101_percentile_rank" ->
      // cumulative-count window over distinct values replays the
      // prefix-sum rank; the ppm product in pure integer arithmetic
      s"""WITH v AS (SELECT doc_id,
             greatest(coalesce(len($toks), 0), 0)::BIGINT AS n_tokens
           FROM documents),
         n AS (SELECT count(*)::BIGINT AS n FROM v),
         c AS (SELECT n_tokens AS val, count(*)::BIGINT AS cnt
               FROM v GROUP BY 1),
         r AS (SELECT val,
             coalesce(sum(cnt) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start FROM c)
         SELECT v.doc_id, v.n_tokens,
           (r.start * 1000000) // greatest(n.n - 1, 1) AS pct_rank_ppm
         FROM v CROSS JOIN n JOIN r ON r.val = v.n_tokens""",
    "q102_genomics_align" ->
      // the expansion reconstructed from first principles (substr +
      // repeat over the same doc_id-derived run lengths) and the
      // identity count replayed per character; NULL e1 marks the
      // malformed/exhausted-cigar docs
      """WITH p AS (
           SELECT doc_id,
             (doc_id % 7 + 1)::INT AS a, (doc_id % 3 + 1)::INT AS b,
             (doc_id % 5 + 1)::INT AS c,
             md5(doc_id::VARCHAR || ':ga') AS sa,
             md5(doc_id::VARCHAR || ':gb') AS sb
           FROM documents),
         e AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 IN (0, 1) THEN NULL
                  ELSE substr(sa,1,a) || repeat('-',b) || substr(sa,a+1,16-a)
             END AS e1,
             substr(sb,1,c) || '-' || substr(sb,c+1,16-c) AS e2
           FROM p),
         m AS (SELECT doc_id, e1, e2,
           len(list_filter(generate_series(1, least(len(e1),len(e2))),
             i -> substr(e1,i,1) <> '-' AND substr(e2,i,1) <> '-'))::BIGINT
             AS t,
           len(list_filter(generate_series(1, least(len(e1),len(e2))),
             i -> substr(e1,i,1) <> '-' AND substr(e2,i,1) <> '-'
                  AND substr(e1,i,1) = substr(e2,i,1)))::BIGINT AS mm
           FROM e)
         SELECT doc_id, md5(e1) AS exp_a_md5, md5(e2) AS exp_b_md5,
           CASE WHEN e1 IS NULL THEN NULL
                WHEN t = 0 THEN 0
                ELSE round(mm * 65536.0 / t)::BIGINT END AS pct_id_64k
         FROM m""",
    "q103_bm25" ->
      // full BM25 replay on the wide corpus: tf/dl/df from the
      // reconstructed token lists, idf through the integer-log CTE
      // chain, exact scaled-rational saturation, top-10 per query
      bm25OracleOver(
        s"SELECT doc_id, $wideToks AS l FROM documents",
        """SELECT DISTINCT doc_id AS query_id, unnest(l[1:5]) AS term
                FROM wd WHERE doc_id < 8"""),
    "q127_incremental_bm25" ->
      // THE EQUIVALENCE PROOF for the maintained artifact's SERVING
      // path: the from-scratch BM25 replay over all of v2 — scoring
      // from the incrementally-patched LEB128 artifact must produce
      // the identical top-10 per query
      bm25OracleOver(
        s"""SELECT doc_id,
              CASE WHEN doc_id % 11 = 0 THEN list_append(l0, 'v2')
                   ELSE l0 END AS l
            FROM (SELECT doc_id, $wideToks AS l0 FROM documents
                  WHERE doc_id % 5 <> 0)""",
        s"""SELECT DISTINCT doc_id AS query_id, unnest(l0[1:5]) AS term
            FROM (SELECT doc_id, $wideToks AS l0 FROM documents)
            WHERE doc_id < 8"""),
    "q105_incremental_neardup" ->
      // THE EQUIVALENCE PROOF: the full MinHash+LSH+verify
      // screen replayed over ALL of v2 — the engine's carry-unchanged
      // + re-screen-delta union must hash-match the full recompute
      minhashOracleOver(
        """SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END
           FROM documents WHERE doc_id % 20 <> 0 AND doc_id % 5 <> 0"""),
    "q106_decontaminate_wide" ->
      // q91's exact-screen oracle over the reconstructed wide corpus
      s"""WITH t AS (SELECT doc_id, $wideToks AS l FROM documents),
         g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(l) - 2),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS gram
           FROM t WHERE len(l) >= 3),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM g
                 WHERE doc_id % 10 <> 0 GROUP BY doc_id),
         hits AS (SELECT g.doc_id, count(*) AS n_hit
                  FROM g JOIN bench USING (gram)
                  WHERE g.doc_id % 10 <> 0 GROUP BY g.doc_id)
         SELECT t.doc_id,
           coalesce(tot.n_grams, 0) AS n_grams,
           coalesce(hits.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(tot.n_grams, 0) > 0
             THEN round(coalesce(hits.n_hit, 0)::DOUBLE / tot.n_grams, 4)
             ELSE 0.0 END AS hit_frac,
           coalesce(hits.n_hit, 0) > 0 AS contaminated
         FROM t LEFT JOIN tot USING (doc_id) LEFT JOIN hits USING (doc_id)
         WHERE t.doc_id % 10 <> 0""",
    "q107_heavy_hitters_wide" ->
      // exact unigram counts >= ceil(N/1000) over the wide corpus
      s"""WITH t AS (SELECT $wideToks AS l FROM documents),
         g AS (SELECT unnest(l) AS term FROM t),
         n AS (SELECT count(*)::BIGINT AS n FROM g),
         c AS (SELECT term, count(*)::BIGINT AS cnt FROM g GROUP BY term)
         SELECT c.term, c.cnt FROM c, n
         WHERE c.cnt >= (n.n + 999) // 1000""",
    "q108_vocab_wide" ->
      s"""SELECT token, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest($wideToks) AS token FROM documents)
         GROUP BY token
         ORDER BY n_occurrences DESC, token LIMIT 50""",
    "q109_postings_compressed" ->
      postingsCompressedOracleOver("SELECT doc_id, text FROM documents"),
    "q118_incremental_index" ->
      // THE EQUIVALENCE PROOF (the q105 pattern applied to the index):
      // the FULL compressed-artifact build replayed over all of v2 —
      // the engine's carry-clean-shards + rebuild-dirty-pairs union
      // must be hash-identical to rebuilding everything from scratch
      postingsCompressedOracleOver(
        """SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END
               AS text
           FROM documents WHERE doc_id % 5 <> 0"""),
    "q110_phrase_search" ->
      // sliding-window exact-sequence replay: for each (phrase, doc),
      // count the alignments where every phrase token matches
      s"""WITH ph AS (
           SELECT 0 AS phrase_id, l[1:3] AS pl
           FROM (SELECT $toks AS l FROM documents WHERE doc_id = 1)
           UNION ALL
           SELECT doc_id::INT, l[1:2]
           FROM (SELECT doc_id, $toks AS l FROM documents
                 WHERE doc_id BETWEEN 1 AND 5)),
         t AS (SELECT doc_id, $toks AS l FROM documents),
         m AS (SELECT ph.phrase_id, t.doc_id,
             len(list_filter(generate_series(1, len(l) - len(pl) + 1),
               i -> len(list_filter(generate_series(1, len(pl)),
                      j -> l[i+j-1] = pl[j])) = len(pl))) AS n_matches
           FROM t, ph WHERE len(l) >= len(pl))
         SELECT phrase_id::BIGINT AS phrase_id, doc_id,
           n_matches::BIGINT AS n_matches
         FROM m WHERE n_matches > 0""",
    "q113_dsir_select" ->
      // hashed-bucket add-one LLR through the integer-log CTE chain,
      // per-doc integer sum, truncate-toward-zero per-token average
      // (DuckDB `//` and Spark `div` BOTH truncate toward zero — the
      // q113 gate pinned this on negative sums), median keep via the
      // q93 cumulative-window target-rank replay
      s"""WITH RECURSIVE
         raw_tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         tgt_tok AS (SELECT unnest($wideToks) AS tok FROM documents),
         rb AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024
                  AS b, count(*)::BIGINT AS c
                FROM raw_tok GROUP BY 1),
         tb AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024
                  AS b, count(*)::BIGINT AS c
                FROM tgt_tok GROUP BY 1),
         tot AS (SELECT (SELECT sum(c) FROM rb)::BIGINT AS tr,
                        (SELECT sum(c) FROM tb)::BIGINT AS tt),
         buckets AS (SELECT r.b, coalesce(t.c, 0) + 1 AS nt, r.c + 1 AS nr
                     FROM rb r LEFT JOIN tb t ON t.b = r.b),
         ms AS (SELECT DISTINCT nt AS m FROM buckets
                UNION SELECT DISTINCT nr FROM buckets
                UNION SELECT tt + 1024 FROM tot
                UNION SELECT tr + 1024 FROM tot),
         $ilnCtes,
         bl AS (SELECT buckets.b,
             (it.v - (SELECT v FROM iln JOIN tot ON iln.m = tot.tt + 1024))
           - (ir.v - (SELECT v FROM iln JOIN tot ON iln.m = tot.tr + 1024))
               AS llr
           FROM buckets JOIN iln it ON it.m = buckets.nt
             JOIN iln ir ON ir.m = buckets.nr),
         doc AS (SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
           FROM raw_tok),
         sc AS (SELECT doc.doc_id, count(*)::BIGINT AS n_tokens,
                  sum(bl.llr)::BIGINT AS llr_scaled
                FROM doc JOIN bl ON bl.b = doc.b GROUP BY doc.doc_id),
         av AS (SELECT *,
             llr_scaled // greatest(n_tokens, 1) AS avg_llr
           FROM sc),
         n AS (SELECT count(*)::BIGINT AS n FROM av),
         c AS (SELECT avg_llr AS val, count(*)::BIGINT AS cnt
               FROM av GROUP BY 1),
         r AS (SELECT val, cnt,
             coalesce(sum(cnt) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start FROM c),
         med AS (SELECT val FROM r, n
                 WHERE start < (50 * n.n + 99) // 100
                   AND (50 * n.n + 99) // 100 <= start + cnt)
         SELECT av.doc_id, av.n_tokens, av.llr_scaled, av.avg_llr,
           (av.avg_llr >= med.val) AS keep
         FROM av, med""",
    "q115_proximity_search" ->
      // exact pair counts within the window, replayed per doc with a
      // nested list lambda over the two position lists
      s"""WITH p AS (SELECT l[1] AS w1, l[2] AS w2
           FROM (SELECT $toks AS l FROM documents WHERE doc_id = 2)),
         t AS (SELECT doc_id, $toks AS l FROM documents),
         pos AS (SELECT doc_id,
             list_filter(generate_series(1, len(l)), i -> l[i] = p.w1)
               AS pa,
             list_filter(generate_series(1, len(l)), i -> l[i] = p.w2)
               AS pb
           FROM t, p),
         m AS (SELECT doc_id,
             len(flatten(list_transform(pa,
               i -> list_filter(pb, j -> abs(i - j) <= 4)))) AS n_pairs
           FROM pos)
         SELECT doc_id, n_pairs::BIGINT AS n_pairs
         FROM m WHERE n_pairs > 0""",
    "q122_phrase_wide" ->
      // the q110 sliding-window replay over the reconstructed wide
      // corpus, with the pinned frequent-token phrases
      s"""WITH ph AS (
           SELECT 0 AS phrase_id, ['w1', 'w2'] AS pl
           UNION ALL SELECT 1, ['w2', 'w1']
           UNION ALL SELECT 2, ['w1', 'w1']
           UNION ALL SELECT 3, ['w1', 'w2', 'w1']),
         t AS (SELECT doc_id, $wideToks AS l FROM documents),
         m AS (SELECT ph.phrase_id, t.doc_id,
             len(list_filter(generate_series(1, len(l) - len(pl) + 1),
               i -> len(list_filter(generate_series(1, len(pl)),
                      j -> l[i+j-1] = pl[j])) = len(pl))) AS n_matches
           FROM t, ph WHERE len(l) >= len(pl))
         SELECT phrase_id::BIGINT AS phrase_id, doc_id,
           n_matches::BIGINT AS n_matches
         FROM m WHERE n_matches > 0""",
    "q123_proximity_wide" ->
      // the q115 nested-lambda pair replay over the wide corpus
      s"""WITH t AS (SELECT doc_id, $wideToks AS l FROM documents),
         pos AS (SELECT doc_id,
             list_filter(generate_series(1, len(l)), i -> l[i] = 'w1')
               AS pa,
             list_filter(generate_series(1, len(l)), i -> l[i] = 'w2')
               AS pb
           FROM t),
         m AS (SELECT doc_id,
             len(flatten(list_transform(pa,
               i -> list_filter(pb, j -> abs(i - j) <= 4)))) AS n_pairs
           FROM pos)
         SELECT doc_id, n_pairs::BIGINT AS n_pairs
         FROM m WHERE n_pairs > 0""",
    "q125_phrase_dictionary" ->
      // the q122 sliding-window replay over the six-phrase dictionary
      s"""WITH ph AS (
           SELECT 0 AS phrase_id, ['w1', 'w2'] AS pl
           UNION ALL SELECT 1, ['w2', 'w1']
           UNION ALL SELECT 2, ['w1', 'w1']
           UNION ALL SELECT 3, ['w1', 'w2', 'w1']
           UNION ALL SELECT 4, ['w2', 'w2', 'w1']
           UNION ALL SELECT 5, ['w1', 'w3', 'w1']),
         t AS (SELECT doc_id, $wideToks AS l FROM documents),
         m AS (SELECT ph.phrase_id, t.doc_id,
             len(list_filter(generate_series(1, len(l) - len(pl) + 1),
               i -> len(list_filter(generate_series(1, len(pl)),
                      j -> l[i+j-1] = pl[j])) = len(pl))) AS n_matches
           FROM t, ph WHERE len(l) >= len(pl))
         SELECT phrase_id::BIGINT AS phrase_id, doc_id,
           n_matches::BIGINT AS n_matches
         FROM m WHERE n_matches > 0""",
    "q124_normalize_multilingual" ->
      // the fixture interpolates VERBATIM (decomposed marks, jamo, and
      // singletons ride inside the SQL literals), so both engines
      // normalize the identical 8-token mix; utf8proc's nfc_normalize
      // is the oracle for the JDK kernel across every branch
      s"""WITH r AS (SELECT doc_id,
           array_to_string(list_transform(generate_series(1, 8),
             i -> (${nfcFixture124.map(t => s"'$t'").mkString("[", ", ", "]")})
                    [('0x' || substr(md5(doc_id::VARCHAR), i, 1))::INT + 1]),
             ' ') AS t
         FROM documents)
         SELECT doc_id,
           nfc_normalize(t) <> t AS changed,
           length(t)::BIGINT AS n_before,
           length(nfc_normalize(t))::BIGINT AS n_after,
           md5(nfc_normalize(t)) AS norm_md5
         FROM r""",
    "q131_pmi_collocations" ->
      // integer PMI replay: bigram counts and their marginals from the
      // reconstructed wide corpus, all four logs through the
      // integer-log CTE chain, additive decomposition, top-50 with
      // pinned ties
      s"""WITH RECURSIVE tl AS (SELECT $wideToks AS l FROM documents),
         tg AS (SELECT l[i] AS a, l[i+1] AS b
                FROM tl, unnest(generate_series(1, len(l) - 1)) AS u(i)
                WHERE len(l) >= 2),
         cab AS (SELECT a, b, count(*)::BIGINT AS c_ab FROM tg GROUP BY 1, 2),
         ca AS (SELECT a, sum(c_ab)::BIGINT AS c_a FROM cab GROUP BY 1),
         cb AS (SELECT b, sum(c_ab)::BIGINT AS c_b FROM cab GROUP BY 1),
         nt AS (SELECT sum(c_ab)::BIGINT AS n FROM cab),
         ms AS (SELECT DISTINCT c_ab AS m FROM cab WHERE c_ab >= 5
                UNION SELECT DISTINCT c_a FROM ca
                UNION SELECT DISTINCT c_b FROM cb
                UNION SELECT n FROM nt),
         $ilnCtes,
         sc AS (SELECT cab.a, cab.b, cab.c_ab,
             (i1.v + i4.v - i2.v - i3.v) AS pmi_1m
           FROM cab JOIN ca USING (a) JOIN cb USING (b)
             JOIN iln i1 ON i1.m = cab.c_ab
             JOIN iln i2 ON i2.m = ca.c_a
             JOIN iln i3 ON i3.m = cb.c_b
             CROSS JOIN nt JOIN iln i4 ON i4.m = nt.n
           WHERE cab.c_ab >= 5)
         SELECT a, b, c_ab, pmi_1m FROM sc
         ORDER BY pmi_1m DESC, a, b LIMIT 50""",
    "q126_lang_multilingual" -> {
      // generated from the SAME fixture/marker/class vals the engine
      // uses (langTokens126 / langMarkers126 / scriptClasses), so the
      // vote and the per-script regexp counts cannot drift
      val fixture = langTokens126.map(t => s"'$t'").mkString("[", ", ", "]")
      val markerCnts = langMarkers126.map { case (lang, vocab) =>
        val pred = vocab.map(w => s"x = '$w'").mkString(" or ")
        s"len(list_filter(l, x -> $pred)) AS c_$lang"
      }
      val bestL =
        s"greatest(${langMarkers126.map { case (l, _) => s"c_$l" }.mkString(", ")})"
      val langChain = langMarkers126
        .map { case (l, _) => s"WHEN c_$l = $bestL THEN '$l'" }.mkString(" ")
      val scriptCnts = TextAnalytics.scriptClasses.map { case (n, _, re2) =>
        s"(length(t) - length(regexp_replace(t, '$re2', '', 'g')))::BIGINT AS n_$n"
      }
      val sNames = TextAnalytics.scriptClasses.map(_._1)
      val bestS = s"greatest(${sNames.map(n => s"n_$n").mkString(", ")})"
      val scriptChain =
        sNames.map(n => s"WHEN n_$n = $bestS THEN '$n'").mkString(" ")
      s"""WITH r AS (SELECT doc_id,
           array_to_string(list_transform(generate_series(1, 8),
             i -> ($fixture)
                    [('0x' || substr(md5(doc_id::VARCHAR), i, 1))::INT + 1]),
             ' ') AS t
         FROM documents),
         c AS (SELECT doc_id, t,
             list_filter(string_split(t, ' '), x -> x <> '') AS l
           FROM r),
         m AS (SELECT doc_id, ${markerCnts.mkString(",\n             ")},
             ${scriptCnts.mkString(",\n             ")}
           FROM c)
         SELECT doc_id,
           CASE WHEN $bestL = 0 THEN 'und' $langChain ELSE 'und' END
             AS lang_pred,
           CASE WHEN $bestS = 0 THEN 'und' $scriptChain ELSE 'und' END
             AS script_pred,
           ${sNames.map(n => s"n_$n").mkString(", ")}
         FROM m"""
    },
    "q116_lm_perplexity" ->
      // add-one bigram LM replay: c2/c1/V from the %10 train split,
      // per-bigram nll through the integer-log CTE chain, positive
      // integer division for the average
      s"""WITH RECURSIVE
         tl AS (SELECT $toks AS l FROM documents WHERE doc_id % 10 = 0),
         tg AS (SELECT l[i] AS prev, l[i+1] AS tok
                FROM tl, unnest(generate_series(1, len(l) - 1)) AS u(i)
                WHERE len(l) >= 2),
         c2 AS (SELECT prev, tok, count(*)::BIGINT AS c
                FROM tg GROUP BY 1, 2),
         c1 AS (SELECT prev, count(*)::BIGINT AS c FROM tg GROUP BY 1),
         v AS (SELECT count(DISTINCT tok)::BIGINT + 1 AS v
               FROM (SELECT unnest(l) AS tok FROM tl)),
         rl AS (SELECT doc_id, $toks AS l FROM documents
                WHERE doc_id % 10 <> 0),
         rg AS (SELECT doc_id, l[i] AS prev, l[i+1] AS tok
                FROM rl, unnest(generate_series(1, len(l) - 1)) AS u(i)
                WHERE len(l) >= 2),
         args AS (SELECT rg.doc_id, coalesce(c2.c, 0) + 1 AS a_num,
                    coalesce(c1.c, 0) + v.v AS a_den
                  FROM rg
                    LEFT JOIN c2 ON c2.prev = rg.prev AND c2.tok = rg.tok
                    LEFT JOIN c1 ON c1.prev = rg.prev
                    CROSS JOIN v),
         ms AS (SELECT DISTINCT a_num AS m FROM args
                UNION SELECT DISTINCT a_den FROM args),
         $ilnCtes,
         sc AS (SELECT args.doc_id, count(*)::BIGINT AS n_bigrams,
                  sum(id.v - inm.v)::BIGINT AS nll_scaled
                FROM args JOIN iln inm ON inm.m = args.a_num
                  JOIN iln id ON id.m = args.a_den
                GROUP BY args.doc_id)
         SELECT doc_id, n_bigrams, nll_scaled,
           nll_scaled // n_bigrams AS avg_nll
         FROM sc""",
    "q132_winnowing_pairs" ->
      // the q117 winnowing replay over wide ∪ planted copies, then the
      // df-elided fingerprint self-join with the shared-count floor
      s"""WITH t AS (SELECT doc_id, $wideToks AS l FROM documents
             UNION ALL
             SELECT doc_id + 1000000, list_append($wideToks, 'zq')
             FROM documents WHERE doc_id % 10 = 0),
         g AS (SELECT doc_id,
             list_transform(generate_series(1, len(l) - 2),
               i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' ||
                     l[i+2]), 1, 15))::BIGINT) AS hs
           FROM t WHERE len(l) >= 3),
         w AS (SELECT doc_id,
             list_sort(list_distinct(list_transform(
               generate_series(1, len(hs) - 3),
               i -> list_min(hs[i:i+3])))) AS fps
           FROM g WHERE len(hs) >= 4),
         e AS (SELECT doc_id AS id, unnest(fps) AS fp FROM w),
         df AS (SELECT fp, count(*)::BIGINT AS c FROM e GROUP BY fp),
         kept AS (SELECT e.id, e.fp FROM e JOIN df USING (fp)
                  WHERE df.c <= 50)
         SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
         GROUP BY 1, 2 HAVING count(*) >= 3""",
    "q117_winnowing" ->
      // gram-hash, window-4 minima, sorted distinct, canonical join —
      // replayed with list lambdas over the reconstructed wide corpus
      s"""WITH t AS (SELECT doc_id, $wideToks AS l FROM documents),
         g AS (SELECT doc_id,
             list_transform(generate_series(1, len(l) - 2),
               i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' ||
                     l[i+2]), 1, 15))::BIGINT) AS hs
           FROM t WHERE len(l) >= 3),
         w AS (SELECT doc_id,
             list_sort(list_distinct(list_transform(
               generate_series(1, len(hs) - 3),
               i -> list_min(hs[i:i+3])))) AS fps
           FROM g WHERE len(hs) >= 4)
         SELECT doc_id, len(fps)::BIGINT AS n_fps,
           md5(array_to_string(list_transform(fps, x -> x::VARCHAR), ','))
             AS fps_md5
         FROM w""")

  /** Rounds for the BPE gates — q119 (merge table) and q128 (applied
    * corpus) share it so the engine loop and the oracle CTE chain
    * cannot disagree on depth.
    */
  // `final` without a type ascription = a compile-time constant, so
  // it is inlined at use sites — immune to object-initialization
  // order (oraclesBase evaluates before this line's runtime init)
  private[queries] final val bpeGateRounds = 6

  /** The BPE learning rounds replayed as chained CTE stages (the q95
    * unrolling pattern — each round's counts depend on the previous
    * round's merge, and standard SQL forbids aggregates in recursive
    * terms), over a caller-provided `s0(doc_id, l)`: per round r,
    * `p$r` counts adjacent pairs, `b$r` argmaxes with the pinned
    * tie-break, then `st$r`/`s$r` apply the leftmost-non-overlapping
    * re-pair expressed as RUN PARITY over the match flags — a match at
    * position i is a merge start iff the number of consecutive matches
    * immediately before it is even (chained matches only arise in runs
    * of identical symbols — for a ≠ b a match at i and i+1 would need
    * l[i+1] = b = a). Prototyped 4/4 against an independent replay
    * before wiring, including identical-symbol runs. Shared by the
    * q119 merge-table select and q128's final-state select.
    */
  private def bpeChainCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""p$r AS (SELECT l[i] AS lft, l[i+1] AS rgt, count(*)::BIGINT AS c
         FROM s${r - 1}, unnest(generate_series(1, len(l) - 1)) AS u$r(i)
         WHERE len(l) >= 2 GROUP BY 1, 2),
       b$r AS (SELECT lft, rgt, c FROM p$r ORDER BY c DESC, lft, rgt LIMIT 1),
       st$r AS (SELECT doc_id, l, mg,
           list_transform(generate_series(1, len(l) - 1), i ->
             mk[i] AND ((i - 1 - coalesce(list_max(list_filter(
               generate_series(1, i - 1), k -> NOT mk[k])), 0)) % 2 = 0)) AS stt
         FROM (SELECT doc_id, l, b.lft || b.rgt AS mg,
             list_transform(generate_series(1, len(l) - 1),
               i -> l[i] = b.lft AND l[i+1] = b.rgt) AS mk
           FROM s${r - 1}, b$r b)),
       s$r AS (SELECT doc_id,
           list_filter(list_transform(generate_series(1, len(l)), i ->
             CASE WHEN i < len(l) AND stt[i] THEN mg
                  WHEN i > 1 AND stt[i-1] THEN NULL
                  ELSE l[i] END), x -> x IS NOT NULL) AS l
         FROM st$r)"""
    }.mkString(",\n       ")

  private lazy val q119OracleSql: String = {
    val rounds = bpeGateRounds
    val sel = (1 to rounds).map(r =>
      s"SELECT ${r}::BIGINT AS round, lft, rgt, c AS pair_count FROM b$r")
      .mkString("\n       UNION ALL ")
    s"""WITH s0 AS (SELECT doc_id, $toks AS l FROM documents),
       ${bpeChainCtes(rounds)}
       $sel"""
  }

  /** The q128 oracle: the same chained replay, selecting the CORPUS
    * STATE after the final round's merge (`s$rounds` — the chain's
    * st/s stages already apply round r's winning pair) instead of the
    * merge table: per-doc symbol count + md5 over the merged
    * sequence. Learning and applying share every CTE, so the gate
    * proves the engine's learn-then-apply composition end-to-end.
    */
  private lazy val q128OracleSql: String = {
    val rounds = bpeGateRounds
    s"""WITH s0 AS (SELECT doc_id, $toks AS l FROM documents),
       ${bpeChainCtes(rounds)}
       SELECT doc_id, len(l)::BIGINT AS n_syms,
         md5(array_to_string(l, ' ')) AS syms_md5
       FROM s$rounds"""
  }

  /** The q95 oracle replays the integer PageRank by UNROLLING the
    * fixed 5 iterations as chained CTEs (standard SQL forbids
    * aggregates in a recursive term) — generated from the same
    * constants the engine uses so the two cannot drift.
    */
  private lazy val q95OracleSql: String = {
    val scale = 1000000000L
    val damp = 85
    val iters = 5
    val base = scale * (100L - damp) / 100L
    val chain = (1 to iters).map { i =>
      s"""pr$i AS (SELECT n.doc_id AS node,
           (${base}::BIGINT + coalesce(s.m, 0)) AS r
         FROM documents n LEFT JOIN (
           SELECT e.dst AS node,
             sum((p.r * $damp) // (100 * e.deg))::BIGINT AS m
           FROM e JOIN pr${i - 1} p ON p.node = e.src
           GROUP BY e.dst) s ON s.node = n.doc_id)"""
    }.mkString(",\n         ")
    s"""WITH sh AS (
         SELECT doc_id, lang,
           list_distinct(list_transform(generate_series(1, len(l) - 1),
                                        i -> l[i] || ' ' || l[i + 1])) AS g
         FROM (SELECT doc_id, lang, $toks AS l FROM documents)),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE len(a.g) > 0 AND len(b.g) > 0
           AND len(list_intersect(a.g, b.g))::DOUBLE /
               len(list_distinct(list_concat(a.g, b.g))) >= 0.5),
       eu AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
       deg AS (SELECT src, count(*)::BIGINT AS deg FROM eu GROUP BY src),
       e AS (SELECT eu.src, eu.dst, deg.deg FROM eu JOIN deg USING (src)),
       pr0 AS (SELECT doc_id AS node, ${scale}::BIGINT AS r FROM documents),
       $chain
       SELECT node AS doc_id, r AS rank_scaled FROM pr$iters"""
  }

  /** The streaming forms are gated against their batch twins' oracles
    * VERBATIM: on bounded input, streaming sessionization / as-of
    * enrichment must produce exactly the batch answer. So is a query
    * whose derived parameters resolve to its twin's pinned ones.
    */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    // derived banding resolves to the pinned (8, 4): one plan, one oracle
    "q26_minhash_lsh" -> oraclesBase("q26b_minhash_lsh_portable"),
    "q59_sessionize_stream" -> oraclesBase("q10_sessionize"),
    "q60_asof_stream" -> oraclesBase("q39_asof_join"),
    "q61_components_stream" -> oraclesBase("q53_dedup_components"),
    // watermarked windowed agg on bounded input == the batch hour bins
    "q98_window_stream" -> oraclesBase("q31_hour_bins"),
    // streaming MG state on bounded input == the batch heavy hitters
    "q104_heavy_hitters_stream" -> oraclesBase("q92_heavy_hitters"),
    // index-served phrase search == the corpus-scan phrase search:
    // one oracle is the round-trip proof for the compressed artifact
    "q111_phrase_from_index" -> oraclesBase("q110_phrase_search"),
    // streamed queries against the static index == batch BM25
    "q112_bm25_stream" -> oraclesBase("q103_bm25"),
    // scoring from the decoded artifact == scoring from the corpus
    "q114_bm25_from_index" -> oraclesBase("q103_bm25"),
    // index-served proximity == the corpus-scan proximity: the
    // round-trip proof twin of q111, one oracle gates both forms
    "q120_proximity_from_index" -> oraclesBase("q115_proximity_search"),
    // artifact-only append / streamed batch-by-batch fold == the
    // one-shot build: q109's full replay is the equivalence proof
    "q129_index_append" -> oraclesBase("q109_postings_compressed"),
    "q130_index_ingest_stream" -> oraclesBase("q109_postings_compressed"),
    "q66_decorate_stream" ->
      // stateless stream-static decorate == the batch left join
      """SELECT e.event_id, e.user_id, e.event_type,
           c.c_name, c.c_mktsegment
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""")
}
