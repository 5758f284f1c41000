package perfbench

/** The benchmark's workloads and metric names. `BENCHMARK.json` at the
  * repository root must name exactly these (PlacementSpec pins it), so a
  * renamed query or metric cannot silently drop out of the benchmark.
  */
object Workloads {

  sealed trait Action
  /** Terminal action `count()`: read-only. */
  case object Count extends Action
  /** Terminal action `graft.sinks.Sinks.writeTable`: the way the reference
    * loads its collections.
    */
  case object Write extends Action

  /** Which data a workload reads: the committed base tables, or the 10×
    * `graft.tools.ScaleUp` copy generated from them once per checkout.
    */
  sealed trait Data
  case object Base extends Data
  case object Scaled extends Data

  final case class Workload(
      name: String, why: String, data: Data, action: Action, queries: Seq[String])

  val all: Seq[Workload] = Seq(
    Workload("etl_load_sf0.1",
      "the only workload that writes; Gramene ETL queries on the 10x ScaleUp copy, the largest data in the benchmark",
      Scaled, Write,
      Seq("q49_asof_custom_plan", "q54_genes_pipeline")),
    Workload("similarity_sf0.01",
      "similarity search and the similarity-hash family, counted: build-heavy q22 beside the native and portable MinHash pair",
      Base, Count,
      Seq("q22_ngram_jaccard", "q26_minhash_lsh", "q26b_minhash_lsh_portable")))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** Queries whose warm passes read a session memo built by the first pass
    * (`partClosure`): their warm timing is warm by design.
    */
  val sessionMemo: Map[String, String] = Map(
    "q13_closure" -> "partClosure",
    "q14_subtree_rollup" -> "partClosure")

  /** Query families attributed to one module in the traced run. */
  val genesPipeline: Set[String] = Set("q54_genes_pipeline")
  val customPlans: Set[String] = Set("q40_interval_join_custom_plan", "q49_asof_custom_plan")
  val similarityHash: Set[String] = Set("q26_minhash_lsh", "q26b_minhash_lsh_portable")

  /** End-to-end metrics (untraced run), name -> unit. `failed_frac` is
    * printed in the summary table; it is not a metric of the result line
    * because it is 0 on a healthy run.
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s",
    "query_geomean_s" -> "s",
    "cold_wall_s" -> "s",
    "setup_s" -> "s",
    "retained_heap_mb" -> "MB")

  /** Per-layer metrics (traced run), name -> unit. */
  val perLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s",
    "queries.build_jobs" -> "count",
    "queries.build_share" -> "ratio",
    "engine.action_s" -> "s",
    "engine.action_jobs" -> "count",
    "engine.stages" -> "count",
    "engine.tasks" -> "count",
    "engine.task_cpu_s" -> "s",
    "engine.cpu_util" -> "ratio",
    "shuffle.write_mb" -> "MB",
    "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s",
    "spill.disk_mb" -> "MB",
    "spill.memory_mb" -> "MB",
    "scan.input_mb" -> "MB",
    "scan.input_rows" -> "count",
    "scan.rows_per_output_row" -> "ratio",
    "core.staged_mb" -> "MB",
    "core.staged_rdds" -> "count",
    "core.drain_s" -> "s",
    "core.leftover_mb" -> "MB",
    "sinks.output_mb" -> "MB",
    "sinks.output_files" -> "count",
    "sinks.output_rows" -> "count",
    "sinks.bytes_per_row" -> "B",
    "catalyst.plan_s" -> "s",
    "catalyst.codegen_s" -> "s",
    "catalyst.codegen_classes" -> "count",
    "catalyst.exchanges" -> "count",
    "catalyst.sort_merge_joins" -> "count",
    "catalyst.broadcast_joins" -> "count",
    "catalyst.scans" -> "count",
    "jvm.gc_s" -> "s",
    "jvm.jit_s" -> "s",
    "pipelines.genes_s" -> "s",
    "plans.custom_s" -> "s",
    "functions.hash_cpu_s" -> "s",
    "trace.overhead_s" -> "s")
}
