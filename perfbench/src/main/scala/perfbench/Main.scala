package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.core.{StagingScope, Tables}
import graft.sinks.Sinks

/** Benchmark harness, launched by `perfbench/run.py`.
  *
  *   run      --workload W --seed N --seconds S --trace 0|1 <dirs>
  *   generate <dirs>   make the 10x ScaleUp data and its fingerprint
  *   record   <dirs>   write expected outputs and the cross-check inputs
  *
  * `<dirs>` are `--cores --base --scaled --out --expected --local`.
  * `run` prints one line `PERFBENCH_RESULT {json}` on stdout.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val env = Env(opts)
    argv.head match {
      case "run" =>
        val r = new Run(env, Workloads.byName(opts("workload")).getOrElse(
            throw new IllegalArgumentException(s"unknown workload ${opts("workload")}")),
          opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1")
        println("PERFBENCH_RESULT " + Json.write(r.execute()))
      case "generate" => generate(env)
      case "record" => record(env)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  final case class Env(opts: Map[String, String]) {
    val cores: Int = opts("cores").toInt
    val base: String = opts("base")
    val scaled: String = opts("scaled")
    val out: Path = Paths.get(opts("out"))
    val expected: Path = Paths.get(opts("expected"))
    val localDir: String = opts("local")
    def dataDir(w: Workloads.Workload): String = w.data match {
      case Workloads.Base => base
      case Workloads.Scaled => scaled
    }
  }

  /** The session `graft.Bench` builds, with the core count of this machine
    * and Spark's scratch space inside the checkout.
    */
  def session(env: Env): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${env.cores}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", env.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", env.localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench`'s warm-up. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(100).groupBy(col("id") % 7).count().collect()
  }

  private def dataFingerprint(spark: SparkSession, dir: String): Map[String, String] =
    Tables.names.map(t => t -> Digest.of(spark.read.parquet(s"$dir/$t.parquet")).fingerprint).toMap

  /** Make the 10x ScaleUp copy of the base tables. ScaleUp's own main
    * asks for local[32] through `getOrCreate`; the session built here
    * first wins, so generation is capped at this machine's cores.
    */
  private def generate(env: Env): Unit = {
    val tmp = env.scaled + ".tmp"
    session(env)
    graft.tools.ScaleUp.main(Array(env.base, tmp, "10"))
    val spark = session(env)
    val fp = Map("base" -> dataFingerprint(spark, env.base), "scaled" -> dataFingerprint(spark, tmp))
    Files.writeString(Paths.get(tmp, "_FINGERPRINT.json"), Json.write(fp))
    Files.move(Paths.get(tmp), Paths.get(env.scaled))
    spark.stop()
  }

  /** Write the expected row count and fingerprint of every workload query,
    * each result as parquet and the oracle SQL beside it for the DuckDB
    * cross-check.
    */
  private def record(env: Env): Unit = {
    val spark = session(env)
    val queries = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    for (w <- Workloads.all; q <- w.queries) {
      val dir = env.dataDir(w)
      val out = env.out.resolve(q).toString
      Sinks.writeTable(SparkEntry.queries(q)(spark, dir), out)
      StagingScope.drain()
      val d = w.action match {
        case Workloads.Write => Digest.of(spark.read.parquet(out))
        case Workloads.Count => Digest.of(SparkEntry.queries(q)(spark, dir))
      }
      StagingScope.drain()
      queries(q) = Map("workload" -> w.name, "rows" -> d.rows, "fingerprint" -> d.fingerprint)
      System.err.println(s"[perfbench] recorded $q ${d.fingerprint}")
    }
    val data = Json.read(Paths.get(env.scaled, "_FINGERPRINT.json"))
    Files.writeString(env.expected, Json.write(Map("data" -> data, "queries" -> queries)) + "\n")
    val oracles = for (w <- Workloads.all; q <- w.queries; sql <- SparkEntry.oracleSql.get(q))
      yield q -> Map("data" -> env.dataDir(w), "sql" -> sql)
    Files.writeString(env.out.resolve("oracle_sql.json"), Json.write(oracles.toMap))
    spark.stop()
  }
}

/** One benchmark run: set-up, a cold pass, then warm passes until the
  * time is up. Every query's output is checked once, outside the timed
  * spans: after its action in the cold pass, or for a written result by
  * reading it back after the last pass. A closed loop with one client:
  * each query starts when the previous one has finished.
  */
final class Run(env: Main.Env, w: Workloads.Workload, seed: Long, seconds: Double,
    traced: Boolean) {
  private val dir = env.dataDir(w)
  private val expected = Json.read(env.expected)
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val tracer = new Tracer
  private var spark: SparkSession = _

  private val nanoToEpochMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6 + nanoToEpochMs

  private def open(name: String, kind: String, parent: Long): Span = {
    val s = Span(Tracer.nextId(), parent, name, kind, nowMs, 0)
    spans += s
    s
  }
  private def close(s: Span): Double = { s.endMs = nowMs; (s.endMs - s.startMs) / 1000 }

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** RDD blocks the block manager holds: (count, bytes). */
  private def heldBlocks(): (Long, Long) = {
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (held.length.toLong, held.map(i => i.memSize + i.diskSize).sum)
  }

  private def expectation(q: String): (Long, String) = {
    val e = expected.path("queries").path(q)
    if (e.isMissingNode) throw new IllegalStateException(s"no expectation recorded for $q")
    (e.path("rows").asLong, e.path("fingerprint").asText)
  }

  private def fail(q: String, what: String): Unit = {
    failures += s"$q: $what"
    System.err.println(s"[perfbench] FAILED $q: $what")
  }

  /** One query execution, timed from the call into the catalog to the end
    * of the boundary drain.
    */
  final class QueryRun(val q: String) {
    var wall, build, action, drain = 0.0
    var rows = 0L
    var stagedRdds, stagedBytes, leftoverBytes, heapBytes = 0L
    var codegenNanos, codegenCount = 0L
    var buildSpan, actionSpan, drainSpan = Tracer.Unattributed
  }

  private def phase[T](s: Span, traceIt: Boolean)(body: => T): T = {
    if (traceIt) spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally if (traceIt) spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
  }

  private def runQuery(q: String, pass: Int, passSpan: Span, traceIt: Boolean): QueryRun = {
    val r = new QueryRun(q)
    attempted += 1
    val cg0 = codegenNs
    val cc0 = codegenClasses
    val qs = open(q, "query", passSpan.id)
    val bs = open("build", "build", qs.id)
    r.buildSpan = bs.id
    try {
      val df = phase(bs, traceIt)(SparkEntry.queries(q)(spark, dir))
      r.build = close(bs)
      val as = open(w.action match { case Workloads.Write => "write"; case _ => "action" }, "action", qs.id)
      r.actionSpan = as.id
      r.rows = phase(as, traceIt) {
        w.action match {
          case Workloads.Count => df.count()
          case Workloads.Write => Sinks.writeTable(df, env.out.resolve(q).toString); -1L
        }
      }
      r.action = close(as)
      if (w.action == Workloads.Count) {
        if (r.rows != expectation(q)._1)
          fail(q, s"pass $pass counted ${r.rows} rows, expected ${expectation(q)._1}")
        // the cold pass also checks content, outside the timed span and
        // before the drain frees what the plan reads
        if (pass == 0) verify(q, Digest.of(df))
      }
    } catch {
      case e: Throwable =>
        spans.filter(s => s.endMs == 0 && s.parent == qs.id).foreach(close)
        fail(q, s"pass $pass threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (traceIt) {
      val (n, b) = heldBlocks()
      r.stagedRdds = n
      r.stagedBytes = b
    }
    val ds = open("drain", "drain", qs.id)
    r.drainSpan = ds.id
    phase(ds, traceIt)(StagingScope.drain())
    r.drain = close(ds)
    close(qs)
    r.wall = r.build + r.action + r.drain
    r.codegenNanos = codegenNs - cg0
    r.codegenCount = codegenClasses - cc0
    // boundary, outside the timed span: once the listeners have caught up,
    // full GCs until the heap has not shrunk for two rounds (the context
    // cleaner and the drain's block removal free memory only after a GC
    // finds it unreachable); then what stays held
    org.apache.spark.PerfbenchBridge.awaitListeners(spark.sparkContext)
    val heap = ManagementFactory.getMemoryMXBean
    var used = Long.MaxValue
    var steady = 0
    var rounds = 0
    while (steady < 2 && rounds < 10) {
      System.gc()
      Thread.sleep(50)
      val now = heap.getHeapMemoryUsage.getUsed
      steady = if (now < used - (1L << 20)) 0 else steady + 1
      used = math.min(used, now)
      rounds += 1
    }
    r.heapBytes = used
    if (traceIt) {
      r.leftoverBytes = heldBlocks()._2
      tracer.claim(r.actionSpan)
    }
    r
  }

  final class PassRun(val index: Int, val traced: Boolean, val queries: Seq[QueryRun],
      val gcMs: Long, val jitMs: Long, val load: Double) {
    def wall: Double = queries.map(_.wall).sum
  }

  private def runPass(index: Int, traceIt: Boolean, parent: Span): PassRun = {
    val order = new scala.util.Random(seed * 1000003L + index).shuffle(w.queries)
    val ps = open(s"pass $index", "pass", parent.id)
    if (traceIt) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val gc0 = gcMs
    val jit0 = jitMs
    val qs = order.map(q => runQuery(q, index, ps, traceIt))
    val p = new PassRun(index, traceIt, qs, gcMs - gc0, jitMs - jit0, loadavg())
    if (traceIt) {
      org.apache.spark.PerfbenchBridge.awaitListeners(spark.sparkContext)
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
    close(ps)
    p
  }

  /** Compare a query's rows and content fingerprint with the recorded
    * expectation.
    */
  private def verify(q: String, d: => Digest.Result): Unit = {
    attempted += 1
    try {
      val (rows, fp) = expectation(q)
      val got = d
      if (got.rows != rows || got.fingerprint != fp)
        fail(q, s"output check: rows ${got.rows} fingerprint ${got.fingerprint}, " +
          s"expected rows $rows fingerprint $fp")
    } catch {
      case e: Throwable => fail(q, s"output check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def execute(): Map[String, Any] = {
    val loadStart = loadavg()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // set-up five times: the first from process start, then four rebuilds
    // of the session in the warm process; setup_s is their median
    val setups = (1 to 5).map { i =>
      val t0 = if (i == 1) jvmStart else { spark.stop(); System.currentTimeMillis().toDouble }
      spark = Main.session(env)
      Main.warmUp(spark)
      (System.currentTimeMillis() - t0) / 1000
    }
    val dataFp = Json.read(Paths.get(env.scaled, "_FINGERPRINT.json"))
    if (dataFp != expected.path("data"))
      failures += "data: fingerprint differs from the one the expectations were recorded on"

    val root = open(w.name, "workload", Tracer.Unattributed)
    val cold = runPass(0, traced, root)
    // one unmeasured pass lets the JIT settle: the first pass after the
    // cold one was still the slowest of every run while this was tuned
    val settle = runPass(1, traceIt = false, root)
    val warm = mutable.ArrayBuffer.empty[PassRun]
    // warm passes for `seconds`, at least three so each query's median
    // rejects one disturbed pass; traced runs alternate traced and
    // untraced passes
    val warmStart = System.nanoTime()
    while (warm.size < 3 || (System.nanoTime() - warmStart) / 1e9 < seconds)
      warm += runPass(warm.size + 2, traced && warm.size % 2 == 0, root)
    close(root)
    // a written result is checked by reading back what the last pass wrote
    if (w.action == Workloads.Write)
      w.queries.foreach(q => verify(q, Digest.of(spark.read.parquet(env.out.resolve(q).toString))))

    val warmTimes = w.queries.map(q => q -> warm.flatMap(_.queries.filter(_.q == q)).map(_.wall).toSeq).toMap
    val warmMedian = warmTimes.map { case (q, ws) => q -> median(ws) }
    val perQuery = w.queries.map { q =>
      q -> Map(
        "cold_s" -> cold.queries.find(_.q == q).map(_.wall).getOrElse(0.0),
        "warm_median_s" -> warmMedian(q),
        "warm_s" -> warmTimes(q),
        "heap_mb" -> (cold +: warm).flatMap(_.queries.filter(_.q == q)).map(_.heapBytes / 1e6),
        "session_memo" -> Workloads.sessionMemo.get(q))
    }.toMap
    val metrics =
      if (traced) perLayer(cold, warm.toSeq)
      else endToEnd(setups, cold, warm.toSeq, warmMedian.values.toSeq)
    if (traced) writeTrace()
    spark.stop()
    Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> traced,
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures, "metrics" -> metrics,
      "setups_s" -> setups, "cold_wall_s" -> cold.wall, "settle_wall_s" -> settle.wall,
      "warm_walls_s" -> warm.map(_.wall), "warm_traced" -> warm.map(_.traced),
      "per_query" -> perQuery,
      "loadavg_start" -> loadStart, "loadavg_passes" -> (cold +: settle +: warm).map(_.load),
      "data_fingerprint" -> dataFp,
      "cores" -> env.cores)
  }

  private def endToEnd(setups: Seq[Double], cold: PassRun, warm: Seq[PassRun],
      medians: Seq[Double]): Map[String, Double] =
    Map(
      // a typical warm pass: each query's median, so one query's spike in
      // one pass and another's in the next are both rejected
      "wall_s" -> medians.sum,
      "query_geomean_s" -> math.exp(medians.map(m => math.log(math.max(m, 1e-6))).sum / medians.size),
      "cold_wall_s" -> cold.wall,
      "setup_s" -> median(setups),
      // warm boundaries only: the cold pass's first boundaries can still
      // hold one-time state the later GCs reclaim
      "retained_heap_mb" -> warm.flatMap(_.queries.map(_.heapBytes)).max / 1e6)

  private def perLayer(cold: PassRun, warm: Seq[PassRun]): Map[String, Double] = {
    def sum(spanIds: Seq[Long]): Counters = {
      val c = new Counters
      spanIds.foreach(id => c += tracer.of(id))
      c
    }
    val mb = 1e6
    val perPass = warm.filter(_.traced).map { p =>
      val qs = p.queries
      val b = sum(qs.map(_.buildSpan))
      val a = sum(qs.map(_.actionSpan))
      val d = sum(qs.map(_.drainSpan))
      val all = new Counters
      all += b; all += a; all += d
      val wall = p.wall
      val buildS = qs.map(_.build).sum
      val actionS = qs.map(_.action).sum
      val outRows = w.action match {
        case Workloads.Write => a.outputRows
        case Workloads.Count => qs.map(_.rows).sum
      }
      val files = w.action match {
        case Workloads.Write => w.queries.map { q =>
          scala.util.Using.resource(Files.list(env.out.resolve(q)))(
            _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
        }.sum
        case Workloads.Count => 0
      }
      val family = (f: Set[String]) => qs.filter(r => f(r.q))
      Map(
        "queries.build_s" -> buildS,
        "queries.build_jobs" -> b.jobs.toDouble,
        "queries.build_share" -> buildS / wall,
        "engine.action_s" -> actionS,
        "engine.action_jobs" -> a.jobs.toDouble,
        "engine.stages" -> a.stages.toDouble,
        "engine.tasks" -> a.tasks.toDouble,
        "engine.task_cpu_s" -> a.cpuNs / 1e9,
        "engine.cpu_util" -> (if (actionS > 0) a.cpuNs / 1e9 / (actionS * env.cores) else 0.0),
        "shuffle.write_mb" -> all.shuffleWrite / mb,
        "shuffle.read_mb" -> all.shuffleRead / mb,
        "shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3,
        "spill.disk_mb" -> all.spillDisk / mb,
        "spill.memory_mb" -> all.spillMemory / mb,
        "scan.input_mb" -> all.inputBytes / mb,
        "scan.input_rows" -> all.inputRows.toDouble,
        "scan.rows_per_output_row" -> (if (outRows > 0) all.inputRows.toDouble / outRows else 0.0),
        "core.staged_mb" -> qs.map(_.stagedBytes).sum / mb,
        "core.staged_rdds" -> qs.map(_.stagedRdds).sum.toDouble,
        "core.drain_s" -> qs.map(_.drain).sum,
        "core.leftover_mb" -> qs.map(_.leftoverBytes).max / mb,
        "sinks.output_mb" -> a.outputBytes / mb,
        "sinks.output_files" -> files.toDouble,
        "sinks.output_rows" -> a.outputRows.toDouble,
        "sinks.bytes_per_row" -> (if (a.outputRows > 0) a.outputBytes.toDouble / a.outputRows else 0.0),
        "catalyst.plan_s" -> all.planMs / 1e3,
        "catalyst.codegen_s" -> qs.map(_.codegenNanos).sum / 1e9,
        "catalyst.codegen_classes" -> qs.map(_.codegenCount).sum.toDouble,
        "catalyst.exchanges" -> all.exchanges.toDouble,
        "catalyst.sort_merge_joins" -> all.sortMergeJoins.toDouble,
        "catalyst.broadcast_joins" -> all.broadcastJoins.toDouble,
        "catalyst.scans" -> all.scans.toDouble,
        "jvm.gc_s" -> p.gcMs / 1e3,
        "jvm.jit_s" -> p.jitMs / 1e3,
        "pipelines.genes_s" -> family(Workloads.genesPipeline).map(_.wall).sum,
        "plans.custom_s" -> family(Workloads.customPlans).map(_.wall).sum,
        "functions.hash_cpu_s" -> sum(family(Workloads.similarityHash)
          .flatMap(r => Seq(r.buildSpan, r.actionSpan, r.drainSpan))).cpuNs / 1e9)
    }
    val keys = perPass.head.keys
    val medians = keys.map(k => k -> median(perPass.map(_(k)))).toMap
    val untraced = warm.filterNot(_.traced).map(_.wall)
    medians + ("trace.overhead_s" -> (median(warm.filter(_.traced).map(_.wall)) - median(untraced)))
  }

  /** Spans with self time (span minus the union of its children), written
    * once at the end of the run.
    */
  private def writeTrace(): Unit = {
    val all = spans.toSeq ++ tracer.sparkSpans
    val children = all.groupBy(_.parent)
    def self(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0.0
      var end = Double.MinValue
      iv.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      (s.endMs - s.startMs) - covered
    }
    val out = all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "kind" -> s.kind, "start_ms" -> s.startMs, "dur_ms" -> (s.endMs - s.startMs),
      "self_ms" -> self(s)))
    Files.writeString(env.out.resolve(s"trace_${w.name}_seed$seed.json"), Json.write(out) + "\n")
  }
}
