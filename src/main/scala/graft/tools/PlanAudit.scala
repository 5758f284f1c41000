package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.classic.GraftColumnBridge

/** Dev tool: physical-plan audit and one-run profile of a catalog
  * query — the per-operator checklist the scale reviews run (is the dim
  * join broadcast, did a cartesian/BNLJ sneak in, how wide are the
  * codegen spans, how many exchanges) plus what the run cost: each
  * stage's shuffle/spill bytes as it completes, then build and action
  * wall time with the Spark jobs each launched. Prints operator counts,
  * and with `--full` the final plan, [[normalized]] so that the plans
  * of two commits can be compared with `diff`.
  *
  * Usage:
  *   runMain graft.tools.PlanAudit <queryName> [sfDir] [--full]
  *   runMain graft.tools.PlanAudit --all [sfDir]
  *
  * `--all` sweeps the whole catalog and FAILS (exit 1) if any query's
  * adaptive final plan contains a BroadcastNestedLoopJoin or
  * CartesianProduct — the quadratic-join regression net.
  *
  * The run is cold (first execution in a fresh JVM); for steady-state
  * timing of a headline query use `graft.Bench` with
  * `SPARK_GRAFT_BENCH_ONLY` and `SPARK_GRAFT_BENCH_PASSES`.
  */
object PlanAudit {

  /** Adaptive FINAL plan string of an executed query. Executes THIS
    * queryExecution (a separate `df.count()` would plan its own and
    * leave this AdaptiveSparkPlanExec non-final): under AQE the
    * pre-execution plan carries no codegen markers or runtime join
    * rewrites — the audit must see the plan that actually ran.
    */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count()
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
  }

  /** The plan text with what differs between two runs of one commit
    * replaced by a fixed token, so `--full` output of a parent and a
    * change can be compared with `diff`: expression ids (`#12L`),
    * Exchange `plan_id`s, AQE query-stage numbers, JVM identity hashes
    * of object literals (`[I@10b9956a`) and the random suffix of the
    * stream gate's temp dirs.
    */
  private[graft] def normalized(plan: String): String = Seq(
    """#\d+L?""" -> "#N",
    """plan_id=\d+""" -> "plan_id=N",
    """\b(\w+QueryStage) \d+""" -> "$1 N",
    """(?<=[\w$;\[])@[0-9a-f]{1,8}\b""" -> "@N",
    """\b(graft_stream_[a-z]+_)\d+""" -> "$1N"
  ).foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  /** Counts jobs and prints one line per completed stage: its shuffle
    * read/write and spill bytes — which stage of a multi-phase plan
    * eats a box's scratch disk at audit scales.
    */
  private final class StageLog extends SparkListener {
    @volatile var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      def mb(b: Long) = f"${b / 1e6}%.1fMB"
      val secs = (for (sub <- i.submissionTime; done <- i.completionTime)
        yield (done - sub) / 1000.0).getOrElse(-1.0)
      val r = m.shuffleReadMetrics
      println(f"stage ${i.stageId} $secs%.2fs tasks=${i.numTasks} " +
        s"write=${mb(m.shuffleWriteMetrics.bytesWritten)}/" +
        s"${m.shuffleWriteMetrics.recordsWritten} " +
        s"read=${mb(r.remoteBytesRead + r.localBytesRead)}/${r.recordsRead} " +
        s"spillDisk=${mb(m.diskBytesSpilled)} spillMem=${mb(m.memoryBytesSpilled)} " +
        s"in=${mb(m.inputMetrics.bytesRead)} : ${i.name.take(90)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Session.start("ERROR")

    if (args(0) == "--all") {
      // exemption sets are CATALOG-OWNED (graft.queries.Queries) so
      // this sweep and the 100x evidence sweep derive from one source;
      // a stale exemption (naming a query the catalog no longer has)
      // fails the audit rather than silently shrinking it
      val streaming = graft.queries.Queries.streamingQueries
      val intendedCross = graft.queries.Queries.intendedCrossQueries
      val catalog = graft.SparkEntry.queries.keySet
      val staleExempt = (streaming ++ intendedCross) -- catalog
      if (staleExempt.nonEmpty) {
        System.err.println(
          s"stale exemptions (not in the catalog): ${staleExempt.mkString(", ")}")
        spark.stop(); sys.exit(1)
      }
      var bad = List.empty[String]
      var audited = Set.empty[String]
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (streaming(name)) {
          audited += name
          println(f"$name%-34s skipped (streaming micro-batch pipeline " +
            "- no single auditable plan; its batch twin is audited)")
        } else {
          val plan = finalPlanOf(fn(spark, sfDir))
          val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
          val cart = "CartesianProduct".r.findAllIn(plan).length
          val verdict =
            if (bnlj + cart == 0) "ok"
            else if (intendedCross(name)) "cross-by-design"
            else { bad ::= name; "QUADRATIC-JOIN" }
          audited += name
          println(f"$name%-34s bnlj=$bnlj cartesian=$cart $verdict")
        }
      }
      // COMPLETENESS GATE: every declared query must have produced a
      // line above — the audit refuses to pass with a catalog entry
      // missing (the r15 evidence hole: q117 was declared and green
      // but absent from the committed audit file)
      val missing = catalog -- audited
      println(s"== completeness: catalog=${catalog.size} " +
        s"audited=${(audited -- streaming).size} " +
        s"skipped-streaming=${(audited & streaming).size} " +
        s"missing=${missing.size} ==")
      if (missing.nonEmpty) {
        System.err.println(s"catalog queries not audited: ${missing.mkString(", ")}")
        spark.stop(); sys.exit(1)
      }
      if (bad.nonEmpty) {
        System.err.println(s"quadratic joins in: ${bad.mkString(", ")}")
        spark.stop(); sys.exit(1)
      }
      spark.stop(); return
    }

    val name = args(0)
    val full = args.contains("--full")
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val built = System.nanoTime()
    GraftColumnBridge.awaitListeners(spark.sparkContext)
    val buildJobs = log.jobs
    val t1 = System.nanoTime()
    val plan = finalPlanOf(df)
    val done = System.nanoTime()
    GraftColumnBridge.awaitListeners(spark.sparkContext)
    val buildS = (built - t0) / 1e9
    val actionS = (done - t1) / 1e9
    println(f"== $name wall ${buildS + actionS}%.2fs jobs=${log.jobs}: " +
      f"build $buildS%.2fs ($buildJobs jobs), action $actionS%.2fs " +
      s"(${log.jobs - buildJobs} jobs) ==")
    def count(p: String): Int = p.r.findAllIn(plan).length
    println(s"== $name physical-plan audit ($sfDir) ==")
    Seq(
      "BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct",
      "Exchange hashpartitioning", "Exchange rangepartitioning",
      "InMemoryTableScan", "Scan parquet",
      "PushedFilters: \\[[^\\]]").foreach { p =>
      println(f"${p.take(30)}%-30s ${count(p)}%d")
    }
    // codegen shows as "*(n)" operator prefixes; distinct n = spans
    val spans = """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet
    println(f"${"WholeStageCodegen spans"}%-30s ${spans.size}%d")
    if (full) println(normalized(plan))
    spark.stop()
  }
}
