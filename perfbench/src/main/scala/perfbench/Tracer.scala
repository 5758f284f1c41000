package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startMs: Double, var endMs: Double)

/** Work Spark did on behalf of one phase span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, shuffleWrite, shuffleRead, fetchWaitMs, spillDisk, spillMemory = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L
  var planMs = 0L
  var exchanges, sortMergeJoins, broadcastJoins, scans = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spillDisk += o.spillDisk; spillMemory += o.spillMemory
    inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    planMs += o.planMs
    exchanges += o.exchanges; sortMergeJoins += o.sortMergeJoins
    broadcastJoins += o.broadcastJoins; scans += o.scans
  }
}

/** Spark's own listener and query-execution callbacks, attributed to the
  * benchmark's phase spans. The benchmark sets the local property
  * [[Tracer.SpanKey]] to the phase span's id before each phase; every job
  * launched from that thread carries it, and stages, tasks and SQL
  * executions inherit the job's span.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  // every callback runs under the tracer's lock
  private val counters = mutable.HashMap.empty[Long, Counters]
  private val stagePhase = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val execPhase = mutable.HashMap.empty[Long, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  val sparkSpans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Counters of SQL executions that no job linked to a span, until a
    * query boundary claims them.
    */
  private var unclaimed = new Counters

  def of(span: Long): Counters = synchronized(counters.getOrElseUpdate(span, new Counters))

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(Tracer.Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = spanOf(e.properties)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execPhase.getOrElseUpdate(id.toLong, phase))
    of(phase).jobs += 1
    val job = Span(Tracer.nextId(), phase, s"job ${e.jobId}", "job", e.time.toDouble, e.time.toDouble)
    jobSpan(e.jobId) = job
    sparkSpans += job
    e.stageInfos.foreach { s =>
      stagePhase.getOrElseUpdate(s.stageId, phase)
      stageJob.getOrElseUpdate(s.stageId, job)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val phase = stagePhase.getOrElse(info.stageId, Tracer.Unattributed)
    of(phase).stages += 1
    val start = info.submissionTime.getOrElse(0L).toDouble
    sparkSpans += Span(Tracer.nextId(), stageJob.get(info.stageId).map(_.id).getOrElse(phase),
      s"stage ${info.stageId}", "stage", start, info.completionTime.map(_.toDouble).getOrElse(start))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stagePhase.getOrElse(e.stageId, Tracer.Unattributed))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillDisk += m.diskBytesSpilled
      c.spillMemory += m.memoryBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = execPhase.get(qe.id).map(of).getOrElse(unclaimed)
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      Tracer.operators(qe.executedPlan).foreach {
        case _: Exchange => c.exchanges += 1
        case _: SortMergeJoinExec => c.sortMergeJoins += 1
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => c.broadcastJoins += 1
        case _: FileSourceScanExec | _: BatchScanExec => c.scans += 1
        case _ =>
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Credit the SQL executions that carried no span to `span`. Called at a
    * query boundary, once the listeners have caught up, so they are the
    * query's own.
    */
  def claim(span: Long): Unit = synchronized {
    of(span) += unclaimed
    unclaimed = new Counters
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed: Long = -1L

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  /** Every operator of a final plan: through AQE wrappers and query stages,
    * into subqueries; a reused exchange counts once, where it is built.
    */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case _: ReusedExchangeExec => Nil
    case other =>
      // a plan's inner children are its subqueries unless it overrides them
      other +: (other.children ++
        other.innerChildren.collect { case c: SparkPlan => c }).flatMap(operators)
  }
}
