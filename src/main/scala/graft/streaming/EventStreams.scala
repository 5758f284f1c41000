package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream. The reference
  * is pure batch (SURVEY §2.10) — its Node object-stream pipelines are
  * bounded dataflow — but the engine exposes the streaming forms of its
  * stateful shapes so the same semantics run incrementally: windowed
  * counts with watermarked late-data handling, and session windows via
  * `flatMapGroupsWithState` (the streaming restatement of the batch
  * gaps-and-islands sessionization in q10/q30; SURVEY §7 notes A3/J9
  * become flatMapGroupsWithState if gene updates ever stream).
  *
  * Scale notes: state is keyed by user_id — partitioned across
  * executors by the shuffle on the grouping key; the watermark bounds
  * state size (sessions/windows older than the watermark are evicted),
  * which is what keeps unbounded streams at bounded memory.
  */
object EventStreams {

  /** The tumbling-window width of [[windowedTypeCounts]] (q31's hour
    * binning).
    */
  val Window = "1 hour"

  /** The late-data bound of every watermarked streaming operator: state
    * older than the latest event time minus this is evicted.
    */
  val Watermark = "10 minutes"

  case class Event(user_id: Long, event_id: Long, event_type: String, ts: Timestamp)

  case class SessionOut(user_id: Long, n_events: Long, start_us: Long, end_us: Long)

  /** Internal per-user session state (public: encoder codegen needs a
    * visible constructor).
    */
  case class SessionState(nEvents: Long, startUs: Long, lastUs: Long)

  /** Tumbling-window counts per event type with a watermark: the
    * incremental form of q31's hour binning. `append` mode — a window
    * emits once, when the watermark passes its end.
    */
  def windowedTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), Window), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"))

  /** Streaming exact dedup: the incremental form of q17/`Dedup.exact`.
    * Keyed by content hash; `dropDuplicatesWithinWatermark` keeps one
    * row per hash and evicts state once the watermark passes — bounded
    * state on an unbounded stream, the property a 100 TB/day ingest
    * dedup needs (the batch groupBy holds ALL history; this holds one
    * watermark's worth).
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, Watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static decorate: the reference's broadcast-LUT enrichment
    * (`search/decorate.js` stages) applied to a live stream — each
    * micro-batch broadcast-joins the static dimension; no stream-side
    * state at all. Rows missing from the LUT pass through with nulls
    * (left join), matching the reference's optional decorations.
    */
  def decorateStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  case class EnrichOut(
      user_id: Long, event_id: Long, purchase_us: Long, last_err_us: Option[Long])

  /** Per-user last-error state (public for encoder codegen). */
  case class LastErr(us: Long)

  /** Streaming backward as-of enrichment: every purchase is decorated
    * with the latest error at-or-before it for the same user — the
    * incremental form of q39/q49 and the online feature-join shape
    * (decorate each example with the freshest signal seen so far).
    * State is O(1) per user (one timestamp). Within a micro-batch rows
    * sort by event time with errors before purchases at equal stamps
    * (q39's inclusive tie rule); cross-batch correctness assumes
    * in-order arrival per key — production would add a watermark-sized
    * reorder buffer, the same trade every streaming as-of makes.
    */
  def asofEnrich(events: Dataset[Event]): Dataset[EnrichOut] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def update(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[LastErr]): Iterator[EnrichOut] = {
      val sorted = rows.toSeq.sortBy(e =>
        (micros(e.ts), if (e.event_type == "error") 0 else 1, e.event_id))
      var last = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[EnrichOut]
      sorted.foreach { e =>
        val us = micros(e.ts)
        e.event_type match {
          case "error" => last = Some(LastErr(us))
          case "purchase" =>
            out += EnrichOut(userId, e.event_id, us, last.map(_.us))
          case _ => ()
        }
      }
      last.foreach(state.update)
      out.iterator
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** Session windows per user: a session closes after `gapSec` of
    * silence (event-time). Emits one row per completed session. State
    * per user is O(1) (count + bounds), evicted on timeout — the
    * streaming equivalent of the batch sessionization in
    * [[graft.queries.Queries.q10Sessionize]].
    */
  def sessionize(events: Dataset[Event], gapSec: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L

    def update(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(userId, s.nEvents, s.startUs, s.lastUs))
      } else {
        // full microsecond precision: getTime truncates to millis and
        // would diverge from the batch q10's unix_micros on sub-ms times
        def micros(t: Timestamp): Long = {
          val i = t.toInstant
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }
        // events within a micro-batch are not ordered: sort this batch
        val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        var cur = state.getOption
        val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
        sorted.foreach { e =>
          val us = micros(e.ts)
          cur match {
            case Some(s) if us - s.lastUs <= gapUs =>
              cur = Some(s.copy(nEvents = s.nEvents + 1, lastUs = math.max(s.lastUs, us)))
            case Some(s) =>
              closed += SessionOut(userId, s.nEvents, s.startUs, s.lastUs)
              cur = Some(SessionState(1L, us, us))
            case None =>
              cur = Some(SessionState(1L, us, us))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastUs / 1000L + gapSec * 1000L)
        }
        closed.iterator
      }
    }

    events
      .withWatermark("ts", s"$gapSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }
}
