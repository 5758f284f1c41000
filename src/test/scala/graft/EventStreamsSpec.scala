package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(user: Long, id: Long, tpe: String, sec: Long): Event =
    Event(user, id, tpe, new Timestamp(sec * 1000L))

  test("windowedTypeCounts: tumbling counts emitted after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.windowedTypeCounts(input.toDF())
      .writeStream.format("memory").queryName("wtc").outputMode("append").start()
    try {
      // two events in hour 0, one in hour 1; then advance watermark far
      input.addData(ev(1, 1, "click", 100), ev(2, 2, "click", 200), ev(1, 3, "view", 3700))
      q.processAllAvailable()
      input.addData(ev(9, 99, "click", 100000)) // watermark jumps past both windows
      q.processAllAvailable()
      val got = spark.table("wtc")
        .select("window_start", "event_type", "n_events")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(got.contains((new Timestamp(0L), "click", 2L)))
      assert(got.contains((new Timestamp(3600L * 1000L), "view", 1L)))
    } finally q.stop()
  }

  test("dedupStream: one row per content hash within the watermark, state evicted after") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = EventStreams.dedupStream(docs, "text", "ts")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      def row(id: Long, text: String, sec: Long) =
        (id, text, new Timestamp(sec * 1000L))
      input.addData(row(1, "alpha", 100), row(2, "alpha", 150), row(3, "beta", 160))
      q.processAllAvailable()
      // duplicate within the watermark window: suppressed
      input.addData(row(4, "alpha", 200))
      q.processAllAvailable()
      // push the watermark far past the state, then repeat the text:
      // state was evicted, so the "duplicate" re-emits (documented
      // within-watermark semantics)
      input.addData(row(5, "gamma", 100000))
      q.processAllAvailable()
      input.addData(row(6, "alpha", 100200))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("doc_id").as[Long].collect().toSet
      assert(ids.contains(1L) && ids.contains(3L) && ids.contains(5L))
      assert(!ids.contains(2L) && !ids.contains(4L))
      assert(ids.contains(6L)) // state for "alpha" evicted by watermark
    } finally q.stop()
  }

  test("decorateStream: stream-static broadcast enrichment, left semantics") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = EventStreams.decorateStream(input.toDF(), dim, "user_id")
      .select("user_id", "event_id", "tier")
      .writeStream.format("memory").queryName("deco").outputMode("append").start()
    try {
      input.addData(ev(1, 10, "click", 100), ev(3, 11, "view", 200))
      q.processAllAvailable()
      val got = spark.table("deco")
        .as[(Long, Long, Option[String])].collect().toSet
      assert(got === Set((1L, 10L, Some("gold")), (3L, 11L, None)))
    } finally q.stop()
  }

  test("sessionize: sessions close on gap, match batch gaps-and-islands") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapSec = 1800L)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // base offset keeps event times clear of the initial watermark (0)
      // user 1: events at +0s, +60s (one session), then +10000s (new)
      // user 2: single event
      val b = 100000L
      input.addData(ev(1, 1, "a", b + 0), ev(1, 2, "a", b + 60), ev(2, 10, "a", b + 30))
      q.processAllAvailable()
      input.addData(ev(1, 3, "a", b + 10000))
      q.processAllAvailable()
      // flush: event far in the future moves the watermark, timing out all
      input.addData(ev(99, 999, "a", 10000000))
      q.processAllAvailable()
      input.addData(ev(99, 1000, "a", 10000001))
      q.processAllAvailable()
      val got = spark.table("sess")
        .select("user_id", "n_events", "start_us", "end_us")
        .as[(Long, Long, Long, Long)].collect()
        .filter(_._1 != 99L).toSet
      val bu = 100000L * 1000000L
      assert(got == Set(
        (1L, 2L, bu, bu + 60000000L),
        (1L, 1L, bu + 10000000000L, bu + 10000000000L),
        (2L, 1L, bu + 30000000L, bu + 30000000L)))
    } finally q.stop()
  }

  test("asofEnrich: state carries the last error across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.asofEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_s").outputMode("append").start()
    try {
      // batch 1: error then purchase at the same stamp (inclusive tie),
      // and a purchase with no prior error
      input.addData(ev(1, 1, "error", 100), ev(1, 2, "purchase", 100),
        ev(2, 3, "purchase", 50))
      q.processAllAvailable()
      // batch 2: state remembers user 1's error; new error supersedes
      input.addData(ev(1, 4, "purchase", 200),
        ev(1, 5, "error", 300), ev(1, 6, "purchase", 400))
      q.processAllAvailable()
      val got = spark.table("asof_s")
        .as[(Long, Long, Long, Option[Long])].collect()
        .map(r => r._2 -> r._4).toMap
      assert(got === Map(
        2L -> Some(100000000L), // tie: error at same micros counts
        3L -> None,
        4L -> Some(100000000L), // carried across micro-batches
        6L -> Some(300000000L)))
    } finally q.stop()
  }

  test("streaming asofEnrich matches batch q39 on the real events table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.queries.Queries.q39AsofJoin(spark, dir)
      .select("event_id", "last_err_us")
      .as[(Long, Option[Long])].collect().toMap

    val rows = graft.core.Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts")
      .as[Event].collect().toSeq
    val input = MemoryStream[Event]
    val q = EventStreams.asofEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_real").outputMode("append").start()
    try {
      input.addData(rows) // one batch: in-batch sort handles ordering
      q.processAllAvailable()
      val streamed = spark.table("asof_real")
        .as[(Long, Long, Long, Option[Long])].collect()
        .map(r => r._2 -> r._4).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming sessionize matches batch q10 on the real events table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch truth: q10's gaps-and-islands session counts per user
    val batch = graft.queries.Queries.q10Sessionize(spark, dir)
      .select("user_id", "n_sessions")
      .as[(Long, Long)].collect().toMap

    val rows = graft.core.Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts")
      .as[Event].collect().toSeq
    val maxTs = rows.map(_.ts.getTime).max

    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapSec = 1800L)
      .writeStream.format("memory").queryName("sess_real").outputMode("append").start()
    try {
      input.addData(rows) // one batch: in-batch sort handles ordering
      q.processAllAvailable()
      // flush events advance the watermark far enough to time out all
      input.addData(ev(999999, 1, "f", maxTs / 1000L + 1000000L))
      q.processAllAvailable()
      input.addData(ev(999999, 2, "f", maxTs / 1000L + 1000001L))
      q.processAllAvailable()
      val streamed = spark.table("sess_real")
        .where(col("user_id") =!= 999999L)
        .groupBy("user_id").count()
        .as[(Long, Long)].collect().toMap
      assert(streamed == batch,
        s"diff=${(batch.toSet diff streamed.toSet) ++ (streamed.toSet diff batch.toSet)}")
    } finally q.stop()
  }
}
