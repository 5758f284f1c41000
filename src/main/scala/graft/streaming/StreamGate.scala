package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.EventStreams.Event

/** Driver-gate adapter for the streaming tier: runs a Structured
  * Streaming pipeline over the SAME events parquet the batch catalog
  * reads — `Trigger.AvailableNow`, exactly-once parquet file sink —
  * and hands the result back as a batch DataFrame, so the streaming
  * operators flow through the same DuckDB oracle gate as every batch
  * query (on bounded input the streaming answer must EQUAL the batch
  * answer; q59 shares q10's oracle, q60 shares q39's).
  *
  * Determinism of the final flush: event-time timeouts only fire in a
  * batch whose START watermark exceeds the state's timeout stamp, so a
  * run whose last batch carries the latest data can leave final
  * sessions pending. Rather than lean on no-data batch scheduling,
  * [[stageEvents]] appends two SENTINEL files with far-future stamps
  * and strictly increasing mtimes, and the source runs with
  * `maxFilesPerTrigger = 1`: batch 0 = the real data (all closed-by-gap
  * sessions emit), batch 1 = sentinel A (watermark jumps past every
  * pending timeout), batch 2 = sentinel B (those timeouts fire and
  * emit). Sentinel rows use `user_id = -1` and are filtered out of the
  * gated result. State removal on timeout makes any extra no-data
  * batches Spark schedules idempotent.
  */
object StreamGate {

  val SentinelUser = -1L

  /** All gate scratch (staged source copies, sentinel build dirs, file
    * sinks, checkpoints) lives under one per-JVM root that a shutdown
    * hook removes recursively — repeated gate/bench/test invocations
    * must not accumulate data in the system temp dir. Sinks can't be
    * deleted eagerly (the returned DataFrame reads them lazily), so
    * exit-time cleanup is the correct lifetime.
    */
  private lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft_stream_gate_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root)))
    root
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p)) { walk =>
        walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala
          .foreach(f => try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
      }
    }
  }

  private def tempDir(prefix: String): Path =
    Files.createTempDirectory(scratchRoot, prefix)

  /** Write a single-part parquet copy of `df` and move the part file to
    * `staged`. `repartition(1)` (a shuffle) rather than `coalesce(1)` so
    * the upstream plan still runs in parallel before the single write
    * task.
    */
  private def writeStagedPart(df: DataFrame, staged: Path): Unit = {
    val scratch = tempDir("graft_stream_part_")
    val out = scratch.resolve("out")
    df.repartition(1).write.parquet(out.toString)
    import scala.jdk.CollectionConverters._
    val part = scala.util.Using.resource(Files.list(out)) { listing =>
      listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $out"))
    }
    Files.copy(part, staged)
    deleteRecursively(scratch) // staged copy taken; scratch is dead weight
  }

  /** Stage the events table into a fresh stream-source directory,
    * optionally followed by one single-row sentinel file per entry of
    * `sentinelTsNs` — mtimes strictly increase in argument order so the
    * file source forms one micro-batch per file in exactly this order.
    *
    * Staging goes THROUGH [[graft.core.Tables.events]], not a raw file
    * copy: the batch adapter normalizes every physical ts layout the
    * driver has shipped (nanos-as-long, TIMESTAMP_NTZ micros, tz-aware
    * micros) to one canonical TimestampType schema, so the gate never
    * re-adapts and a future physical drift in the generated parquet
    * breaks exactly one seam (Tables + its spec), not every streaming
    * suite.
    */
  def stageEvents(s: SparkSession, d: String, sentinelTsNs: Seq[Long]): Path = {
    val dir = tempDir("graft_stream_src_")
    val data = dir.resolve("00_events.parquet")
    val events = graft.core.Tables.events(s, d)
    writeStagedPart(events, data)
    val schema = events.schema
    val t0 = System.currentTimeMillis()
    Files.setLastModifiedTime(data, FileTime.fromMillis(t0))
    sentinelTsNs.zipWithIndex.foreach { case (ns, i) =>
      val tsValue = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        java.lang.Math.floorDiv(ns, 1000000000L),
        java.lang.Math.floorMod(ns, 1000000000L)))
      val staged = dir.resolve(f"zz_sentinel_$i%02d.parquet")
      writeStagedPart(
        s.createDataFrame(
          java.util.Arrays.asList(
            Row(-(i + 1).toLong, tsValue, SentinelUser, "sentinel", 0.0, "")),
          schema),
        staged)
      // 60s spacing dwarfs any filesystem mtime granularity
      Files.setLastModifiedTime(staged, FileTime.fromMillis(t0 + (i + 1) * 60000L))
    }
    dir
  }

  /** The staged events as a stream (already in canonical batch-table
    * shape — see [[stageEvents]]), one file per micro-batch, projected
    * to the [[EventStreams.Event]] shape.
    */
  def streamEvents(s: SparkSession, dir: Path): Dataset[Event] = {
    import s.implicits._
    val schema = s.read.parquet(dir.resolve("00_events.parquet").toString).schema
    s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[Event]
  }

  /** Run `out` to completion under `Trigger.AvailableNow` into a
    * parquet file sink (exactly-once: checkpoint + _spark_metadata
    * commit log) and read the committed result back as a batch
    * DataFrame.
    */
  def runAvailableNow(out: DataFrame): DataFrame = {
    val sink = tempDir("graft_stream_sink_").toString
    val ckpt = tempDir("graft_stream_ckpt_").toString
    // Pin the schema before starting: a query that commits zero rows
    // leaves no parquet parts, and a schema-less read of the empty sink
    // would throw instead of round-tripping an empty DataFrame.
    val schema = out.schema
    val q = out.writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out.sparkSession.read.schema(schema).parquet(sink)
  }

  /** Max event stamp of the batch table in nanoseconds (sentinel
    * placement input).
    */
  def maxEventNs(s: SparkSession, d: String): Long = {
    val maxUs = graft.core.Tables.events(s, d)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    maxUs * 1000L
  }

  private val pairsSchema = StructType(Seq(
    StructField("id_a", LongType),
    StructField("id_b", LongType)))

  /** Stage a batch (id_a, id_b) pair table as up to `slices`
    * hash-sliced parquet files with strictly increasing mtimes — a
    * deterministic multi-micro-batch stream source for the components
    * gate (slice membership is content-hashed, so the batch split is
    * reproducible; empty slices are simply not staged).
    */
  def stagePairs(pairs: DataFrame, slices: Int): Path = {
    // Materialize the pair table ONCE before slicing: the caller's
    // pairs plan can be a full similarity join, and without this each
    // slice's write would replay it (slices× the dominant cost).
    val typed = pairs.select(
        col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .localCheckpoint()
    val dir = stageSlices(typed, col("id_a"), slices, "pairs")
    // slices written; nothing reads the pair checkpoint again
    org.apache.spark.sql.classic.GraftColumnBridge
      .unpersistLocalCheckpoint(typed)
    dir
  }

  /** Stage `df` as up to `slices` hash-sliced parquet files (slice =
    * xxhash64 of `sliceKey` mod `slices`) with strictly increasing
    * mtimes — a deterministic multi-micro-batch stream source (slice
    * membership is content-hashed, so the batch split is reproducible;
    * empty slices are simply not staged). Callers materialize `df`
    * first if its plan is expensive — each slice's write replays it.
    */
  def stageSlices(
      df: DataFrame, sliceKey: org.apache.spark.sql.Column,
      slices: Int, prefix: String): Path = {
    val dir = tempDir(s"graft_stream_${prefix}_")
    val t0 = System.currentTimeMillis()
    (0 until slices).foreach { i =>
      val scratch = tempDir("graft_stream_slice_")
      val out = scratch.resolve("out")
      // repartition(1), not coalesce(1), for the single staged part
      // file — coalesce would collapse the slice filter into ONE task
      df.where(pmod(xxhash64(sliceKey), lit(slices)) === i)
        .repartition(1).write.parquet(out.toString)
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(out)) { listing =>
        listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
      }.foreach { part =>
        val staged = dir.resolve(f"${prefix}_$i%02d.parquet")
        Files.copy(part, staged)
        Files.setLastModifiedTime(staged, FileTime.fromMillis(t0 + i * 60000L))
      }
      deleteRecursively(scratch)
    }
    dir
  }

  /** The STREAMING decontamination screen, gated: training documents
    * arrive as a file stream (hash-sliced for a deterministic
    * multi-micro-batch run), the benchmark's MinHash index is the
    * static side ([[DocStreams.minHashIndex]] — built once, broadcast
    * or bucket-joined per micro-batch), candidates verify with the
    * exact Jaccard, and watermark-bounded state dedups multi-band
    * re-matches ([[DocStreams.nearDupStream]]). On the bounded staged
    * input the result must EQUAL the batch screen
    * ([[graft.ops.Decontaminate.minHashScreen]] with the same
    * parameters — same md5 signatures, banding and verify), which is
    * how StreamGateSpec pins it, and why q73 and q73b are gated by
    * their batch twin's oracle.
    *
    * The synthesized event time (`timestamp_micros(doc_id)`) spreads
    * all stamps well inside one watermark, so the dedup state never
    * expires mid-run and the streaming dedup is exact — the same
    * bounded-input determinism argument as [[stageEvents]]' sentinels.
    */
  def decontaminateScreenAvailableNow(
      s: SparkSession, d: String, slices: Int = 4): DataFrame = {
    val docs = graft.core.Tables.documents(s, d)
    val bench = docs.where(col("doc_id") % 20 === 0)
    val train = docs
      .where(col("doc_id") % 20 =!= 0)
      .withColumn("ts", timestamp_micros(col("doc_id")))
      .localCheckpoint(false)
    val dir = stageSlices(train, col("doc_id"), slices, "docs")
    // slices written; nothing reads the train checkpoint again
    org.apache.spark.sql.classic.GraftColumnBridge
      .unpersistLocalCheckpoint(train)
    // per-batch static side for the stream's lifetime — registered so
    // the harness's query-boundary drain frees it
    val index = graft.core.StagingScope.register(DocStreams
      .minHashIndex(bench, "text", "doc_id", shingleN = 2,
        bands = 8, rowsPerBand = 4)
      .localCheckpoint(false))
    // probe any staged slice for the schema (slice 0 may be empty and
    // therefore unstaged — slice membership is content-hashed)
    val schema = {
      import scala.jdk.CollectionConverters._
      val first = scala.util.Using.resource(Files.list(dir)) { l =>
        l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no staged doc slices under $dir"))
      }
      s.read.parquet(first.toString).schema
    }
    val stream = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val out = DocStreams.nearDupStream(
      stream, index, "text", "doc_id", "ts",
      threshold = 0.5, shingleN = 2, bands = 8, rowsPerBand = 4)
    runAvailableNow(out)
      .select(col("doc_id"), col("corpus_id").as("bench_id"), col("jaccard"))
  }

  /** Run the staged pair slices through the INCREMENTAL components
    * accumulator ([[StreamComponents]]), one file per micro-batch under
    * `Trigger.AvailableNow`, and return the final (id, component)
    * mapping — which the incremental fold guarantees equals the batch
    * [[graft.ops.Components.components]] over the union of all pairs,
    * so the batch oracle gates the streaming machinery verbatim.
    */
  def componentsAvailableNow(s: SparkSession, dir: Path): DataFrame = {
    val acc = new StreamComponents.IncrementalComponents(s)
    val stream = s.readStream
      .schema(pairsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val ckpt = tempDir("graft_stream_ckpt_").toString
    val q = StreamComponents.accumulate(stream, acc)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.core.StagingScope.register(acc.snapshot)
  }
}
