package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.IntegerType

import graft.streaming.EventStreams.Event

/** Driver-gate adapter for the streaming tier: runs a Structured
  * Streaming pipeline over the SAME tables the batch catalog reads —
  * `Trigger.AvailableNow` over a staged file source — and hands the
  * result back as a batch DataFrame, so the streaming operators flow
  * through the same DuckDB oracle gate as every batch query (on
  * bounded input the streaming answer must EQUAL the batch answer;
  * q59 shares q10's oracle, q60 shares q39's).
  *
  * Every gate replays through one harness, each piece written once:
  * the source stager ([[stageSlices]], [[stageEvents]],
  * [[stagePairs]]), the file-stream reader ([[streamStaged]]), the two
  * runners ([[runAvailableNow]]: exactly-once file sink;
  * [[foldAvailableNow]]: `foreachBatch` fold) and the fold-state
  * holder ([[FoldState]]).
  *
  * Determinism of the final flush: event-time timeouts only fire in a
  * batch whose START watermark exceeds the state's timeout stamp, so a
  * run whose last batch carries the latest data can leave final
  * sessions pending. Rather than lean on no-data batch scheduling,
  * [[stageEvents]] stages SENTINEL slices with far-future stamps after
  * the data, and the source reads one file per trigger: batch 0 = the
  * real data (all closed-by-gap sessions emit), batch 1 = sentinel A
  * (watermark jumps past every pending timeout), batch 2 = sentinel B
  * (those timeouts fire and emit). Sentinel rows use `user_id = -1`
  * and are filtered out of the gated result. State removal on timeout
  * makes any extra no-data batches Spark schedules idempotent.
  */
object StreamGate {

  val SentinelUser = -1L

  /** All gate scratch (staged sources, file sinks, checkpoints) lives
    * under one per-JVM root that a shutdown hook removes recursively —
    * repeated gate/bench/test invocations must not accumulate data in
    * the system temp dir. Sinks can't be deleted eagerly (the returned
    * DataFrame reads them lazily), so exit-time cleanup is the correct
    * lifetime.
    */
  private lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft_stream_gate_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root)))
    root
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p)) { walk =>
        walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala
          .foreach(f => try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
      }
    }

  private def tempDir(prefix: String): Path =
    Files.createTempDirectory(scratchRoot, prefix)

  /** `dir`'s entries, hidden files (checksum sidecars) excluded. */
  private def visibleFiles(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir)) { l =>
      l.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("."))
        .toList.sortBy(_.getFileName.toString)
    }

  private val SliceCol = "graft_slice"

  /** The source stager: `df` as one single-part parquet file per
    * non-empty slice (`slice` is an int column in [0, slices)),
    * written in ONE job — the slice index is a partition column and
    * `repartition(slices, slice)` puts each slice in one write task.
    * File mtimes strictly increase in slice order, so the file source
    * forms one micro-batch per slice in exactly this order; empty
    * slices are not staged.
    */
  private def stage(df: DataFrame, slice: Column, slices: Int, prefix: String): Path = {
    require(slices >= 1, s"slices must be >= 1, got $slices")
    val dir = tempDir(s"graft_stream_${prefix}_")
    val scratch = tempDir("graft_stream_parts_")
    val out = scratch.resolve("out")
    df.withColumn(SliceCol, slice)
      .repartition(slices, col(SliceCol))
      .write.partitionBy(SliceCol).parquet(out.toString)
    val t0 = System.currentTimeMillis()
    (0 until slices).map(i => (i, out.resolve(s"$SliceCol=$i")))
      .filter { case (_, sliceDir) => Files.isDirectory(sliceDir) }
      .foreach { case (i, sliceDir) =>
        val parts = visibleFiles(sliceDir)
        if (parts.size != 1 || !parts.head.getFileName.toString.endsWith(".parquet"))
          sys.error(s"stream stager: slice $i of '$prefix' must be exactly one " +
            s"part file, found ${parts.map(_.getFileName).mkString("[", ", ", "]")} " +
            s"under $sliceDir")
        val staged = dir.resolve(f"${prefix}_$i%02d.parquet")
        Files.move(parts.head, staged)
        // 60s spacing dwarfs any filesystem mtime granularity
        Files.setLastModifiedTime(staged, FileTime.fromMillis(t0 + i * 60000L))
      }
    deleteRecursively(scratch) // parts moved out; the rest is dead weight
    dir
  }

  /** Stage `df` as up to `slices` hash-sliced files (slice = xxhash64
    * of `sliceKey` mod `slices`) — a deterministic multi-micro-batch
    * stream source: slice membership is content-hashed, so the batch
    * split is reproducible.
    */
  def stageSlices(df: DataFrame, sliceKey: Column, slices: Int, prefix: String): Path =
    stage(df, pmod(xxhash64(sliceKey), lit(slices)).cast(IntegerType), slices, prefix)

  /** A batch (id_a, id_b) pair table staged as up to `slices`
    * hash-sliced files — the components gate's source.
    */
  def stagePairs(pairs: DataFrame, slices: Int): Path =
    stageSlices(
      pairs.select(
        col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")),
      col("id_a"), slices, "pairs")

  /** Stage the events table as slice 0, followed by one single-row
    * sentinel slice per entry of `sentinelTsNs`, in argument order.
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
    val events = graft.core.Tables.events(s, d)
    val sentinels = sentinelTsNs.zipWithIndex.map { case (ns, i) =>
      val tsValue = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        java.lang.Math.floorDiv(ns, 1000000000L),
        java.lang.Math.floorMod(ns, 1000000000L)))
      Row(-(i + 1).toLong, tsValue, SentinelUser, "sentinel", 0.0, "", i + 1)
    }
    val framed = events.withColumn(SliceCol, lit(0)).unionByName(
      s.createDataFrame(sentinels.asJava, events.schema.add(SliceCol, IntegerType)))
    stage(framed, col(SliceCol), 1 + sentinelTsNs.size, "events")
  }

  /** The file-stream reader: the staged files of `dir` as a stream,
    * one file per micro-batch, with the schema probed from a staged
    * file.
    */
  def streamStaged(s: SparkSession, dir: Path): DataFrame = {
    val probe = visibleFiles(dir).headOption
      .getOrElse(sys.error(s"no staged stream source files under $dir"))
    s.readStream
      .schema(s.read.parquet(probe.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
  }

  /** The staged events (already in canonical batch-table shape — see
    * [[stageEvents]]) projected to the [[EventStreams.Event]] shape.
    */
  def streamEvents(s: SparkSession, dir: Path): Dataset[Event] = {
    import s.implicits._
    streamStaged(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[Event]
  }

  /** The file-sink runner: `out` run to completion under
    * `Trigger.AvailableNow` into a parquet file sink (exactly-once:
    * checkpoint + _spark_metadata commit log), read back as a batch
    * DataFrame.
    */
  def runAvailableNow(out: DataFrame): DataFrame = {
    val sink = tempDir("graft_stream_sink_").toString
    // Pin the schema before starting: a query that commits zero rows
    // leaves no parquet parts, and a schema-less read of the empty sink
    // would throw instead of round-tripping an empty DataFrame.
    val schema = out.schema
    out.writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", tempDir("graft_stream_ckpt_").toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    out.sparkSession.read.schema(schema).parquet(sink)
  }

  /** The fold's writer: each non-empty micro-batch goes to `onBatch`
    * through `foreachBatch`; the checkpoint lives under the scratch
    * root.
    * [[foldAvailableNow]] runs it to completion; a caller feeding its
    * own source starts it under the default trigger.
    */
  private[graft] def foldWriter(stream: DataFrame)(
      onBatch: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("graft_stream_ckpt_").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) onBatch(batch)
        ()
      }

  /** The fold runner: fold every micro-batch of `stream` into a
    * [[FoldState]] started at `initial` (`step(state, batch)` is the
    * next state) under `Trigger.AvailableNow`, and return the final
    * state, registered for the query-boundary drain. For batch-complete
    * logic that keyed streaming state cannot express (a global
    * fixpoint, a stream-static scorer, an artifact merge).
    */
  def foldAvailableNow(stream: DataFrame, initial: DataFrame)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val state = new FoldState(initial)
    foldWriter(stream)(batch => state.fold(step(_, batch)))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    state.result
  }

  /** The fold-state holder: the state is always ONE materialized frame,
    * never a growing lineage. Each fold eagerly checkpoints the next
    * state under the instance lock (micro-batches arrive serially
    * anyway) and releases the prior one at once, so a snapshot is safe
    * to join or collect while a stream keeps folding. The holder owns
    * `initial`.
    */
  final class FoldState(initial: DataFrame) {
    private[this] var state: DataFrame = initial

    def fold(step: DataFrame => DataFrame): Unit = synchronized {
      val next = step(state).localCheckpoint()
      // release through the bridge: Dataset.unpersist only touches the
      // CacheManager and silently leaves a localCheckpoint's RDD blocks
      // pinned until driver GC
      org.apache.spark.sql.classic.GraftColumnBridge.unpersistLocalCheckpoint(state)
      state = next
    }

    def snapshot: DataFrame = synchronized(state)

    /** The final state, registered for the query-boundary drain. */
    def result: DataFrame = graft.core.StagingScope.register(snapshot)
  }

  /** Max event stamp of the batch table in nanoseconds (sentinel
    * placement input).
    */
  def maxEventNs(s: SparkSession, d: String): Long = {
    val maxUs = graft.core.Tables.events(s, d)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    maxUs * 1000L
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
    val dir = stageSlices(train, col("doc_id"), slices, "docs")
    // per-batch static side for the stream's lifetime — registered so
    // the harness's query-boundary drain frees it
    val index = graft.core.StagingScope.stage(DocStreams
      .minHashIndex(bench, "text", "doc_id", shingleN = 2,
        bands = 8, rowsPerBand = 4))
    val out = DocStreams.nearDupStream(
      streamStaged(s, dir), index, "text", "doc_id", "ts",
      threshold = 0.5, shingleN = 2, bands = 8, rowsPerBand = 4)
    runAvailableNow(out)
      .select(col("doc_id"), col("corpus_id").as("bench_id"), col("jaccard"))
  }

  /** Run the staged pair slices through the INCREMENTAL components
    * fold ([[StreamComponents.fold]]), one file per micro-batch, and
    * return the final (id, component) mapping — which the incremental
    * fold guarantees equals the batch [[graft.ops.Components.components]]
    * over the union of all pairs, so the batch oracle gates the
    * streaming machinery verbatim.
    */
  def componentsAvailableNow(s: SparkSession, dir: Path): DataFrame =
    foldAvailableNow(streamStaged(s, dir), StreamComponents.empty(s))(
      StreamComponents.fold)
}
