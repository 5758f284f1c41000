package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table registry over the driver-generated parquet test tables
  * (TESTDATA.md). In the reference every pipeline starts from a named
  * MongoDB collection or MySQL table (e.g. `search/decorate.js:8,167`);
  * here every query starts from a named parquet table. At cluster scale
  * these would be partitioned/bucketed managed tables — the accessors
  * keep that swap in one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical-schema rule: every timestamp column downstream of the
    * registry is tz-aware TimestampType. The driver's generator writes
    * `timestamp[us]` WITHOUT timezone markers (pandas/pyarrow default),
    * which Spark 4 reads as TIMESTAMP_NTZ — a type half the
    * timestamp function surface (`unix_micros`, watermarks, ...)
    * rejects at analysis time. The values were produced as UTC
    * instants and every entrypoint pins the session timezone to UTC,
    * so casting NTZ → TimestampType re-labels the same instant
    * losslessly (TablesSpec asserts the invariant per table).
    * Top-level columns only: no generated table nests timestamps.
    */
  private def canonicalizeTimestamps(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** What the first load of one table learned: the schema parquet
    * inference found, and whether [[load]] fans the scan out.
    */
  private final case class Learned(schema: StructType, fanOut: Boolean)

  /** Key of a [[Learned]]: the table path, each of its files' (name,
    * length, modification time), the `nanosAsLong` read setting that
    * [[events]] sets (it changes the inferred type of a nanos column)
    * and the target parallelism the fan-out compares against. A
    * rewritten table lists new files and is learned again.
    */
  private final case class LoadKey(
      path: String, files: Seq[(String, Long, Long)], nanosAsLong: String, target: Int)

  /** Learned tables, JVM-wide (a schema outlives sessions); cleared
    * when it holds `LoadMemoCap` tables.
    */
  private val loadMemo = new ConcurrentHashMap[LoadKey, Learned]()
  private val LoadMemoCap = 256

  /** (name, length, modification time) of every file under `path`;
    * empty if the path does not exist, so that the read raises its own
    * not-found error (a failed read learns nothing).
    */
  private def filesOf(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result()
    } catch { case _: FileNotFoundException => Seq.empty }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val target = spark.sparkContext.defaultParallelism
    val key = LoadKey(path, filesOf(spark, path),
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"), target)
    // Parquet schema inference is a one-task Spark job per read; a
    // table loaded before reads with the schema that job found.
    val known = Option(loadMemo.get(key))
    val raw = known.fold(spark.read.parquet(path))(l => spark.read.schema(l.schema).parquet(path))
    val df = canonicalizeTimestamps(raw)
    // Single-file, single-ROW-GROUP parquet (the test harness's layout;
    // verified with pyarrow) is unsplittable: the scan yields ONE
    // partition regardless of core count, so every per-row kernel and
    // partial aggregate before the first exchange runs single-threaded
    // — at audit scale that serialized minutes of work. Fan the scan
    // out when it is under-partitioned for the machine and the table
    // is not dim-tiny. Predicate pushdown and column pruning both move
    // through Repartition, so the exchange carries only pruned rows.
    // On a real cluster reading many splits (parts >= cores) this is a
    // no-op — it exists to make local single-file inputs behave like
    // the many-split layout a deployment would have.
    //
    // The 64 KiB gate stays. The sf0.01 documents table (65,049 B)
    // sits 487 B under it and is scanned as one task; a 32 KiB gate
    // made perfbench `similarity_sf0.01` slower on a 4-core VM
    // (wall_s 2.48 -> 3.40 s, q22 0.94 -> 1.60 s, engine.tasks
    // 26 -> 53): at this size per-stage overhead outweighs the
    // kernel work a fan-out spreads.
    val fanOut = known.fold {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      // toRdd, not .rdd: the partition-count probe must not compile a
      // second Row-deserializing physical plan just to read a number
      val f = bytes > (64L << 10) && df.queryExecution.toRdd.getNumPartitions < target
      if (loadMemo.size >= LoadMemoCap) loadMemo.clear()
      loadMemo.put(key, Learned(raw.schema, f))
      f
    }(_.fanOut)
    if (fanOut) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Physical-type adapter for events.ts. The driver's generator has
    * shipped this column three ways across regenerations — parquet
    * TIMESTAMP(NANOS) (whole-microsecond values; Spark 4 refuses it
    * unless read nanos-as-long), `timestamp[us]` without timezone
    * (TIMESTAMP_NTZ — normalized by [[load]] like every table), and
    * plain tz-aware micros (ScaleUp-synthesized copies, real
    * deployments). All three carry the same instants; the extra branch
    * here handles only the nanos-as-long shape, truncating whole-
    * microsecond nano values losslessly.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Wide-vocabulary derived corpus — the driver's synthetic documents
    * carry a ~31-word vocabulary, which puts every text-operator
    * selectivity three orders of magnitude off real corpora (a %10
    * benchmark split "contaminates" 61% of grams; every unigram is a
    * heavy hitter). This view rebuilds `text` deterministically from
    * doc_id with a ZIPFIAN 16,383-term vocabulary: token i of doc d
    * hashes to a 60-bit h = md5(d:":"i), band z = h mod 14 picks one
    * of 14 frequency octaves uniformly, and the word is uniform over
    * the band's 2^z members — so band-z words each carry probability
    * 1/(14·2^z) ∝ 1/rank, the discrete-octave Zipf(1) shape. Doc
    * length 40 + (d mod 41) tokens. Pure integer/md5 arithmetic, so
    * any SQL engine replays the corpus byte-for-byte (the q103+ wide
    * oracles embed the same construction); text-family operators gate
    * on BOTH corpora — this one exercises realistic selectivities.
    */
  def documentsWide(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat_ws, expr}
    documents(s, d).select(
      col("doc_id"), col("lang"), col("source"),
      concat_ws(" ", expr(
        """transform(
             transform(sequence(0, cast(39 + doc_id % 41 as int)),
               i -> cast(conv(substring(md5(concat(
                      cast(doc_id as string), ':', cast(i as string))),
                      1, 15), 16, 10) as bigint)),
             h -> concat('w', cast(
                    shiftleft(1L, cast(h % 14 as int)) +
                    (h div 14) % shiftleft(1L, cast(h % 14 as int))
                  as string)))""")).as("text"))
  }
}
