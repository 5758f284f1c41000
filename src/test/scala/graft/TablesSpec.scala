package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Canary for the scan seam. The driver regenerates /root/testdata
  * between rounds and has already drifted the physical timestamp type
  * twice (TIMESTAMP(NANOS) → timestamp[us]-no-tz / TIMESTAMP_NTZ);
  * round 8 lost 10 queries and 8 suites to that drift because the
  * breakage surfaced at the first analysis of each consumer. This spec
  * pins the canonical POST-adapter schema per table, so the next regen
  * breaks exactly one focused test with a message naming the table and
  * the drifted column instead of failing consumers at a distance.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs: Seq[String] =
    Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")
      .filter(d => new java.io.File(d).exists())

  // Canonical contract: what every operator downstream of Tables may
  // assume. Timestamps are tz-aware TimestampType (never NTZ, never
  // raw long), keys are fixed integral widths, embeddings are
  // Array[Float].
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  test("post-adapter schemas match the canonical contract at every SF") {
    assert(sfDirs.nonEmpty, "no /root/testdata sf dirs found")
    assert(canonical.keySet == Tables.names.toSet,
      "TablesSpec canonical map out of sync with Tables.names")
    for (dir <- sfDirs; name <- Tables.names) {
      // events must go through its dedicated adapter ONLY — a raw load
      // of nanos-era data throws before the adapter's conf is set
      val got =
        if (name == "events") Tables.events(spark, dir)
        else Tables.load(spark, dir, name)
      val actual = got.schema.fields.toSeq.map(f =>
        f.name -> (f.dataType match {
          // embeddings element nullability varies by writer; the
          // contract is the element type, not its nullable flag
          case ArrayType(et, _) => ArrayType(et)
          case dt => dt
        }))
      assert(actual == canonical(name),
        s"\nDRIVER DATA DRIFT at $dir/$name.parquet:" +
          s"\n  expected ${canonical(name).mkString(", ")}" +
          s"\n  actual   ${actual.mkString(", ")}" +
          "\nFix graft.core.Tables' adapter for this table, then " +
          "update this contract if the change is intentional.")
    }
  }

  test("no table leaks TIMESTAMP_NTZ or raw-long timestamps downstream") {
    for (dir <- sfDirs.take(1); name <- Tables.names) {
      val df = if (name == "events") Tables.events(spark, dir)
      else Tables.load(spark, dir, name)
      val leaked = df.schema.fields.filter(_.dataType == TimestampNTZType)
      assert(leaked.isEmpty,
        s"$name: NTZ columns escaped the adapter: ${leaked.map(_.name).mkString(",")}")
    }
  }

  test("a table's schema is inferred once: a second load launches no " +
      "Spark job, and a rewritten table is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/documents.parquet"
    def jobsOf(load: => DataFrame): (Int, DataFrame) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.sql.classic.GraftColumnBridge.awaitListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = load
        org.apache.spark.sql.classic.GraftColumnBridge.awaitListeners(spark.sparkContext)
        (jobs.get, df)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    spark.range(5).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .coalesce(1).write.parquet(path)
    val (first, inferred) = jobsOf(Tables.load(spark, dir, "documents"))
    assert(first >= 1, "the first load infers the schema with a Spark job")
    val (second, df) = jobsOf(Tables.load(spark, dir, "documents"))
    assert(second == 0)
    assert(df.columns.toSeq == Seq("doc_id", "text") && df.count() == 5)
    def plan(d: DataFrame) =
      graft.tools.PlanAudit.normalized(d.queryExecution.executedPlan.toString)
    assert(plan(df) == plan(inferred))
    spark.range(3).selectExpr("id AS doc_id", "id * 2 AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val (third, rewritten) = jobsOf(Tables.load(spark, dir, "documents"))
    assert(third >= 1)
    assert(rewritten.columns.toSeq == Seq("doc_id", "n_chars") && rewritten.count() == 3)
  }

  test("NTZ→TimestampType cast is value-preserving under the pinned UTC session") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "harness must pin UTC for the NTZ cast to be lossless")
    val dir = sfDirs.head
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case TimestampNTZType =>
        // INDEPENDENT derivation on each side (re-applying the same
        // cast on both would be a tautology): the raw NTZ max collects
        // as a JVM LocalDateTime — naive wall-clock fields, untouched
        // by any session timezone — and the canonical max as an
        // Instant. The cast is value-preserving iff the naive fields
        // read AS UTC name the same instant. A session tz drift or a
        // shifting cast moves the Instant side only, failing this.
        val rawMax = raw.agg(max(col("ts"))).head()
          .getAs[java.time.LocalDateTime](0) // NTZ always collects naive
        val canonMax = Tables.events(spark, dir)
          .agg(max(col("ts"))).head().get(0) match {
            case t: java.sql.Timestamp => t.toInstant // java8API off
            case i: java.time.Instant  => i           // java8API on
          }
        assert(rawMax.toInstant(java.time.ZoneOffset.UTC) == canonMax,
          s"NTZ cast shifted values: raw(naive)=$rawMax canonical=$canonMax")
      case TimestampType => succeed // driver regenerated tz-aware: nothing to prove
      case other =>
        // nanos-as-long era data, or a new drift: the schema test
        // already pins the post-adapter shape; nothing NTZ to check.
        succeed
    }
  }
}
