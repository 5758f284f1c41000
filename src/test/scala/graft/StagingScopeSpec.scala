package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.GraftColumnBridge
import graft.core.StagingScope

class StagingScopeSpec extends SparkSpec {
  import spark.implicits._

  private def storageBytes(df: org.apache.spark.sql.DataFrame): Long =
    GraftColumnBridge.localCheckpointStorageBytes(df)

  /** unpersist is async (blocking = false); poll briefly. */
  private def eventuallyFreed(df: org.apache.spark.sql.DataFrame): Boolean = {
    (0 until 50).exists { _ =>
      if (storageBytes(df) == 0L) true
      else { Thread.sleep(100); false }
    }
  }

  test("local mode: stage cuts lineage, drain releases the blocks") {
    StagingScope.drain() // isolate from other suites' registrations
    val df = (1L to 1000L).toDF("id")
      .groupBy(pmod(col("id"), lit(13)).as("g")).agg(sum("id").as("s"))
    val staged = StagingScope.stage(df)
    assert(staged.collect().toSet == df.collect().toSet)
    assert(storageBytes(staged) > 0L,
      "staged frame must hold materialized checkpoint blocks after an action")
    StagingScope.drain()
    assert(eventuallyFreed(staged),
      "drain must release the staged blocks without waiting for driver GC")
  }

  test("register releases iteration-final checkpoints at the boundary " +
      "(Dataset.unpersist alone does NOT free a localCheckpoint)") {
    StagingScope.drain()
    val ckpt = (1L to 500L).toDF("id").localCheckpoint()
    ckpt.count()
    assert(storageBytes(ckpt) > 0L)
    // the bug the bridge exists for: the public unpersist only touches
    // the CacheManager, the checkpoint RDD's blocks stay pinned
    ckpt.unpersist(blocking = true)
    assert(storageBytes(ckpt) > 0L,
      "Dataset.unpersist freed the checkpoint blocks — if Spark fixed " +
        "this, the bridge and the scope can simplify")
    StagingScope.register(ckpt)
    StagingScope.drain()
    assert(eventuallyFreed(ckpt))
  }

  test("the partClosure session memo survives a query-boundary drain: " +
      "a partly read memo still serves q14 after its build is drained") {
    // a directory of its own, so the memo key is fresh in this session
    val d = java.nio.file.Files.createTempDirectory("graft-memo")
    java.nio.file.Files.createSymbolicLink(d.resolve("part.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001/part.parquet"))
    val dir = d.toString
    // uncoalesced, so the memo has several partitions and `limit(1)`
    // reads only the first
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try graft.queries.Queries.partClosure(spark, dir).limit(1).collect()
    finally spark.conf.unset(coalesce)
    StagingScope.drain()
    val got = graft.queries.Queries.q14SubtreeRollup(spark, dir).collect().toSet
    // q14 without the memo: the same closure and rollup, built afresh
    val part = graft.core.Tables.part(spark, dir)
    val closure = graft.ops.Closure.transitiveClosure(part
      .filter(col("p_partkey") >= 1)
      .select(col("p_partkey").as("child"),
        floor(col("p_partkey") / 2).cast("long").as("parent")))
    val facts = part.select(col("p_partkey").as("node"),
      round(col("p_retailprice") * 100).cast("decimal(38,0)").as("p_cents"))
    val want = graft.ops.Closure.subtreeSum(closure, facts, "p_cents", "subtree_cents")
      .select(col("node"), (col("subtree_cents") / 100.0).as("subtree_value"))
      .collect().toSet
    StagingScope.drain()
    assert(got.nonEmpty && got == want)
  }
}
