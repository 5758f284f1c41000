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

  /** The context's checkpoint dir is fixed once set, so every reliable
    * test in the shared session names the same one.
    */
  private lazy val reliableDir =
    java.nio.file.Files.createTempDirectory("graft-reliable-").toString

  test("reliable mode: stage survives via checkpoint files, results equal") {
    spark.conf.set(StagingScope.ModeKey, "reliable")
    spark.conf.set(StagingScope.DirKey, reliableDir)
    try {
      val df = (1L to 200L).toDF("id")
        .groupBy(pmod(col("id"), lit(7)).as("g")).agg(count(lit(1)).as("n"))
      val staged = StagingScope.stage(df)
      assert(staged.collect().toSet == df.collect().toSet)
      // reliable = RDD-checkpointed to the staging dir, not block-pinned
      val lr = staged.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      assert(lr.rdd.isCheckpointed && lr.rdd.getCheckpointFile.isDefined,
        "reliable mode must take a RELIABLE (file-backed) checkpoint")
      StagingScope.drain() // harmless on reliable checkpoints
    } finally {
      spark.conf.unset(StagingScope.ModeKey)
      spark.conf.unset(StagingScope.DirKey)
    }
  }

  test("off mode: stage is the identity (no cut, identical results)") {
    spark.conf.set(StagingScope.ModeKey, "off")
    try {
      val df = (1L to 50L).toDF("id").withColumn("y", col("id") * 2)
      val staged = StagingScope.stage(df)
      assert(staged eq df, "off mode must not touch the plan")
    } finally spark.conf.unset(StagingScope.ModeKey)
  }

  test("results are bit-identical across all three modes (an op-level " +
      "pin: the mode moves wall-clock and fault semantics, never rows)") {
    val docs = Seq(
      "alpha beta gamma alpha beta", "beta gamma delta beta gamma",
      "alpha beta alpha beta alpha", "delta epsilon delta epsilon")
      .toDF("text")
    def run(): Seq[org.apache.spark.sql.Row] =
      graft.ops.Collocations.pmiTopK(docs, "text", minCount = 2, k = 5)
        .collect().toSeq
    val local = run()
    spark.conf.set(StagingScope.ModeKey, "off")
    val off = try run() finally spark.conf.unset(StagingScope.ModeKey)
    spark.conf.set(StagingScope.ModeKey, "reliable")
    spark.conf.set(StagingScope.DirKey, reliableDir)
    val reliable = try run() finally {
      spark.conf.unset(StagingScope.ModeKey)
      spark.conf.unset(StagingScope.DirKey)
    }
    assert(off == local && reliable == local)
    StagingScope.drain()
  }

  test("reliable mode refuses a staging dir that differs from the " +
      "context's existing checkpoint dir, naming both") {
    spark.conf.set(StagingScope.ModeKey, "reliable")
    try {
      spark.conf.set(StagingScope.DirKey, reliableDir)
      StagingScope.stage(Seq(1).toDF("x")).collect()
      val have = spark.sparkContext.getCheckpointDir.get
      val other =
        java.nio.file.Files.createTempDirectory("graft-elsewhere-").toString
      spark.conf.set(StagingScope.DirKey, other)
      val e = intercept[IllegalStateException] {
        StagingScope.stage(Seq(2).toDF("x"))
      }
      assert(e.getMessage.contains(other) && e.getMessage.contains(have),
        e.getMessage)
      // unset, the existing dir is used as before
      spark.conf.unset(StagingScope.DirKey)
      assert(StagingScope.stage(Seq(3).toDF("x")).collect().map(_.getInt(0))
        .toSeq == Seq(3))
    } finally {
      spark.conf.unset(StagingScope.ModeKey)
      spark.conf.unset(StagingScope.DirKey)
      StagingScope.drain()
    }
  }

  test("unknown mode refuses by name") {
    spark.conf.set(StagingScope.ModeKey, "sideways")
    try {
      val e = intercept[IllegalArgumentException] {
        StagingScope.stage(Seq(1).toDF("x"))
      }
      assert(e.getMessage.contains(StagingScope.ModeKey))
    } finally spark.conf.unset(StagingScope.ModeKey)
  }
}
