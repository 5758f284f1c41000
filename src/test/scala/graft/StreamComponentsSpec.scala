package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.Components
import graft.streaming.{StreamComponents, StreamGate}

/** Incremental connected components: stream-accumulated state must
  * equal the batch operator over the same pairs, regardless of how the
  * pairs were split into micro-batches.
  */
class StreamComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic random graph: n nodes, m edges. */
  private def edges(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to m).map { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
    }.filter { case (u, v) => u != v }
  }

  /** The components fold, held the way the gate holds it. */
  private final class Acc {
    val state = new StreamGate.FoldState(StreamComponents.empty(spark))
    def update(pairs: org.apache.spark.sql.DataFrame): Unit =
      state.fold(StreamComponents.fold(_, pairs))
    def snapshot: org.apache.spark.sql.DataFrame = state.snapshot
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("id", "component").as[(Long, Long)].collect().toMap

  test("batch-split accumulation equals one-shot batch components, any split") {
    val all = edges(seed = 17, n = 60, m = 80)
    val want = asMap(Components.components(all.toDF("u", "v")))
    for (parts <- Seq(1, 3, 7)) {
      val acc = new Acc
      all.grouped(math.max(1, all.size / parts)).foreach { chunk =>
        acc.update(chunk.toDF("u", "v"))
      }
      assert(asMap(acc.snapshot) == want, s"parts=$parts")
    }
  }

  test("one edge fuses two established clusters; snapshot is correct mid-stream") {
    val acc = new Acc
    acc.update(Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L)).toDF("u", "v"))
    val mid = asMap(acc.snapshot)
    assert(mid == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // the fusing edge arrives in a LATER batch
    acc.update(Seq((3L, 12L)).toDF("u", "v"))
    val fused = asMap(acc.snapshot)
    assert(fused == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
  }

  test("foreachBatch stream accumulation equals batch components on the same pairs") {
    val all = edges(seed = 23, n = 40, m = 55)
    val chunks = all.grouped(12).toSeq
    val acc = new Acc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    // the gate's foreachBatch writer (checkpoint under the gate's
    // scratch root), fed chunk by chunk under the default trigger
    val q = StreamGate.foldWriter(input.toDF().toDF("u", "v"))(acc.update).start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val want = asMap(Components.components(all.toDF("u", "v")))
    assert(asMap(acc.snapshot) == want)
  }

  test("skew: a giant component in adversarial order keeps per-batch work node-bounded") {
    // 99% of nodes end up in ONE component, built as a DESCENDING
    // chain (the component minimum drops in nearly every batch, so
    // almost every already-clustered node must relabel — the worst
    // case for an incremental fold) with 4x redundant intra-component
    // pairs layered on top so the cumulative pair count far exceeds
    // the node count. The bound under test: the state the next batch
    // folds is the STAR FOREST (<= one edge per clustered node),
    // never the pair history — i.e. per-batch work ∝ batch + clustered
    // nodes, not ∝ pairs consumed so far.
    val n = 1000
    val giant = (10 until n).map(_.toLong) // nodes 10..999, min 10
    val chain = (n - 1 to 11 by -1).map(i => (i.toLong, (i - 1).toLong))
    val rnd = new scala.util.Random(7)
    val redundant = (1 to 4 * n).map { _ =>
      (giant(rnd.nextInt(giant.size)), giant(rnd.nextInt(giant.size)))
    }.filter { case (u, v) => u != v }
    // interleave: every batch extends the chain downward AND replays
    // redundant pairs of the already-built cluster
    val batches = chain.grouped(99).toSeq.zipAll(
      redundant.grouped(400).toSeq, Seq.empty, Seq.empty)
      .map { case (c, r) => c ++ r }

    val acc = new Acc
    var consumed = 0L
    batches.foreach { b =>
      acc.update(b.toDF("u", "v"))
      consumed += b.size
      // ROW-COUNT BOUND: the star forest the next fold consumes has at
      // most one edge per clustered node — independent of how many
      // (redundant) pairs the stream has replayed
      val starEdges =
        acc.snapshot.where(col("id") =!= col("component")).count()
      assert(starEdges < n, s"star forest $starEdges >= node count $n")
    }
    // the adversarial stream replayed ~5x more pairs than nodes…
    assert(consumed > 4L * n)
    // …but the state never grew past the node count, and is correct:
    val state = asMap(acc.snapshot)
    val want = asMap(Components.components(
      (chain ++ redundant).toDF("u", "v")))
    assert(state == want)
    // the giant component really is giant (99% of its nodes, min 10)
    assert(giant.forall(g => state(g) == 10L))
  }

  test("ids survive round-trips: components of star edges are the state itself") {
    // the state is a star forest — feeding it back through the batch
    // operator must be a no-op (the connectivity-equivalence invariant
    // the incremental fold relies on)
    val acc = new Acc
    acc.update(edges(seed = 31, n = 30, m = 40).toDF("u", "v"))
    val st = asMap(acc.snapshot)
    val replay = asMap(Components.components(
      acc.snapshot.where(col("id") =!= col("component"))
        .select(col("id").as("u"), col("component").as("v"))))
    assert(replay == st.filter { case (id, c) =>
      // nodes in clusters of size >= 2 (singleton roots have no edge)
      st.exists { case (i2, c2) => i2 != id && c2 == c } || id != c
    })
  }
}
