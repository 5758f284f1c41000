package graft

import graft.ops.TopK
import graft.ops.TopK.Scored

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("aggregator keeps k best with deterministic ties, any partitioning") {
    val rows = Seq(
      (1, Scored(10L, 5.0)), (1, Scored(11L, 9.0)), (1, Scored(12L, 9.0)),
      (1, Scored(13L, 1.0)), (1, Scored(14L, 7.0)),
      (2, Scored(20L, 2.0)))
    for (parts <- Seq(1, 3, 7)) {
      val got = rows.toDS().repartition(parts)
        .groupByKey(_._1).mapValues(_._2)
        .agg(TopK.topK(3).toColumn.name("top"))
        .collect().toMap
      assert(got(1) == Vector(Scored(11L, 9.0), Scored(12L, 9.0), Scored(14L, 7.0)),
        s"parts=$parts")
      assert(got(2) == Vector(Scored(20L, 2.0)))
    }
  }

  test("merge of partial buffers preserves order and the k bound") {
    val a = Vector(Scored(1, 9.0), Scored(2, 5.0))
    val b = Vector(Scored(3, 7.0), Scored(4, 6.0), Scored(5, 1.0))
    val agg = TopK.topK(3)
    val merged = agg.merge(a, b)
    assert(merged == Vector(Scored(1, 9.0), Scored(3, 7.0), Scored(4, 6.0)))
  }

  test("reduce below k just inserts in order") {
    val agg = TopK.topK(5)
    val r = Seq(Scored(1, 1.0), Scored(2, 3.0), Scored(3, 2.0))
      .foldLeft(agg.zero)(agg.reduce)
    assert(r == Vector(Scored(2, 3.0), Scored(3, 2.0), Scored(1, 1.0)))
  }

  test("native TopKScoredAgg equals the typed Aggregator on randomized " +
      "groups across partitionings (the Bm25.scoreTopK transport)") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(63)
    // duplicate scores on purpose: the (score desc, id asc) tie rule is
    // the part a buggy insert would get wrong first
    val rows = (1 to 400).map { i =>
      (rng.nextInt(7), i.toLong, rng.nextInt(12).toDouble)
    }
    // a NaN score inserted first: both buffers must rank it by the same
    // total order instead of leaving it wherever it arrived
    val withNaN = (0, 0L, Double.NaN) +: rows
    for (input <- Seq(rows, withNaN); parts <- Seq(1, 3, 8); k <- Seq(1, 3, 10)) {
      val df = input.toDF("g", "id", "score").repartition(parts)
      val native = df.groupBy("g")
        .agg(TopK.topKScored(col("id"), col("score"), k).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), col("pos"), col("col.id"), col("col.score"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3))))
        .toSet
      val typed = input.toDS().repartition(parts)
        .groupByKey(_._1)
        .mapValues { case (_, id, sc) => Scored(id, sc) }
        .agg(TopK.topK(k).toColumn.name("top"))
        .flatMap { case (g, top) =>
          top.iterator.zipWithIndex.map { case (t, i) =>
            (g, i, t.id, java.lang.Double.doubleToLongBits(t.score))
          }
        }
        .collect().toSet
      assert(native == typed, s"parts=$parts k=$k rows=${input.size}")
    }
  }

  test("TopKScoredAgg buffer round-trips through serialize/deserialize") {
    val agg = TopK.TopKScoredAgg(
      org.apache.spark.sql.classic.GraftColumnBridge.expression(
        org.apache.spark.sql.functions.col("id")),
      org.apache.spark.sql.classic.GraftColumnBridge.expression(
        org.apache.spark.sql.functions.col("score")), 3)
    val buf = agg.createAggregationBuffer()
    Seq((10L, 5.0), (11L, 9.0), (12L, 9.0), (13L, 1.0), (14L, 7.0))
      .foreach { case (id, s) => buf.insert(id, s) }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.n == 3)
    assert((0 until back.n).map(i => (back.ids(i), back.scores(i))) ==
      Seq((11L, 9.0), (12L, 9.0), (14L, 7.0)))
    // merge keeps the bound and the order
    val other = agg.createAggregationBuffer()
    other.insert(9L, 9.5); other.insert(8L, 0.5)
    val merged = agg.merge(back, other)
    assert((0 until merged.n).map(i => (merged.ids(i), merged.scores(i))) ==
      Seq((9L, 9.5), (11L, 9.0), (12L, 9.0)))
  }
}
