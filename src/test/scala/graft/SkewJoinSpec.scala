package graft

import org.apache.spark.sql.functions._
import graft.ops.SkewJoin

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  // key 1 is hot (900 rows); keys 901..1000 hold one row each
  private val facts = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i))
  private val dim = Seq((1L, "hot"), (950L, "cold"))

  test("salted join equals plain join results") {
    // self-join: a 90-row hot key, a 10-row key, singletons
    val rows = (1 to 110).map(i =>
      (if (i <= 90) 1L else if (i <= 100) 2L else i.toLong, i)).toDF("k", "id")
    val selfPlain = rows.as("x").join(rows.as("y"), "k")
      .select(col("k"), col("x.id"), col("y.id"))
      .as[(Long, Int, Int)].collect().sorted.toSeq
    // cross-join: the probe side's df sizes the split
    val l = facts.toDF("k", "id")
    val r = dim.toDF("k", "name")
    val crossPlain = l.join(r, "k").select("k", "id", "name")
      .as[(Long, Int, String)].collect().toSet
    assert(crossPlain.count(_._1 == 1L) == 900)
    for (cap <- Seq(1, 2, 1000)) {
      val self = SkewJoin.selfJoin(rows, Seq("k"), cap,
          Seq(col("id").as("a")), Seq(col("id").as("b")))
        .select("k", "a", "b").as[(Long, Int, Int)].collect().sorted.toSeq
      assert(self == selfPlain, s"self-join, cap=$cap")
      val cross = SkewJoin.crossJoin(l, r, SkewJoin.saltGroups(l, Seq("k"), cap),
          Seq("k"), Seq(col("id")), Seq(col("name")))
        .select("k", "id", "name").as[(Long, Int, String)].collect().toSet
      assert(cross == crossPlain, s"cross-join, cap=$cap")
    }
  }

  test("hot-key-only salting equals plain join and replicates right minimally") {
    // g = ceil(df / cap): only the hot key splits; every cold key keeps
    // one salt, so the build side holds 9 + 1 rows for its two keys
    val l = facts.toDF("k", "id")
    val groups = SkewJoin.saltGroups(l, Seq("k"), 100)
      .as[(Long, Int)].collect().toMap
    assert(groups(1L) == 9)
    assert(groups.removed(1L).values.forall(_ == 1))
    assert(dim.map(d => groups(d._1)).sum == 10)
    val r = dim.toDF("k", "name")
    val got = SkewJoin.crossJoin(l, r, SkewJoin.saltGroups(l, Seq("k"), 100),
        Seq("k"), Seq(col("id")), Seq(col("name")))
      .select("k", "id", "name").as[(Long, Int, String)].collect().toSet
    assert(got == l.join(r, "k").select("k", "id", "name")
      .as[(Long, Int, String)].collect().toSet)
  }

  test("salt distribution actually spreads the hot key") {
    // 900 rows at cap 100 -> 9 salts; each probe row meets the key's
    // build rows in exactly one of them
    val l = facts.toDF("k", "id").where(col("k") === 1L)
    val bySalt = SkewJoin.selfJoin(l, Seq("k"), 100,
        Seq(col("id").as("a")), Seq(col("id").as("b")))
      .groupBy("salt").agg(countDistinct("a").as("probes"), count(lit(1)).as("n"))
      .as[(Int, Long, Long)].collect()
    assert(bySalt.map(_._1).sorted.toSeq == (0 until 9), bySalt.toSeq)
    assert(bySalt.map(_._2).sum == 900)
    assert(bySalt.map(_._2).max < 900, "no single salt holds the whole hot key")
    assert(bySalt.map(_._3).sum == 900L * 900L)
  }

  test("triangle grid meets every unordered pair exactly once") {
    val v = (1 to 60).map(i => (i % 3, i.toLong)).toDF("key", "id")
      .withColumn("blk", SkewJoin.gridBlock(col("id"), 4))
    val got = SkewJoin.gridSelfJoin(v, Seq("key"), 4, Nil, Nil)
      .select(col("key"), least(col("id_l"), col("id_r")),
        greatest(col("id_l"), col("id_r")))
      .as[(Int, Long, Long)].collect().toSeq
    val want = for {
      a <- 1 to 60; b <- a + 1 to 60 if a % 3 == b % 3
    } yield (a % 3, a.toLong, b.toLong)
    assert(got.sorted == want.sorted)
  }
}
