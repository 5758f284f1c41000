package graft

import org.apache.spark.sql.functions._
import graft.ops.{Similarity, SimilarityGuard}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(5)
  private val dim = 16

  private def randVec(): Array[Float] = Array.fill(dim)(rng.nextGaussian().toFloat)

  private lazy val vecs: Seq[(Long, Array[Float])] =
    (0L until 200L).map(i => (i, randVec()))

  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    if (na > 0 && nb > 0) dot / (na / 1.0 * nb) else 0.0
  }

  test("cosine column matches local computation") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
    val got = df.select(
      round(Similarity.cosine(col("a").cast("array<double>"),
        col("b").cast("array<double>")), 6)).as[Double].collect()
    assert(got.toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("cosineTopK matches brute-force local oracle") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity
      .cosineTopK(df, df.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val byId = vecs.toMap
    for (q <- 0L until 5L) {
      val want = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cosineLocal(byId(q), v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(3).map(_._1)
      assert(got(q) == want, s"query $q")
    }
  }

  test("cosineTopK REFUSES past the broadcast byte budget with the IVF " +
      "reroute (no keyed fallback exists for an un-keyed join)") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 5)
    spark.conf.set(Similarity.LevelBroadcastBytesKey, "1")
    try {
      val ex = intercept[SimilarityGuard.BroadcastPayloadExceeded] {
        Similarity.cosineTopK(df, queries, "vec_id", "embedding", k = 3)
      }
      assert(ex.bytes > ex.budgetBytes)
      assert(ex.getMessage.contains("ivfIndexFor"), ex.getMessage)
      assert(ex.getMessage.contains(Similarity.LevelBroadcastBytesKey),
        ex.getMessage)
    } finally spark.conf.unset(Similarity.LevelBroadcastBytesKey)
    // and under the default budget the same launch is untouched
    assert(Similarity
      .cosineTopK(df, queries, "vec_id", "embedding", k = 3).count() == 15L)
  }

  test("LSH ANN returns verified-cosine ranks with decent recall") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    val exact = Similarity
      .cosineTopK(df, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = Similarity
      .lshCosineTopK(df, queries, "vec_id", "embedding",
        k = 5, dim = dim, bitsPerTable = 4, numTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = (0L until 10L).map { q =>
      (exact(q) intersect ann.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }.sum / 10
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("IVF ANN: verified cosine ranks with decent recall, deterministic") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    val exact = Similarity
      .cosineTopK(df, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def run() = Similarity
      .ivfCosineTopK(df, queries, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = run()
    val recall = (0L until 10L).map { q =>
      (exact(q) intersect ivf.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }.sum / 10
    assert(recall >= 0.5, s"recall $recall too low")
    assert(run() == ivf, "fixed seed must reproduce")
  }

  test("IVF lifecycle: one build serves many probes; assignment covers the corpus") {
    val df = vecs.toDF("vec_id", "embedding")
    val index = Similarity.ivfBuild(df, "vec_id", "embedding",
      nLists = 8, sampleFraction = 0.5, seed = 7L)
    try {
      // every corpus row lands in exactly one valid cell
      assert(index.assigned.count() === vecs.size.toLong)
      val cells = index.assigned.select("cell").distinct().as[Int].collect().toSet
      assert(cells.subsetOf(index.centroids.map(_._1).toSet))
      // the persisted assignment is reused across probes with different params
      val p1 = index.probe(df.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nProbe = 4).collect()
      val p2 = index.probe(df.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 2, nProbe = 8).collect()
      assert(p1.length === 15 && p2.length === 6) // k rows per query
      // nProbe = nLists probes every cell → exact top-k
      val full = index.probe(df.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nProbe = 8)
        .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
      val exact = Similarity.cosineTopK(df, df.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
        .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
      assert(full === exact)
    } finally index.release()
  }

  test("ivfCosineTopK cache is LRU-bounded and releases evicted indexes") {
    val queries = vecs.take(3).toDF("vec_id", "embedding")
    // distinct nLists values → distinct cache keys; the first build's
    // persisted assignment must be unpersisted once the cap overflows
    val first = Similarity.ivfBuild(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nLists = 3)
    try {
      (2 to Similarity.IvfCacheCap + 3).foreach { n =>
        Similarity.ivfCosineTopK(
          vecs.toDF("vec_id", "embedding"), queries, "vec_id", "embedding",
          k = 2, nLists = n, nProbe = n).count()
      }
      assert(Similarity.ivfCacheSize <= Similarity.IvfCacheCap)
      // re-probing an evicted key rebuilds and still answers correctly
      val again = Similarity.ivfCosineTopK(
        vecs.toDF("vec_id", "embedding"), queries, "vec_id", "embedding",
        k = 2, nLists = 2, nProbe = 2)
      assert(again.count() === 6L)
      assert(Similarity.ivfCacheSize <= Similarity.IvfCacheCap)
    } finally first.release()
  }

  test("native cosine kernel is bit-identical to the HOF formulation") {
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("embedding").cast("array<double>").as("v"))
    val pairs = df.as("a").crossJoin(df.as("b")).limit(2000)
    val diffs = pairs.select(
      (Similarity.cosine(col("a.v"), col("b.v")) -
        Similarity.cosineHof(col("a.v"), col("b.v"))).as("d"))
      .agg(max(abs(col("d")))).as[Double].head()
    assert(diffs == 0.0, s"max diff $diffs")
  }

  test("mismatched-length arrays: native kernel agrees with HOF (both 0.0)") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0)),
      (Array(1.0), Array(1.0, 0.0, 0.0, 0.0))).toDF("a", "b")
    val got = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosineHof(col("a"), col("b"))).as[(Double, Double)].collect()
    got.foreach { case (native, hof) =>
      assert(native == 0.0 && hof == 0.0, s"native=$native hof=$hof")
    }
  }

  test("srp bucket is deterministic across invocations") {
    val df = vecs.take(20).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(dim, 6, table = 0)
    def run() = df.select(col("vec_id"),
      Similarity.srpBucket(col("embedding").cast("array<double>"), planes))
      .as[(Long, Long)].collect().toMap
    assert(run() == run())
  }

  test("hierarchical IVF (k > MaxLiteralCells): keyed centroid attach " +
      "tracks exact argmin; multi-probe supersets single-probe") {
    val crng = new scala.util.Random(7)
    val cents: Array[(Int, Array[Double])] =
      Array.tabulate(300)(i => (i, Array.fill(dim)(crng.nextGaussian())))
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.ivfFromCentroids(df, "vec_id", "embedding", cents)
    assert(idx.hierarchy.nonEmpty, "300 cells must go hierarchical")
    val h = idx.hierarchy.get
    assert(h.coarse.length <= Similarity.MaxLiteralCells)
    // every fine centroid sits in exactly one coarse group
    val grouped = h.subs.select(explode(col("subs")).as("s"))
      .select(col("s.cid")).as[Int].collect()
    assert(grouped.sorted.toSeq == (0 until 300))
    val got = idx.assigned.select("neighbor_id", "cell")
      .as[(Long, Int)].collect().toMap
    assert(got.size == vecs.size, "every row assigned exactly one cell")
    def argmin(v: Array[Float]): Int = cents.map { case (cid, c) =>
      (v.zip(c).map { case (x, y) =>
        (x.toDouble - y) * (x.toDouble - y) }.sum, cid)
    }.min._2
    // coarse-probe boundary misses are the documented IMI trade; this
    // fixture is ADVERSARIAL (random centroids, no cluster structure —
    // the coarse router has nothing to latch onto), so agreement here
    // is a floor, not the typical figure; fitted centroids route far
    // better, and PAIR co-assignment (the gated metric) is pinned in
    // DedupSpec
    val agree = vecs.count { case (id, v) => got(id) == argmin(v) }
    assert(agree.toDouble / vecs.size >= 0.7,
      s"agreement $agree/${vecs.size}")
    val multi = idx.multiAssigned(2).select("neighbor_id", "cell")
      .as[(Long, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    multi.foreach { case (id, cells) =>
      assert(cells.size == 2, s"id $id got ${cells.size} cells")
      assert(cells.contains(got(id)),
        s"id $id multi-probe lost its single-probe cell")
    }
    idx.release()
  }

  test("level past the broadcast byte budget attaches by KEYED SHUFFLE: " +
      "cells bit-identical to the broadcast attach, no broadcast join") {
    val crng = new scala.util.Random(7)
    val cents: Array[(Int, Array[Double])] =
      Array.tabulate(300)(i => (i, Array.fill(dim)(crng.nextGaussian())))
    val df = vecs.toDF("vec_id", "embedding")
    // broadcast-attach reference (default budget, 300 cells ≪ 2 GiB)
    val bIdx = Similarity.ivfFromCentroids(df, "vec_id", "embedding", cents)
    val want1 = bIdx.assigned.select("neighbor_id", "cell")
      .as[(Long, Int)].collect().toMap
    val want2 = bIdx.multiAssigned(2).select("neighbor_id", "cell")
      .as[(Long, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    bIdx.release()
    // a 1-byte budget forces EVERY level through the keyed attach
    spark.conf.set(Similarity.LevelBroadcastBytesKey, "1")
    try {
      val kIdx = Similarity.ivfFromCentroids(df, "vec_id", "embedding", cents)
      val got1 = kIdx.assigned.select("neighbor_id", "cell")
        .as[(Long, Int)].collect().toMap
      assert(got1 == want1, "single-probe assignment diverged under keyed attach")
      val multi = kIdx.multiAssigned(2)
      val got2 = multi.select("neighbor_id", "cell")
        .as[(Long, Int)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      assert(got2 == want2, "multi-probe assignment diverged under keyed attach")
      // structural pin: the keyed path plans a shuffled hash join and
      // leaves NO broadcast join anywhere (that is its whole point)
      val plan = (multi.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
      assert(plan.contains("ShuffledHashJoin"), plan.take(800))
      kIdx.release()
    } finally spark.conf.unset(Similarity.LevelBroadcastBytesKey)
  }

  test("probe past the query-side byte budget joins by KEYED SHUFFLE: " +
      "rows identical to the broadcast probe, no broadcast join") {
    val df = vecs.toDF("vec_id", "embedding")
    val index = Similarity.ivfBuild(df, "vec_id", "embedding",
      nLists = 8, seed = 7L)
    try {
      val queries = df.filter(col("vec_id") < 5)
      val want = index.probe(queries, "vec_id", "embedding", k = 3, nProbe = 4)
        .select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
      // a 1-byte budget forces the bulk-kNN join shape on a tiny batch
      spark.conf.set(Similarity.LevelBroadcastBytesKey, "1")
      val keyed = index.probe(queries, "vec_id", "embedding", k = 3, nProbe = 4)
      val got = keyed.select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(got == want, s"missed=${want diff got} extra=${got diff want}")
      val plan = (keyed.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
      assert(plan.contains("ShuffledHashJoin"), plan.take(800))
    } finally {
      spark.conf.unset(Similarity.LevelBroadcastBytesKey)
      index.release()
    }
  }

  test("keyed attach contract equals broadcast on DEGENERATE inputs: a " +
      "hole-punched level keeps the row; a null vector keeps null cells") {
    val crng = new scala.util.Random(11)
    val cents: Array[(Int, Array[Double])] =
      Array.tabulate(300)(i => (i, Array.fill(dim)(crng.nextGaussian())))
    val base = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("cv"))
      .union(Seq((999L, null: Array[Float])).toDF("vec_id", "embedding")
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv")))
    val idx = Similarity.ivfFromCentroids(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", cents)
    try {
      val h = idx.hierarchy.get
      // punch a hole: the level frame loses gid 0 — rows probing that
      // group must degrade identically on both paths (no candidates
      // from the hole, row NEVER dropped)
      val punched = h.copy(levels =
        h.levels.init :+ h.levels.last.where(col("gid") =!= 0))
      val pIdx = idx.copy(hierarchy = Some(punched))
      def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
        pIdx.withCells(df, "cv", 2, Seq("neighbor_id"))
          .select(col("neighbor_id"), col("cells"))
          .as[(Long, Seq[Int])].collect().toMap
      val want = cellsOf(base)
      assert(want.size == vecs.size + 1, "broadcast path dropped a row")
      assert(want(999L) == null, "null vector must keep NULL cells")
      spark.conf.set(Similarity.LevelBroadcastBytesKey, "1")
      try {
        val got = cellsOf(base)
        assert(got == want, {
          val diff = (want.keySet ++ got.keySet).filter(k =>
            want.get(k) != got.get(k))
          s"diverged at ids $diff: want=${diff.map(want.get)} got=${diff.map(got.get)}"
        })
      } finally spark.conf.unset(Similarity.LevelBroadcastBytesKey)
    } finally idx.release()
  }

  test("L=3 hierarchy (k > 65536): recursion partitions the fine cells, " +
      "engine routing equals a driver-side replay, and exact-centroid " +
      "queries route home") {
    // 70000 fine centroids — past the old two-level 65536 ceiling — on
    // an injective integer lattice (deterministic, duplicate-free, and
    // clustered enough that routing has real structure to latch onto)
    val k = 70000
    def cent(i: Int): Array[Double] = Array(
      (i % 40).toDouble, ((i / 40) % 40).toDouble,
      ((i / 1600) % 40).toDouble, (i / 64000).toDouble * 40.0)
    val cents: Array[(Int, Array[Double])] =
      Array.tabulate(k)(i => (i, cent(i)))
    // corpus: 300 vectors exactly AT spread-out fine centroids (true
    // argmin is known: distance 0, unique — no duplicate centroids)
    // plus 200 off-lattice midpoints
    val homes = (0 until 300).map(j => (j * 233) % k)
    val rows: Seq[(Long, Array[Double])] =
      homes.zipWithIndex.map { case (h, j) => (j.toLong, cent(h)) } ++
        (0 until 200).map(j => (300L + j,
          cent((j * 991) % k).map(_ + 0.5)))
    val df = rows.toDF("vec_id", "embedding")
    val idx = Similarity.ivfFromCentroids(df, "vec_id", "embedding", cents)
    val h = idx.hierarchy.get
    // STRUCTURE: three levels (literal root + 2 attached), root within
    // the literal cap, interior gids dense and consistent, and the
    // fine level a PARTITION of all 70000 cells
    assert(h.levels.length == 2, s"expected L=3, got ${h.levels.length + 1}")
    assert(h.coarse.length <= Similarity.MaxLiteralCells)
    val interiorKids = h.levels.head.select(explode(col("subs")).as("s"))
      .select(col("s.cid")).as[Int].collect().sorted.toSeq
    val leafGids = h.levels.last.select(col("gid")).as[Int].collect()
      .sorted.toSeq
    assert(interiorKids == leafGids,
      "interior child gids must key the leaf level exactly once each")
    val fine = h.levels.last.select(explode(col("subs")).as("s"))
      .select(col("s.cid")).as[Int].collect()
    assert(fine.sorted.toSeq == (0 until k),
      "fine level must partition all 70000 cells")
    // REPLAY: the engine's routed single-probe assignment must equal a
    // driver-side replay of the same tree (same probe widths, same
    // (d, cid) tie rule) — pins the broadcast attach + kernel plumbing
    // exactly; the routing POLICY approximation is shared by both
    val lvl: Seq[Map[Int, Array[(Int, Array[Double])]]] = h.levels.map(
      _.select(col("gid"), col("subs"))
        .as[(Int, Seq[(Int, Seq[Double])])].collect()
        .map { case (g, ss) =>
          g -> ss.map { case (c, v) => (c, v.toArray) }.toArray }
        .toMap)
    def rank(cands: Seq[(Int, Array[Double])], v: Array[Double], p: Int) =
      cands.map { case (cid, c) =>
        var d = 0.0
        var t = 0
        while (t < v.length) { val x = v(t) - c(t); d += x * x; t += 1 }
        (d, cid)
      }.sorted.take(p).map(_._2)
    def route(v: Array[Double]): Int = {
      var gids = rank(h.coarse.map { case (g, c) => (g, c) }.toSeq,
        v, h.nCoarseProbe)
      for ((level, li) <- lvl.zipWithIndex) {
        val attached = gids.flatMap(g =>
          level.getOrElse(g, Array.empty[(Int, Array[Double])]).toSeq)
        gids = rank(attached, v,
          if (li == lvl.length - 1) 1 else h.nCoarseProbe)
      }
      gids.head
    }
    val got = idx.assigned.select("neighbor_id", "cell")
      .as[(Long, Int)].collect().toMap
    assert(got.size == rows.size)
    rows.foreach { case (id, v) =>
      assert(got(id) == route(v), s"engine vs replay diverged on row $id")
    }
    // exact-centroid queries: distance-0 argmin; the routed result must
    // find the home cell for the overwhelming majority (level-probe
    // boundary misses are the documented IMI trade)
    val home = homes.zipWithIndex.count { case (hc, j) => got(j.toLong) == hc }
    assert(home.toDouble / homes.size >= 0.8,
      s"only $home/${homes.size} exact-centroid queries routed home")
    idx.release()
  }

  test("native nearestCells kernel is bit-identical to the HOF reference " +
      "(incl. distance ties and nProbe > k)") {
    val crng = new scala.util.Random(11)
    val cents: Array[(Int, Array[Double])] =
      Array.tabulate(37)(i => (i, Array.fill(dim)(crng.nextGaussian())))
    // a duplicate centroid under a HIGHER cid: every vector ties on it
    // exactly, and the lower cid must win in both formulations
    val centsTie = cents :+ (99 -> cents(5)._2.clone())
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (p <- Seq(1, 3, 40)) {
      val ref = df.select(col("vec_id"),
        transform(
          slice(sort_array(Similarity.centroidDists(col("v"), centsTie)), 1, p),
          s => s.getField("cid")).as("cells"))
        .as[(Long, Seq[Int])].collect().toMap
      val got = df.select(col("vec_id"),
        graft.functions.VectorQuant.nearestCells(col("v"), centsTie, p).as("cells"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(got == ref, s"nProbe=$p")
    }
  }

  test("native nearestSubCells kernel matches the HOF scoring reference") {
    val crng = new scala.util.Random(13)
    def sub(cid: Int) =
      Similarity.SubCentroid(cid, Seq.fill(dim)(crng.nextGaussian()))
    val rows: Seq[(Long, Array[Double], Seq[Similarity.SubCentroid])] =
      vecs.take(50).map { case (id, v) =>
        val base = Seq.tabulate(3 + (id % 7).toInt)(j => sub((id % 5).toInt * 10 + j))
        // duplicate sub under a higher cid forces an exact tie
        val withTie = if (base.nonEmpty) base :+ base.head.copy(cid = 900) else base
        (id, v.map(_.toDouble), withTie)
      } :+ ((999L, Array.fill(dim)(0.0), Seq.empty[Similarity.SubCentroid]))
    val df = rows.toDF("vec_id", "v", "subs")
    for (p <- Seq(1, 2, 16)) {
      val scored = sort_array(transform(col("subs"), s => struct(
        aggregate(
          zip_with(col("v"), s.getField("c"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("d"),
        s.getField("cid").as("cid"))))
      val ref = df.select(col("vec_id"),
        transform(slice(scored, 1, p), s => s.getField("cid")).as("cells"))
        .as[(Long, Seq[Int])].collect().toMap
      val got = df.select(col("vec_id"),
        graft.functions.VectorQuant.nearestSubCells(col("v"), col("subs"), p)
          .as("cells"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(got == ref, s"nProbe=$p")
    }
  }

  test("native srpBucket kernel is bit-identical to the HOF reference " +
      "(incl. a dimension-mismatched plane)") {
    val prng = new scala.util.Random(17)
    // plane 2 has the wrong dimension: its bit must stay unset in both
    // formulations (the zip-pad path nulls the dot)
    val planes: Seq[Array[Double]] = Seq(
      Array.fill(dim)(prng.nextGaussian()),
      Array.fill(dim)(prng.nextGaussian()),
      Array.fill(dim + 3)(prng.nextGaussian()),
      Array.fill(dim)(prng.nextGaussian()))
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val ref = df.select(col("vec_id"),
      Similarity.srpBucketHof(col("v"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    val got = df.select(col("vec_id"),
      Similarity.srpBucket(col("v"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(got == ref)
    assert(ref.values.forall(b => (b & (1L << 2)) == 0L),
      "mismatched plane's bit must be unset")
  }

  test("portable hyperplanes: md5-derived, in [-1,1), engine-stable") {
    val p = Similarity.hyperplanes(dim = 4, numPlanes = 2, table = 3)
    assert(p.length == 2 && p.forall(_.length == 4))
    assert(p.flatten.forall(c => c >= -1.0 && c < 1.0))
    // replay one component by hand: md5("3:1:2") first 15 hex chars
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest("3:1:2".getBytes("UTF-8"))
    val v = java.lang.Long.parseLong(
      d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    assert(p(1)(2) == v.toDouble / 576460752303423488.0 - 1.0)
    // distinct tables give distinct planes
    assert(Similarity.hyperplanes(4, 2, 4)(1)(2) != p(1)(2))
  }

  test("cosineTopKExcluding: own-group neighbors are skipped and the " +
      "output is the true top-k of the ELIGIBLE set") {
    // group {0,1,2}: near-identical vectors; 3/4 are distinct
    val base = Array.fill(dim)(1.0f)
    def jitter(eps: Float) = base.zipWithIndex.map {
      case (x, i) => x + (if (i == 0) eps else 0f)
    }
    val emb = Seq(
      (0L, jitter(0.001f)), (1L, jitter(0.002f)), (2L, jitter(0.003f)),
      (3L, Array.fill(dim)(-0.5f).updated(0, 2.0f)),
      (4L, Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val groups = Seq((0L, 0L), (1L, 0L), (2L, 0L)).toDF("id", "component")
    val q = emb.filter(col("vec_id") === 0L)
    val plain = Similarity
      .cosineTopK(emb, q, "vec_id", "embedding", k = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    val mined = Similarity
      .cosineTopKExcluding(emb, q, groups,
        "vec_id", "id", "component", "embedding", k = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    // plain top-2 are the group-mates; mined must be exactly the others
    assert(plain.toSet === Set(1L, 2L))
    assert(mined.toSet === Set(3L, 4L))
    // rank covers the eligible set fully (k rows, ranks 1..k)
    val ranks = Similarity
      .cosineTopKExcluding(emb, q, groups,
        "vec_id", "id", "component", "embedding", k = 2)
      .select("rank").as[Int].collect().toSeq.sorted
    assert(ranks === Seq(1, 2))
  }

  test("cosineTopKExcluding with an EMPTY group table equals cosineTopK " +
      "(singleton fallback = self-exclusion only)") {
    val df = vecs.take(40).toDF("vec_id", "embedding")
    val empty = Seq.empty[(Long, Long)].toDF("id", "component")
    val a = Similarity
      .cosineTopK(df, df.filter(col("vec_id") < 3), "vec_id", "embedding", 4)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val b = Similarity
      .cosineTopKExcluding(df, df.filter(col("vec_id") < 3), empty,
        "vec_id", "id", "component", "embedding", 4)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(a === b)
  }
}
