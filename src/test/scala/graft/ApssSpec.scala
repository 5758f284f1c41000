package graft

import org.apache.spark.sql.functions._
import graft.ops.Apss

class ApssSpec extends SparkSpec {
  import spark.implicits._

  private def cosLocal(
      a: Map[Int, Double], b: Map[Int, Double]): Double = {
    val dot = a.iterator.map { case (d, w) => w * b.getOrElse(d, 0.0) }.sum
    val na = math.sqrt(a.values.map(w => w * w).sum)
    val nb = math.sqrt(b.values.map(w => w * w).sum)
    if (na > 0 && nb > 0) dot / (na * nb) else 0.0
  }

  /** Random sparse corpus: ~nnz of `dims` dims carry N(0,1) weights. */
  private def sparseCorpus(
      seed: Int, n: Int, dims: Int, nnz: Int): Seq[(Long, Seq[(Int, Double)])] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map { i =>
      val ds = rnd.shuffle((1 to dims).toList).take(1 + rnd.nextInt(nnz))
      (i, ds.sorted.map(d => (d, rnd.nextGaussian())))
    }
  }

  private def toDf(corpus: Seq[(Long, Seq[(Int, Double)])]) =
    corpus.toDF("id", "terms").select(
      col("id"),
      col("terms").cast("array<struct<dim:int,w:double>>").as("terms"))

  test("cosinePairs is EXACT vs brute force across seeds and thresholds") {
    for ((seed, t) <- Seq((1, 0.3), (2, 0.5), (3, 0.7))) {
      val corpus = sparseCorpus(seed, n = 120, dims = 30, nnz = 8)
      val maps = corpus.map { case (i, ts) => i -> ts.toMap }.toMap
      val want = (for {
        a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
        s = cosLocal(maps(a), maps(b)) if s >= t
      } yield (a, b)).toSet
      val got = Apss.cosinePairs(toDf(corpus), "id", "terms", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == want,
        s"seed=$seed t=$t missed=${want diff got} extra=${got diff want}")
    }
  }

  test("sharded verify == one-pass verify (the q63 1000x scratch bound)") {
    // verifyShardPairs=2 forces the candidate stage + many sequential
    // verify passes; the union must be the exact same pair set/sims
    val corpus = sparseCorpus(13, n = 120, dims = 30, nnz = 8)
    val df = toDf(corpus)
    val one = Apss.cosinePairs(df, "id", "terms", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val sharded = Apss.cosinePairs(df, "id", "terms", 0.4,
      verifyShardPairs = 2L)
      .as[(Long, Long, Double)].collect().toSet
    assert(one.nonEmpty)
    assert(sharded == one,
      s"missed=${one diff sharded} extra=${sharded diff one}")
  }

  test("sharded CANDIDATE GENERATION == one-pass (k x k grid passes)") {
    // candShardMeetings=100 forces a k x k grid of candidate passes
    // (the posting-meeting volume of this corpus is in the thousands);
    // each pair's full meeting set lands in pass (shard(a), shard(b)),
    // so the Bayardo prunes stay exact and the union must be the exact
    // same pair set/sims — composed with sub-sharded verify to cover
    // the nested form
    val corpus = sparseCorpus(17, n = 120, dims = 30, nnz = 8)
    val df = toDf(corpus)
    val one = Apss.cosinePairs(df, "id", "terms", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val sharded = Apss.cosinePairs(df, "id", "terms", 0.4,
      candShardMeetings = 100L, verifyShardPairs = 7L)
      .as[(Long, Long, Double)].collect().toSet
    assert(one.nonEmpty)
    assert(sharded == one,
      s"missed=${one diff sharded} extra=${sharded diff one}")
  }

  test("cosinePairs sims match local computation to 4 decimals") {
    val corpus = sparseCorpus(7, n = 80, dims = 20, nnz = 6)
    val maps = corpus.map { case (i, ts) => i -> ts.toMap }.toMap
    val got = Apss.cosinePairs(toDf(corpus), "id", "terms", 0.4)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, s) =>
      assert(math.abs(s - cosLocal(maps(a), maps(b))) < 1e-4, s"($a,$b)")
    }
  }

  test("prefix filtering actually prunes: posted index smaller than full index") {
    // not a correctness property, but the reason the operator exists —
    // on sparse data the t/2 rule must drop a nontrivial share of
    // postings (here vs the unfiltered inverted index)
    val corpus = sparseCorpus(11, n = 200, dims = 40, nnz = 10)
    val df = toDf(corpus)
    val full = corpus.map(_._2.size).sum
    // replicate the operator's internal posting rule to count postings
    val raw = df.withColumn("nrm",
      sqrt(aggregate(col("terms"), lit(0.0),
        (s, x) => s + x.getField("w") * x.getField("w"))))
    val unit = raw.select(col("id"), explode(col("terms")).as("t"), col("nrm"))
      .select(col("id"), col("t.dim").as("dim"), (col("t.w") / col("nrm")).as("wn"))
    val maxw = unit.groupBy("dim").agg(max(abs(col("wn"))).as("maxw"))
    val posted = unit.join(maxw, Seq("dim"))
      .withColumn("contrib", abs(col("wn")) * col("maxw"))
      .withColumn("cum", sum(col("contrib")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("contrib"), col("dim"))))
      .where(col("cum") >= 0.5 / 2)
      .count()
    assert(posted < full, s"no pruning: $posted postings of $full terms")
  }

  test("open-world probe is EXACT for query vectors the build never saw") {
    val corpus = sparseCorpus(41, n = 120, dims = 25, nnz = 7)
    val queries = sparseCorpus(42, n = 40, dims = 25, nnz = 7)
      .map { case (i, ts) => (i + 1000L, ts) }
    val cm = corpus.map { case (i, ts) => i -> ts.toMap }.toMap
    val qm = queries.map { case (i, ts) => i -> ts.toMap }.toMap
    val want = (for {
      q <- qm.keys; c <- cm.keys
      s = cosLocal(qm(q), cm(c)) if s >= 0.5
    } yield (q, c)).toSet
    val got = Apss.probePairs(toDf(corpus), toDf(queries), "id", "terms", 0.5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == want, s"missed=${want diff got} extra=${got diff want}")
  }

  test("keyed and broadcast bound attach produce identical pairs") {
    val corpus = sparseCorpus(51, n = 120, dims = 30, nnz = 8)
    val df = toDf(corpus)
    for (t <- Seq(0.3, 0.5)) {
      val viaMap = Apss.cosinePairs(df, "id", "terms", t,
        maxBroadcastDims = Int.MaxValue).as[(Long, Long, Double)].collect().toSet
      val viaJoin = Apss.cosinePairs(df, "id", "terms", t,
        maxBroadcastDims = 0).as[(Long, Long, Double)].collect().toSet
      assert(viaJoin == viaMap, s"t=$t")
    }
  }

  test("LONG dims (hashed gram keys, the q63 shape): broadcast and keyed " +
      "attach agree and are exact") {
    val corpus = sparseCorpus(77, n = 100, dims = 25, nnz = 6)
    // remap int dims to sparse longs the way q63's xxhash64 does
    val longDim = (d: Int) => d.toLong * 2654435761L + 17L
    val local = corpus.map { case (id, terms) =>
      (id, terms.map { case (d, w) => (longDim(d), w) })
    }
    val df = local.toDF("id", "terms")
      .select(col("id"), transform(col("terms"), t =>
        struct(t.getField("_1").as("dim"), t.getField("_2").as("w"))).as("terms"))
    val viaMap = Apss.cosinePairs(df, "id", "terms", 0.4,
      maxBroadcastDims = Int.MaxValue).as[(Long, Long, Double)].collect().toSet
    val viaJoin = Apss.cosinePairs(df, "id", "terms", 0.4,
      maxBroadcastDims = 0).as[(Long, Long, Double)].collect().toSet
    assert(viaMap == viaJoin)
    // same pairs as the int-dim run: the remap is injective, so only
    // the dim LABELS changed
    val intDf = toDf(corpus)
    val want = Apss.cosinePairs(intDf, "id", "terms", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaMap == want)
  }

  test("~1e6 distinct dims: auto keyed attach, no giant map row, still exact") {
    // structured block X lives on dims 1..30; a quarter-million noise
    // vectors each own 4 PRIVATE dims from a 10^6 space (no dim shared
    // with anything), so they add vocabulary but zero pairs — the
    // qualifying set is exactly X's brute force. The default
    // maxBroadcastDims must route this corpus to the keyed-join attach
    // (a million-entry map row is what dies at real shingle scale).
    val x = sparseCorpus(61, n = 60, dims = 30, nnz = 6)
    val maps = x.map { case (i, ts) => i -> ts.toMap }.toMap
    val want = (for {
      a <- x.map(_._1); b <- x.map(_._1) if a < b
      s = cosLocal(maps(a), maps(b)) if s >= 0.4
    } yield (a, b)).toSet
    val noise = spark.range(250000).select(
      (col("id") + 10000L).as("id"),
      transform(sequence(lit(0L), lit(3L)), j => struct(
        (lit(1000L) + col("id") * 4 + j).cast("int").as("dim"),
        lit(1.0).as("w"))).as("terms"))
    val df = toDf(x).unionByName(noise)
    val res = Apss.cosinePairs(df, "id", "terms", 0.4)
    val got = res.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want, s"missed=${want diff got} extra=${got diff want}")
    // the broadcast attach is a conditionless join (BNLJ); the keyed
    // attach must leave none in the executed plan
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
  }

  test("one-shot probePairs equals buildIndex(openWorld).probe and brute force") {
    // the reusable open-world index is gone; probePairs is its one-shot
    // form and must still match brute force on a second seed/threshold
    val corpus = sparseCorpus(71, n = 100, dims = 25, nnz = 7)
    val queries = sparseCorpus(72, n = 30, dims = 25, nnz = 7)
      .map { case (i, ts) => (i + 1000L, ts) }
    val cm = corpus.map { case (i, ts) => i -> ts.toMap }.toMap
    val qm = queries.map { case (i, ts) => i -> ts.toMap }.toMap
    val want = (for {
      q <- qm.keys; c <- cm.keys
      s = cosLocal(qm(q), cm(c)) if s >= 0.45
    } yield (q, c)).toSet
    val got = Apss.probePairs(toDf(corpus), toDf(queries), "id", "terms", 0.45)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == want, s"missed=${want diff got} extra=${got diff want}")
  }

  test("STRING dims (raw term vocabulary) are exact end-to-end") {
    // the q63 shape: dims are the terms themselves — no int remap. The
    // keyed attach must carry the string dim through decide/candidates/
    // verify unchanged; the broadcast attach is int-typed by design, so
    // string corpora always route keyed (maxBroadcastDims = 0 here to
    // skip the probe collect).
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(81)
    val corpus = (0L until 80L).map { i =>
      val ds = rnd.shuffle(words).take(1 + rnd.nextInt(6))
      (i, ds.sorted.map(w => (w, rnd.nextGaussian())))
    }
    def cosStr(a: Map[String, Double], b: Map[String, Double]): Double = {
      val dot = a.iterator.map { case (d, w) => w * b.getOrElse(d, 0.0) }.sum
      val na = math.sqrt(a.values.map(w => w * w).sum)
      val nb = math.sqrt(b.values.map(w => w * w).sum)
      if (na > 0 && nb > 0) dot / (na * nb) else 0.0
    }
    val maps = corpus.map { case (i, ts) => i -> ts.toMap }.toMap
    val want = (for {
      a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
      s = cosStr(maps(a), maps(b)) if s >= 0.5
    } yield (a, b)).toSet
    val df = corpus.toDF("id", "terms").select(
      col("id"),
      col("terms").cast("array<struct<dim:string,w:double>>").as("terms"))
    val got = Apss.cosinePairs(df, "id", "terms", 0.5, maxBroadcastDims = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want, s"missed=${want diff got} extra=${got diff want}")
  }

  test("128-bit (string) gram keys auto-scale the verify-shard bound " +
      "(the q63-wide 100x disk-death configuration now shards itself)") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    // the knob is a byte budget expressed in 8-byte-dim PAIRS: string
    // dims attach ~3x the bytes per pair (measured, check_sf10_r12),
    // so the same setting must hold ~4x fewer pairs — a string-dim
    // corpus can never reinstate the one-pass death
    assert(Apss.widthScaledShardPairs(32000000L, LongType) == 32000000L)
    assert(Apss.widthScaledShardPairs(32000000L, IntegerType) == 32000000L)
    assert(Apss.widthScaledShardPairs(32000000L, StringType) == 8000000L)
    assert(Apss.widthScaledShardPairs(2L, StringType) == 1L) // never 0
    // the bound is ONE byte budget, not per-width special cases: every
    // width's pair bound × its declared key bytes lands on the same
    // byte figure (pairs × the 8-byte calibration width)
    for (p <- Seq(32000000L, 1000L, 8L)) {
      val budget = p * 8L
      for (t <- Seq(LongType, IntegerType, StringType))
        assert(Apss.widthScaledShardPairs(p, t) * Apss.dimKeyBytes(t) == budget,
          s"width ${t} broke the byte-budget identity at $p pairs")
    }
    // a Long.MaxValue opt-out must saturate, not wrap negative
    assert(Apss.widthScaledShardPairs(Long.MaxValue, StringType) ==
      Long.MaxValue / 4)
    assert(Apss.widthScaledShardPairs(Long.MaxValue, LongType) ==
      Long.MaxValue)
    // end-to-end: a string-dim corpus under a bound the scaling pulls
    // into the sharded regime still gives the exact brute-force pair
    // set (union-of-shards == one-pass, now exercised at string width)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(91)
    val corpus = (0L until 80L).map { i =>
      val ds = rnd.shuffle(words).take(1 + rnd.nextInt(6))
      (i, ds.sorted.map(w => (w, rnd.nextGaussian())))
    }
    def cosStr(a: Map[String, Double], b: Map[String, Double]): Double = {
      val dot = a.iterator.map { case (d, w) => w * b.getOrElse(d, 0.0) }.sum
      val na = math.sqrt(a.values.map(w => w * w).sum)
      val nb = math.sqrt(b.values.map(w => w * w).sum)
      if (na > 0 && nb > 0) dot / (na * nb) else 0.0
    }
    val maps = corpus.map { case (i, ts) => i -> ts.toMap }.toMap
    val want = (for {
      a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
      s = cosStr(maps(a), maps(b)) if s >= 0.5
    } yield (a, b)).toSet
    val df = corpus.toDF("id", "terms").select(
      col("id"),
      col("terms").cast("array<struct<dim:string,w:double>>").as("terms"))
    val got = Apss.cosinePairs(df, "id", "terms", 0.5,
      maxBroadcastDims = 0, verifyShardPairs = 40L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want, s"missed=${want diff got} extra=${got diff want}")
  }

  test("candidate-build broadcast counts the dim key width: string " +
      "dims stay under the byte budget") {
    import org.apache.spark.sql.types.{LongType, StringType}
    // between budget/88 (32-byte string key) and budget/64 (8-byte key)
    val rows = 1800000.0
    assert(rows * 64 <= Apss.CandBroadcastBytes &&
      rows * 88 > Apss.CandBroadcastBytes)
    assert(Apss.broadcastCandBuild(rows, LongType))
    assert(!Apss.broadcastCandBuild(rows, StringType),
      "a string-dim build side of this many rows overshoots the budget")
    assert(Apss.broadcastCandBuild(1000000.0, StringType))
  }

  test("declareHashPartitioned fails fast on a partition-count mismatch " +
      "instead of silently mis-joining") {
    val n = spark.sessionState.conf.numShufflePartitions
    val ckpt = spark.range(100)
      .select(col("id").as("id_b"), (col("id") * 2).as("mb"))
      .repartition(n, col("id_b")).localCheckpoint()
    try {
      assertThrows[IllegalArgumentException] {
        org.apache.spark.sql.classic.GraftColumnBridge
          .declareHashPartitioned(ckpt, n + 1, "id_b")
      }
    } finally org.apache.spark.sql.classic.GraftColumnBridge
      .unpersistLocalCheckpoint(ckpt)
  }

  test("zero-norm vectors are excluded, not crashed on") {
    val df = Seq(
      (1L, Seq((1, 1.0), (2, 1.0))),
      (2L, Seq((1, 1.0), (2, 1.0))),
      (3L, Seq((1, 0.0)))).toDF("id", "terms")
      .select(col("id"), col("terms").cast("array<struct<dim:int,w:double>>").as("terms"))
    val got = Apss.cosinePairs(df, "id", "terms", 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("sparsifyTopM keeps the m largest |w| dims, 1-based, ties to lower dim") {
    val df = Seq(
      Tuple1(Array(0.1f, -0.9f, 0.5f, 0.5f, -0.05f))).toDF("v")
    val got = df.select(Apss.sparsifyTopM(col("v"), 3).as("t"))
      .selectExpr("transform(t, x -> x.dim) AS dims").as[Seq[Int]].head()
    assert(got == Seq(2, 3, 4), got.toString)
    // m larger than the vector and empty vectors degrade gracefully
    val small = Seq(Tuple1(Array(0.3f)), Tuple1(Array.empty[Float])).toDF("v")
      .select(size(Apss.sparsifyTopM(col("v"), 4)).as("n")).as[Int].collect().toSeq
    assert(small == Seq(1, 0))
  }

  test("catalog sparsified query shape: pairs over sparsified embeddings are exact for that sparse input") {
    // mirrors q57: dense → sparsifyTopM → cosinePairs; oracle is the
    // local brute force over the SAME sparse vectors
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 100L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), Apss.sparsifyTopM(col("embedding"), 5).as("terms"))
    val sparse = df.selectExpr("vec_id", "transform(terms, t -> struct(t.dim, t.w)) AS t")
      .as[(Long, Seq[(Int, Double)])].collect()
      .map { case (i, ts) => i -> ts.toMap }.toMap
    val want = (for {
      a <- sparse.keys; b <- sparse.keys if a < b
      s = cosLocal(sparse(a), sparse(b)) if s >= 0.4
    } yield (a, b)).toSet
    val got = Apss.cosinePairs(df, "vec_id", "terms", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want, s"missed=${want diff got} extra=${got diff want}")
  }

  test("sharded-verify right side: a hash-partitioned local checkpoint " +
      "joins exchange-free (the k-pass reuse mechanism)") {
    // verifyAuto checkpoints the right vector side repartitioned on
    // id_b once and expects every sequential pass's shuffle-hash join
    // to read it in place. AQE loses the checkpoint's partitioning
    // (captures UnknownPartitioning), so the bridge re-declares it;
    // pin BOTH the plan contract (exactly ONE exchange — the probe
    // side; none above the checkpointed build side) and the join's
    // correctness against the undeclared frame.
    val n = spark.sessionState.conf.numShufflePartitions
    val ckpt = spark.range(1000)
      .select(col("id").as("id_b"), (col("id") * 2).as("mb"))
      .repartition(n, col("id_b")).localCheckpoint()
    val right = org.apache.spark.sql.classic.GraftColumnBridge
      .declareHashPartitioned(ckpt, n, "id_b")
    val cands = spark.range(500).select((col("id") + 1).as("id_b"))
    val joined = cands.join(right.hint("shuffle_hash"), "id_b")
    val got = joined.collect().map(_.toSeq).toSet
    val want = cands.join(ckpt.hint("shuffle_hash"), "id_b")
      .collect().map(_.toSeq).toSet
    assert(got == want, "declared-partitioning join changed results")
    assert(got.size == 500)
    val plan = (joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected 1 exchange (probe side only), got $exchanges:\n$plan")
    org.apache.spark.sql.classic.GraftColumnBridge
      .unpersistLocalCheckpoint(ckpt)
  }
}
