package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(21)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
    "omicron", "pi", "rho", "sigma", "tau", "upsilon")

  private def randomDoc(n: Int): String =
    Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  /** Corpus with planted near-duplicate pairs: doc 2i+1 mutates doc 2i
    * lightly for i < 10; the rest are independent.
    */
  private lazy val corpus: Seq[(Long, String)] = {
    val planted = (0 until 10).flatMap { i =>
      val base = randomDoc(60).split(" ")
      val mutated = base.updated(5, "MUT" + i).updated(30, "TAT" + i)
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, mutated.mkString(" ")))
    }
    val noise = (100 until 200).map(i => (i.toLong, randomDoc(60)))
    planted ++ noise
  }

  test("exact dedup groups identical texts under min id") {
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(docs, "text", "doc_id")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("exact ngram Jaccard join finds exactly the planted pairs") {
    val docs = corpus.toDF("doc_id", "text").withColumn("lang", lit("xx"))
    val got = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", "lang", shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (0 until 10).map(i => (2L * i, 2L * i + 1)).toSet
    assert(want.subsetOf(got), s"missed planted pairs: ${want -- got}")
    // noise docs of a 20-word vocab may collide by chance; planted pairs dominate
    assert(got.size <= want.size + 5, s"too many spurious pairs: $got")
  }

  test("gram-count verify == array verify, jaccard values included") {
    // the two verify strategies must be result-identical (the auto
    // decision is then invisible): same pairs, same double-division
    // jaccard — compared UNROUNDED beyond the catalog's 4dp via the
    // returned rounded column (any arithmetic drift >= 5e-5 would show)
    val docs = corpus.toDF("doc_id", "text").withColumn("lang", lit("xx"))
    def run(strategy: String) = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", "lang", shingleN = 2,
        threshold = 0.5, verifyStrategy = strategy)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val viaArray = run(Dedup.VerifyArray)
    val viaCount = run(Dedup.VerifyCount)
    val viaAuto = run(Dedup.VerifyAuto)
    assert(viaArray === viaCount)
    assert(viaArray === viaAuto)
    assert(viaArray.nonEmpty)
    // hot-gram salting in the count path is pure work redistribution:
    // cap 1 forces every gram to salt-split and the pairs are unchanged
    val salted = Dedup.gramCountSelfVerifyForTest(docs, bucketCap = 1)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(salted === viaCount)
  }

  test("sub-shingle-length docs (empty shingle sets) never pair as duplicates") {
    // one-word docs produce zero 2-gram shingles: their similarity is
    // undefined, so neither the exact join nor LSH may report them
    val docs = (corpus ++ Seq((500L, "single"), (501L, "word"), (502L, "")))
      .toDF("doc_id", "text").withColumn("lang", lit("xx"))
    val exact = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", "lang", shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup
      .minHashLsh(docs, "text", "doc_id", shingleN = 2, bands = 8, rowsPerBand = 4,
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (exact ++ lsh).foreach { case (a, b) =>
      assert(a < 500L && b < 500L, s"short doc paired: ($a, $b)")
    }
  }

  test("minhash LSH recovers the exact join's pairs (recall 1.0 here)") {
    val docs = corpus.toDF("doc_id", "text").withColumn("lang", lit("xx"))
    val exact = Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", "lang", shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup
      .minHashLsh(docs, "text", "doc_id", shingleN = 2, bands = 8, rowsPerBand = 4,
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH verifies candidates with the same exact Jaccard -> no false
    // positives; with 8 bands recall on >=0.5 pairs is ~1 at this size.
    assert(lsh.subsetOf(exact))
    assert((exact -- lsh).isEmpty, s"LSH missed: ${exact -- lsh}")

    // the bucket skew guard is pure work redistribution: forcing every
    // bucket to salt-split (cap 1 -> g = bucket size) must reproduce
    // the identical pair set
    val salted = Dedup
      .minHashLsh(docs, "text", "doc_id", shingleN = 2, bands = 8, rowsPerBand = 4,
        threshold = 0.5, bucketCap = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(salted === lsh)
  }

  test("portable minhash LSH runs no interpreted lambda: the md5 signature is the native kernel") {
    // the signature is computed inside a staged cut, so the plans to
    // inspect are those of the localCheckpoint actions as well as the
    // terminal collect; an RDD source, because a local Seq's
    // projections fold into a LocalTableScan at optimize time
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add((name, qe.executedPlan))
      def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val docs = spark.sparkContext.parallelize(corpus, 2).toDF("doc_id", "text")
      val res = Dedup.minHashLsh(docs, "text", "doc_id",
        shingleN = 2, bands = 8, rowsPerBand = 4, threshold = 0.5)
      assert(res.collect().nonEmpty) // every plan has run, so AQE's are final
      org.apache.spark.sql.classic.GraftColumnBridge
        .awaitListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val plans = seen.asScala.toSeq
    assert(plans.exists(_._1 == "localCheckpoint"),
      s"expected staged cuts, saw actions: ${plans.map(_._1).mkString(", ")}")
    val plan = plans.map(_._2).mkString("\n")
    import org.apache.spark.sql.execution.{SparkPlan, adaptive, exchange}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: adaptive.AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: adaptive.QueryStageExec => nodes(q.plan)
      case r: exchange.ReusedExchangeExec => nodes(r.child)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val exprs = plans.flatMap(p => nodes(p._2)).flatMap(_.expressions)
    assert(exprs.exists(_.exists(_.isInstanceOf[graft.functions.Shingling.Md5MinHashSig])),
      s"expected the md5 kernel in the plan:\n$plan")
    val lambdas = exprs.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.LambdaFunction => e
      case e: org.apache.spark.sql.catalyst.expressions.ArrayTransform => e
    })
    assert(lambdas.isEmpty, s"interpreted lambdas in the portable plan:\n$plan")
  }

  test("simhash: identical docs collide, near-dups are close, determinism") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "entirely different words nothing shared here at all"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHash(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)))
    val fp2 = Dedup.simHash(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(fp == fp2)
  }

  test("simHashPairs skew guard: planted hot chunk, salted pairs == unsalted pairs") {
    // 300 fingerprints all sharing chunk-0 value 0 (a planted hot
    // bucket) + a few true near-dup pairs; the salted plan (tiny cap ->
    // many salt groups) must return exactly the unsalted plan's result
    val rnd = new scala.util.Random(7)
    val base = (0 until 300).map { i =>
      val high = rnd.nextLong() & 0xFFFFFFFFFFFF0000L // chunk 0 == 0 for all
      (i.toLong, high)
    }
    val withDups = base ++ Seq(
      (1000L, base(0)._2 ^ 0x10000L), // hamming 1 from id 0
      (1001L, base(1)._2 ^ 0x30000L)) // hamming 2 from id 1
    val fps = withDups.toDF("id", "simhash")
    def run(cap: Int) = Dedup.simHashPairs(fps, maxHamming = 3, bucketCap = cap)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val unsalted = run(1000000)
    val salted = run(16)
    assert(salted == unsalted, s"salting changed results: ${salted diff unsalted} / ${unsalted diff salted}")
    assert(unsalted.contains((0L, 1000L, 1)))
  }

  test("embedding near-dup: LSH path finds exact-path pairs with decent recall, never false positives") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val vecs = (0L until 200L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupExact(df, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "threshold too high for this corpus — test data broken")
    val lsh = Dedup.embeddingNearDupLsh(df, "vec_id", "embedding", 0.4,
      dim = dim, bitsPerTable = 4, numTables = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every LSH pair passed the exact verify — it must be a true pair
    assert((lsh diff exact).isEmpty, s"false positives: ${lsh diff exact}")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("embedding near-dup exact: grid-blocked join matches brute force, invariant in numBlocks, no broadcast NLJ") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val vecs = (0L until 150L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    def cosLocal(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      s = cosLocal(va, vb) if s >= 0.4
    } yield (ia, ib)).toSet
    val df = vecs.toDF("vec_id", "embedding")
    val plans = Seq(1, 3, 8).map { nb =>
      val res = Dedup.embeddingNearDupExact(df, "vec_id", "embedding", 0.4, numBlocks = nb)
      val got = res.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == want, s"numBlocks=$nb: ${got diff want} / ${want diff got}")
      res.queryExecution.executedPlan.toString
    }
    // the whole point of the grid: keyed shuffles only, never a
    // broadcast of the corpus through a nested loop
    plans.foreach(p => assert(!p.contains("BroadcastNestedLoopJoin"), p.take(500)))
  }

  test("semanticNearDup: no false positives, exact-dup recall 1.0, " +
      "high recall on a clustered corpus") {
    val rnd = new scala.util.Random(17)
    val dim = 16
    // 4 gaussian blobs (real cluster structure for the k-means fit)
    val centers = Array.fill(4, dim)(rnd.nextGaussian() * 3)
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.zip(Array.fill(dim)(rnd.nextGaussian() * 0.5))
        .map { case (a, b) => a + b })
    }
    // planted EXACT duplicates — identical vectors must co-assign
    val dups = (0L until 5L).map(i => (300L + i, vecs(i.toInt)._2))
    val df = (vecs ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupExact(df, "vec_id", "embedding", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "threshold too high for this corpus — test data broken")
    val sem = Dedup.semanticNearDup(df, "vec_id", "embedding", 0.8, nLists = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every emitted pair passed the exact-cosine verify
    assert((sem diff exact).isEmpty, s"false positives: ${sem diff exact}")
    // identical vectors land in the same cell -> all planted pairs found
    (0L until 5L).foreach(i =>
      assert(sem.contains((i, 300L + i)), s"missed exact duplicate $i"))
    // blob-respecting clustering keeps within-blob near-dups together
    val recall = (exact intersect sem).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low (${sem.size}/${exact.size})")
  }

  test("semanticNearDup: 2-cell multi-probe recovers boundary pairs on " +
      "UNCLUSTERED embeddings (the q50/q84 bench corpus)") {
    // the round-9 residual: single-cell scoping hit ~0.35 recall on
    // unclustered data because threshold pairs straddle cell
    // boundaries; nProbe=2 must lift that without false positives
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingNearDupExact(df, "vec_id", "embedding", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "no exact pairs at 0.35 — corpus regenerated?")
    val sem = Dedup.semanticNearDup(df, "vec_id", "embedding", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((sem diff exact).isEmpty, s"false positives: ${sem diff exact}")
    val recall = (exact intersect sem).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low (${sem.size}/${exact.size})")
    // multi-probe can only ADD candidate cells: single-probe pairs are
    // a subset of the multi-probe result by construction
    val single = Dedup.semanticNearDup(df, "vec_id", "embedding", 0.35,
      nProbe = 1).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((single diff sem).isEmpty,
      s"nProbe=2 lost single-probe pairs: ${single diff sem}")
  }

  test("semanticNearDup past MaxLiteralCells: hierarchical quantizer, " +
      "zero false positives, exact duplicates still co-assign") {
    // nLists = 300 > 256 forces the keyed centroid attach end-to-end
    // (fit → hierarchy → multi-probe assignment → guard → pairs)
    val rnd = new scala.util.Random(23)
    val dim = 16
    val vecs = (0L until 400L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    val dups = (0L until 5L).map(i => (400L + i, vecs(i.toInt)._2))
    val df = (vecs ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupExact(df, "vec_id", "embedding", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sem = Dedup.semanticNearDup(df, "vec_id", "embedding", 0.8,
      nLists = 300).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((sem diff exact).isEmpty, s"false positives: ${sem diff exact}")
    // identical vectors share every centroid distance -> same cells
    (0L until 5L).foreach(i =>
      assert(sem.contains((i, 400L + i)), s"missed exact duplicate $i"))
    // the widened router (nCoarseProbe=8, the audit-priced knob) keeps
    // the same contracts: zero false positives, exact dups co-route
    // (identical vectors take identical probe paths at ANY width)
    val wide = Dedup.semanticNearDup(df.where(lit(true)), "vec_id",
      "embedding", 0.8, nLists = 300, nCoarseProbe = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((wide diff exact).isEmpty, s"false positives at p=8: ${wide diff exact}")
    (0L until 5L).foreach(i =>
      assert(wide.contains((i, 400L + i)), s"p=8 missed exact duplicate $i"))
  }

  test("semanticNearDup under a tiny level-broadcast budget (forced keyed " +
      "fine attach, the 100-TB reroute) returns the exact same pairs") {
    val rnd = new scala.util.Random(29)
    val dim = 16
    val vecs = (0L until 400L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    val dups = (0L until 5L).map(i => (400L + i, vecs(i.toInt)._2))
    val df = (vecs ++ dups).toDF("vec_id", "embedding")
    val want = Dedup.semanticNearDup(df, "vec_id", "embedding", 0.8,
      nLists = 300).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty)
    spark.conf.set(graft.ops.Similarity.LevelBroadcastBytesKey, "1")
    try {
      // where(lit(true)) changes the plan's semantic hash, so the
      // keyed run builds a FRESH index (fit + assignment + multi-probe
      // all through keyedLevelAttach) instead of hitting the cache
      val got = Dedup.semanticNearDup(df.where(lit(true)), "vec_id",
        "embedding", 0.8, nLists = 300)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == want,
        s"missed=${want diff got} extra=${got diff want}")
    } finally spark.conf.unset(graft.ops.Similarity.LevelBroadcastBytesKey)
  }

  test("clusteredness signal: semanticNearDup WARNS on a boundary-" +
      "dominated corpus and stays silent on a clustered one") {
    import graft.ops.SimilarityGuard
    val dim = 16
    val rnd = new scala.util.Random(41)
    // clustered regime (the 100× clustered corpus in miniature): 50
    // tight blobs of 40, members at center + 0.05 noise — within-blob
    // cosine ~0.999, cross-blob ~0; the corpus shape SemDeDup assumes
    val centers = Array.fill(50, dim)(rnd.nextDouble() * 2 - 1)
    val clustered = (0L until 2000L).map { i =>
      val c = centers((i / 40).toInt)
      (i, c.map(x => x + (rnd.nextDouble() * 2 - 1) * 0.05))
    }.toDF("vec_id", "embedding")
    SimilarityGuard.lastClusterednessWarning = None
    Dedup.semanticNearDup(clustered, "vec_id", "embedding", 0.8)
    assert(SimilarityGuard.lastClusterednessWarning.isEmpty,
      s"false alarm on clustered data: ${SimilarityGuard.lastClusterednessWarning}")
    // boundary-dominated regime: unclustered gaussians — within-cell
    // sampled pairs essentially never clear 0.8, the corpus where r13
    // measured routing pair recall at 0.07
    val random = (0L until 2000L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    SimilarityGuard.lastClusterednessWarning = None
    Dedup.semanticNearDup(random, "vec_id", "embedding", 0.8)
    val warning = SimilarityGuard.lastClusterednessWarning
    assert(warning.nonEmpty, "no warning on a boundary-dominated corpus")
    assert(warning.get.contains("BOUNDARY-DOMINATED") &&
      warning.get.contains("embeddingNearDupLsh") &&
      warning.get.contains("nCoarseProbe"),
      s"warning must name the regime and the reroutes: ${warning.get}")
  }

  test("semanticNearDup seedQuantizer (q84b): engine pairs equal the " +
      "driver-side portable replay") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val k = 16
    val got = Dedup.semanticNearDup(df, "vec_id", "embedding", 0.35,
      seedQuantizer = k)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // replay: cells are argmin-L2 over the first k vectors by id,
    // nProbe=2 nearest cells each, pairs within shared cells at
    // exact cosine >= 0.35
    val all = df.select(col("vec_id"),
      col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val seeds = all.take(k).map(_._2)
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na > 0 && nb > 0) dot / (na * nb) else 0.0
    }
    val cells = all.map { case (id, v) =>
      id -> seeds.zipWithIndex.map { case (s, c) => (l2(v, s), c) }
        .sorted.take(2).map(_._2).toSet
    }.toMap
    val byId = all.toMap
    val want = (for {
      (a, ca) <- cells.toSeq
      (b, cb) <- cells.toSeq
      if a < b && (ca intersect cb).nonEmpty
      if cos(byId(a), byId(b)) >= 0.35
    } yield (a, b)).toSet
    assert(got == want,
      s"engine ${got.size} vs replay ${want.size}; " +
        s"extra=${got diff want} missing=${want diff got}")
  }

  test("semanticNearDup: pre-flight guard refuses past an explicit cap") {
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 50L).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
    val df = vecs.toDF("vec_id", "embedding")
    val ex = intercept[graft.ops.SimilarityGuard.CandidateVolumeExceeded] {
      Dedup.semanticNearDup(df, "vec_id", "embedding", 0.9,
        nLists = 2, maxCandidates = 10L)
    }
    // 50 ids over 2 cells -> at least C(25,2)*2-ish pairs, way over 10
    assert(ex.predicted > 10L && ex.cap === 10L)
  }

  test("bpe pieces: contractions, space-prefixed runs, digits, punctuation") {
    import graft.functions.TextAnalytics
    val got = Seq("it's 42 red-ish apples", "hello   world")
      .toDF("text")
      .select(TextAnalytics.bpePieces(col("text")).as("p"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq("it", "'s", " 42", " red", "-", "ish", " apples"))
    // greedy \s+ (no lookahead in the simplified pattern) eats the run
    assert(got(1) === Seq("hello", "   ", "world"))
  }

  test("simHashPairs: pairs within the hamming radius, none beyond") {
    val fps = Seq(
      (1L, 0x0F0F0F0F0F0F0F0FL),
      (2L, 0x0F0F0F0F0F0F0F0EL), // hamming 1 from doc 1
      (3L, 0x7000000000000000L))
      .toDF("id", "simhash")
    val got = Dedup.simHashPairs(fps, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }
}
