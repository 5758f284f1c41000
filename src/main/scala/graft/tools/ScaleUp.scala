package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize an sf1.0-scale dataset as a 10× upscale of the
  * driver's sf0.1 tables, for the full-catalog scale audit (the driver
  * ships no sf1.0). Referential structure is preserved by offsetting
  * primary/foreign keys per copy; dimension tables (region, nation)
  * stay fixed like real dims would.
  *
  * Text and vector copies must NOT be byte-identical (10 exact copies
  * of every document would turn the near-dup operators' output
  * quadratic in the copy count — a different workload, not a bigger
  * one). Each copy k Caesar-rotates the text's letters by k (token
  * statistics and shingle-set sizes are isomorphic per copy,
  * cross-copy overlap collapses to near zero) and rotates the
  * embedding array by k positions (norms and within-copy pairwise
  * geometry preserved).
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/testdata_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Session.start()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // the driver's layout is ONE parquet FILE per table (and the DuckDB
    // oracle harness reads them as files): stage the write, move the
    // single part file into place
    def write(df: DataFrame, t: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val stage = Files.createTempDirectory("graft_scaleup_")
      graft.sinks.Sinks.writeTable(df.coalesce(1), stage.resolve("o").toString)
      val part = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.list(stage.resolve("o"))) { l =>
          l.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part written for $t"))
        }
      }
      Files.createDirectories(Paths.get(dst))
      Files.move(part, Paths.get(dst, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      scala.util.Using.resource(Files.walk(stage)) { w =>
        import scala.jdk.CollectionConverters._
        w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      }
    }

    def keySpan(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    // replicate df `copies` times; `offsets` maps column -> key span to
    // shift by copy index (PKs and FKs into other scaled tables)
    def scale(df: DataFrame, offsets: Map[String, Long])(
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { k =>
        val shifted = offsets.foldLeft(df) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(span * k))
        }
        perturb(shifted, k)
      }.reduce(_ unionByName _)

    // dims stay as-is
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer")
    val orders = read("orders")
    val part = read("part")
    val supplier = read("supplier")
    val cSpan = keySpan(customer, "c_custkey")
    val oSpan = keySpan(orders, "o_orderkey")
    val pSpan = keySpan(part, "p_partkey")
    val sSpan = keySpan(supplier, "s_suppkey")

    write(scale(customer, Map("c_custkey" -> cSpan))(), "customer")
    write(scale(supplier, Map("s_suppkey" -> sSpan))(), "supplier")
    write(scale(part, Map("p_partkey" -> pSpan))(), "part")
    write(scale(orders, Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan))(),
      "orders")
    write(scale(read("lineitem"), Map(
      "l_orderkey" -> oSpan, "l_partkey" -> pSpan, "l_suppkey" -> sSpan))(),
      "lineitem")

    // go through the Tables adapter: it normalizes every physical ts
    // layout the driver has shipped (nanos-as-long, TIMESTAMP_NTZ
    // micros, tz-aware micros) to canonical TimestampType, so the
    // copy stores standard micros timestamps regardless of which
    // shape the source regen carried
    val events = graft.core.Tables.events(spark, src)
    val eSpan = keySpan(events, "event_id")
    val uSpan = keySpan(events, "user_id")
    write(scale(events, Map("event_id" -> eSpan, "user_id" -> uSpan))(),
      "events")

    val docs = read("documents")
    val dSpan = keySpan(docs, "doc_id")
    // Per-copy text transform: Caesar-rotate by k mod 26 AND append a
    // 2-letter copy tag to every token. The suffix makes copies
    // INJECTIVE at the token level by construction (no token of copy
    // k ever equals a token of copy j != k), so the n-gram df table of
    // the scaled corpus is exactly `copies` disjoint images of the
    // base table — gram-join candidate volume scales LINEARLY in
    // copies, the "same workload, bigger" property the audit needs.
    // Two earlier schemes failed it: plain rotation wraps at 26
    // (copies k and k+26 byte-identical -> duplicate-saturated
    // corpus), and an affine cipher's letter bijections collide on
    // this short random-token vocabulary (measured: distinct grams
    // grew only 2.3x at 100 copies while df grew ~43x -> Σdf²
    // candidate blowup ~1900x instead of 100x).
    require(copies <= 17576,
      s"3-letter copy tag distinct for <=17576 copies, got $copies")
    // Copy 0 IS tagged, deliberately asymmetric with the embeddings
    // branch (where copy 0 = base): injectivity needs every token to
    // carry its tag at the SAME position. With copy 0 untagged, a
    // natural copy-0 token "xyzab" would equal copy-26's "xyz"+tag
    // "ab" — base tokens vary in length, so only a uniform append
    // keeps cross-copy token sets provably disjoint (equal total
    // length forces equal tag position forces equal copy index).
    // Embeddings need no such guard: the k=0 sign-flip hash is the
    // identity by construction and flips can't collide across k.
    // Cost: the scaled corpus's copy 0 is not byte-identical to the
    // base corpus — fine for the audit, which measures how the SAME
    // workload scales with copies, not equality with the base run.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write(scale(docs, Map("doc_id" -> dSpan)) { (d, k) =>
      val rot = k % 26
      val to = alpha.drop(rot) + alpha.take(rot)
      // UNIFORM 3-letter tag for every copy index (a variable-length
      // tag would break the equal-length injectivity argument above)
      val tag = s"${alpha(k % 26)}${alpha(k / 26 % 26)}${alpha(k / 676 % 26)}"
      d.withColumn("text",
        regexp_replace(
          translate(col("text"), alpha + alpha.toUpperCase,
            to + to.toUpperCase),
          "(\\S+)", s"$$1$tag"))
    }, "documents")

    val emb = read("embeddings")
    val vSpan = keySpan(emb, "vec_id")
    // Per-copy SIGN-FLIP pattern (an orthogonal diagonal transform):
    // coordinate i negates when bit (i mod 32) of a k-derived hash is
    // set. Norms and all WITHIN-copy dot products are exactly
    // preserved (the same flips cancel), while CROSS-copy dot products
    // decorrelate under the differing patterns — so near-dup/ANN
    // output scales with copies instead of exploding. The earlier
    // rotation wrapped at the 64-dim boundary: copies k and k+64 were
    // IDENTICAL vectors, and the 100x audit's q57 drowned in
    // cross-copy duplicate pairs (77s/341k rows at 10x, disk-filling
    // at 100x). Copy 0 keeps hash 0 = no flips = the base table.
    val embDim = emb.selectExpr("size(embedding)").head().getInt(0)
    write(scale(emb, Map("vec_id" -> vSpan)) { (d, k) =>
      if (k == 0) d
      else {
        val bits = (k * 0x9E3779B97F4A7C15L) ^ (k.toLong << 17)
        val flips = Array.tabulate(embDim)(i =>
          if (((bits >> (i % 32)) & 1L) == 1L) -1.0f else 1.0f)
        d.withColumn("embedding",
          zip_with(col("embedding"), typedlit(flips), (v, s) => v * s))
      }
    }, "embeddings")

    println(s"wrote ${copies}x of $src to $dst")
    spark.stop()
  }
}
