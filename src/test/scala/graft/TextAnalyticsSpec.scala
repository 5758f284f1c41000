package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics

class TextAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c).head().get(0)

  test("tokens drops empties from repeated spaces") {
    assert(one("a  b   c", size(TextAnalytics.tokens(col("text")))) == 3)
  }

  test("token counts on empty and blank text are zero") {
    assert(one("", TextAnalytics.tokenCount(col("text"))) == 0)
    assert(one("   ", TextAnalytics.tokenCount(col("text"))) == 0)
  }

  test("distinct token count dedups") {
    assert(one("a b a b c", TextAnalytics.distinctTokenCount(col("text"))) == 3)
  }

  test("charsNoSpace counts non-space characters") {
    assert(one("ab c  d", TextAnalytics.charsNoSpace(col("text"))) == 4)
  }

  test("quality score: length saturation and diversity halves") {
    // 2 tokens, 2 distinct: (min(2,100)*50 + 5000*2/2) / 10000 = 0.51
    assert(one("a b", TextAnalytics.qualityScore(col("text"))) == 0.51)
    // empty: 0
    assert(one("", TextAnalytics.qualityScore(col("text"))) == 0.0)
  }

  test("langId votes by marker vocabulary with first-wins ties") {
    val markers = Seq("en" -> Seq("the", "and"), "de" -> Seq("der", "und"))
    assert(one("the cat and dog", TextAnalytics.langId(col("text"), markers)) == "en")
    assert(one("der hund und", TextAnalytics.langId(col("text"), markers)) == "de")
    assert(one("xyz", TextAnalytics.langId(col("text"), markers)) == "und")
    // tie (1 hit each) -> first language in marker order wins
    assert(one("the und", TextAnalytics.langId(col("text"), markers)) == "en")
  }

  test("fingerprint is order- and multiplicity-insensitive") {
    val fp1 = one("a b c", TextAnalytics.fingerprint(col("text")))
    val fp2 = one("c b a a b", TextAnalytics.fingerprint(col("text")))
    val fp3 = one("a b d", TextAnalytics.fingerprint(col("text")))
    assert(fp1 == fp2)
    assert(fp1 != fp3)
  }

  test("shingles: contiguous n-grams, distinct, short-text empty") {
    val sh = one("a b c a b",
      TextAnalytics.shinglesOf(TextAnalytics.tokens(col("text")), 2))
      .asInstanceOf[scala.collection.Seq[String]].toSet
    assert(sh == Set("a b", "b c", "c a"))
    val short = one("a",
      TextAnalytics.shinglesOf(TextAnalytics.tokens(col("text")), 2))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(short.isEmpty)
  }

  test("winnowedFingerprints: equals the brute replay, honors the " +
      "shared-passage guarantee, reduces storage, nulls short docs") {
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def brute(text: String, k: Int, w: Int): Option[Seq[Long]] = {
      val ts = text.split(" ").filter(_.nonEmpty).toSeq
      if (ts.size < k + w - 1) None
      else {
        val hs = ts.sliding(k).map(g => md5h(g.mkString(" "))).toSeq
        Some(hs.sliding(w).map(_.min).toSeq.distinct.sorted)
      }
    }
    def run(text: String, k: Int, w: Int): Option[Seq[Long]] = {
      val r = Seq(Tuple1(text)).toDF("text")
        .select(TextAnalytics.winnowedFingerprints(
          TextAnalytics.tokens(col("text")), k, w))
        .head()
      if (r.isNullAt(0)) None else Some(r.getSeq[Long](0))
    }
    val doc = "the quick brown fox jumps over the lazy dog again and again"
    for ((k, w) <- Seq((3, 4), (2, 2), (4, 5))) {
      assert(run(doc, k, w) === brute(doc, k, w), s"k=$k w=$w")
    }
    // storage reduction: fewer fingerprints than grams
    val fps = run(doc, 3, 4).get
    assert(fps.size < doc.split(" ").length - 2)
    // the guarantee: two docs sharing a passage of >= k+w-1 tokens
    // share at least one fingerprint
    val passage = "alpha beta gamma delta epsilon zeta"
    val a = run(s"one two $passage three four", 3, 4).get
    val b = run(s"nine $passage eight seven six five", 3, 4).get
    assert(a.toSet.intersect(b.toSet).nonEmpty)
    // too short: null, never a fabricated descending-sequence window
    assert(run("a b c d e", 3, 4) === None)
    assert(run("a b c d e f", 3, 4).isDefined) // exactly k+w-1 = 6
  }
}
