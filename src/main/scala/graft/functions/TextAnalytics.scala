package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for large-scale document pipelines:
  * tokenization, token stats, quality scoring, n-gram language ID, and
  * document fingerprinting. Everything here is built from codegen'd
  * `org.apache.spark.sql.functions` (split / filter / transform /
  * aggregate higher-order functions) — no UDFs — so the expressions stay
  * inside whole-stage codegen and scale linearly over a 100 TB documents
  * table with zero shuffles (all per-row).
  */
object TextAnalytics {

  /** Whitespace tokens, empty strings dropped. Single-space split keeps
    * semantics identical across engines (the oracle uses the same rule):
    * `filter(split(text, " "), t => t =!= "")`, executed by the native
    * byte-scan kernel [[Shingling.Tokens]] (the `filter` lambda is
    * CodegenFallback and would drag every projection it appears in out
    * of whole-stage codegen; parity is pinned in TextAnalyticsSpec).
    */
  def tokens(text: Column): Column = Shingling.tokens(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text)))

  /** Characters excluding spaces — the numerator for mean token length. */
  def charsNoSpace(text: Column): Column =
    length(regexp_replace(text, " ", ""))

  /** Count of tokens belonging to a fixed vocabulary. */
  def vocabHits(text: Column, vocab: Seq[String]): Column = {
    val vs = vocab.map(lit(_))
    size(filter(tokens(text), t => vs.map(t === _).reduce(_ || _)))
  }

  /** Heuristic quality score in [0,1]: half from length saturation
    * (tokens/100 capped at 1), half from lexical diversity
    * (distinct/total tokens). Computed in scaled integer arithmetic
    * (x10000) so the value is engine-exact — float rounding at a
    * half-boundary would otherwise diverge between engines.
    */
  def qualityScore(text: Column): Column =
    qualityScoreScaled(text) / lit(10000.0)

  /** [[qualityScore]]'s exact integer numerator (score · 10000, in
    * [0, 10000]) — the fixed-point form rank-based consumers
    * ([[graft.ops.Eval.binaryAuc]]) use directly: same ordering as the
    * double score, but an exact BIGINT both engines group and rank
    * identically.
    */
  def qualityScoreScaled(text: Column): Column = {
    val n = tokenCount(text).cast("long")
    val d = distinctTokenCount(text).cast("long")
    val lengthPart = least(n, lit(100L)) * lit(50L)
    val diversityPart =
      when(n > 0, ((d * 5000L) / n).cast("long")).otherwise(lit(0L))
    lengthPart + diversityPart
  }

  /** Stopword-vote language ID. Each candidate language has a tiny
    * marker vocabulary; the language with the most token hits wins, ties
    * broken by the fixed order of `markers` (first wins), unknown when
    * no marker hits at all. Mirrors classic n-gram/profile LID collapsed
    * to a deterministic, SQL-expressible core.
    */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column = {
    val hits = markers.map { case (lang, vocab) => lang -> vocabHits(text, vocab) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val chain = hits.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (lang, h)) => acc.when(h === best, lit(lang))
    }
    chain.otherwise(lit("und"))
  }

  /** Unicode-script character classes for [[scriptCounts]]/[[scriptId]]
    * — `(script, javaClass, re2Class)`: the same codepoint range
    * expressed in Java-regex (`\uXXXX` ranges — Spark's engine) and
    * RE2 (`\x{XXXX}` ranges — what a DuckDB oracle replays) syntax, so
    * the two engines count the identical character set. Precomposed
    * Hangul syllables only (jamo normalize to syllables under NFC —
    * [[TextNormalize]] is the upstream step); Han is the BMP unified
    * block.
    */
  val scriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("cyrillic", "[\u0400-\u04FF]", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[\u0370-\u03FF]", "[\\x{0370}-\\x{03FF}]"),
    ("hangul", "[\uAC00-\uD7AF]", "[\\x{AC00}-\\x{D7AF}]"),
    ("han", "[\u4E00-\u9FFF]", "[\\x{4E00}-\\x{9FFF}]"))

  /** Per-script character counts — `length(text) − length(text with
    * the class removed)`, one codegen'd regexp per script (no explode,
    * no shuffle). The writing-system profile is the script-routing
    * stage of a multilingual pipeline (char-class LID is the standard
    * first cut before any model-based identifier).
    */
  def scriptCounts(text: Column): Seq[(String, Column)] =
    scriptClasses.map { case (name, javaCls, _) =>
      name -> (length(text) -
        length(regexp_replace(text, javaCls, ""))).cast("long")
    }

  /** Dominant script by character count — argmax over [[scriptCounts]]
    * with ties to the fixed [[scriptClasses]] order, `und` when no
    * class matches at all (the [[langId]] vote shape applied to
    * characters instead of marker tokens).
    */
  def scriptId(text: Column): Column = {
    val counts = scriptCounts(text)
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    val chain = counts.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (name, c)) => acc.when(c === best, lit(name))
    }
    chain.otherwise(lit("und"))
  }

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set. Two documents with the same bag of words (any order,
    * any duplication) collide — the cheap first stage of near-dup
    * detection before MinHash.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Contiguous n-gram shingles over a MATERIALIZED token-array column
    * (distinct, first-occurrence order). Pass a column reference, not
    * the `tokens(text)` expression: higher-order-function lambdas
    * re-evaluate their argument expression per element, so an inlined
    * tokenizer would be re-run once per shingle position (O(doc_len^2)
    * tokenization). HOF formulation — kept for first-occurrence-order
    * consumers and as the semantic spec; hot paths that want the sorted
    * distinct set should use [[Shingling.sortedShingles]] (native, one
    * pass — `transform`/`slice` lambdas are CodegenFallback and
    * evaluate interpreted, which dominated the similarity-join runtime).
    */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array()))

  /** GPT-2-style pre-tokenizer pattern (the "BPE-ish regex"): common
    * English contractions, optionally-space-prefixed letter runs, digit
    * runs, punctuation runs, residual whitespace. ASCII classes only so
    * Java regex (Spark) and RE2 (oracle) agree; both use leftmost-first
    * alternation.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"

  /** Pre-token pieces of a text under [[BpePattern]] — the unit whose
    * count approximates BPE token count far better than whitespace
    * words on code/punctuation-heavy text. Pure codegen'd regex.
    */
  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Gopher-style REPETITION quality signals over a MATERIALIZED token
    * array (after Rae et al. 2021 table A1, restated over token
    * counts): duplicate-token fraction, top-2-gram fraction
    * (occurrences of the single most frequent 2-gram / total 2-grams),
    * and duplicate-3-gram fraction. The duplicate fractions use the
    * SURPLUS form `(total - distinct) / total` — each repeated gram's
    * occurrences beyond its first — which is what (total, distinct)
    * expresses exactly; note this is smaller than Gopher's
    * all-occurrences-of-duplicated-grams share (a gram appearing twice
    * contributes 1/total here, 2/total there), so the thresholds below
    * are correspondingly more permissive than a verbatim Gopher
    * filter. Each stat is one pass of the native
    * [[Shingling.ShingleStats]] kernel — per-row, shuffle-free, so the
    * filter runs at scan speed over any corpus size. Fractions are 0.0
    * for docs too short to have the gram at all, rounded to 4 decimals
    * so downstream hashing is engine-exact.
    *
    * Returns a struct `(dup_tok_frac, top_2gram_frac, dup_3gram_frac,
    * keep)`; `keep` applies the drop rule `dup_tok_frac <= 0.30 AND
    * top_2gram_frac <= 0.20 AND dup_3gram_frac <= 0.18` (thresholds
    * borrowed from Gopher's corresponding rules).
    */
  def repetitionStats(toks: Column): Column = {
    def frac(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den, 4)).otherwise(lit(0.0))
    val s1 = Shingling.shingleStats(toks, 1)
    val s2 = Shingling.shingleStats(toks, 2)
    val s3 = Shingling.shingleStats(toks, 3)
    val dupTok = frac(s1.getField("total") - s1.getField("n_distinct"),
      s1.getField("total"))
    val top2 = frac(s2.getField("max_freq"), s2.getField("total"))
    // surplus form: each repeated gram's extra occurrences over one —
    // what (total, distinct) can express exactly
    val dup3 = frac(s3.getField("total") - s3.getField("n_distinct"),
      s3.getField("total"))
    struct(
      dupTok.as("dup_tok_frac"),
      top2.as("top_2gram_frac"),
      dup3.as("dup_3gram_frac"),
      (dupTok <= 0.30 && top2 <= 0.20 && dup3 <= 0.18).as("keep"))
  }

  /** WINNOWED document fingerprints (Schleimer et al. SIGMOD'03 — the
    * MOSS local fingerprinting scheme, set form): hash every k-gram
    * (md5-60-bit, the repo's cross-engine hash), slide a w-wide
    * window over the hash sequence, and keep each window's MINIMUM —
    * the selected set is guaranteed to share a fingerprint with any
    * copy of a passage ≥ k+w−1 tokens, while storing ~2/(w+1) of the
    * gram hashes. Returns the sorted distinct fingerprint array
    * (null when the doc is shorter than k+w−1 tokens — guarded
    * explicitly because Spark's `sequence` DESCENDS when start >
    * stop, which would silently fabricate windows). Pure codegen
    * HOFs, per-row, shuffle-free.
    */
  def winnowedFingerprints(toks: Column, k: Int, w: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 2, s"w must be >= 2, got $w")
    val n = size(toks)
    val hs = transform(sequence(lit(1), (n - lit(k - 1)).cast("int")),
      i => conv(substring(md5(concat_ws(" ",
          (0 until k).map(j => element_at(toks, i + lit(j))): _*)),
        1, 15), 16, 10).cast("long"))
    val fps = array_sort(array_distinct(transform(
      sequence(lit(1), (size(hs) - lit(w - 1)).cast("int")),
      i => array_min(slice(hs, i, lit(w))))))
    when(n >= k + w - 1, fps)
  }
}
