package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd kernels for the shingle/MinHash hot path of the
  * dedup family. Semantically these are drop-in replacements for the
  * higher-order-function formulations in [[TextAnalytics.shinglesOf]]
  * and [[graft.ops.Dedup.minHashSignature]] — Spark's lambda functions
  * (`transform`/`slice`/`aggregate`) are CodegenFallback, so the HOF
  * versions evaluate INTERPRETED, allocating a boxed array per shingle
  * per row; on the documents table that interpretation is ~80% of the
  * whole similarity-join runtime. One native pass per row removes it
  * while producing bit-identical output (parity is pinned by unit
  * tests in ShinglingSpec):
  *
  *  - [[SortedShingles]] == `sort_array(array_distinct(transform(
  *    sequence(0, size-n), i => concat_ws(" ", slice(toks, i+1, n)))))`
  *    (empty when `size(toks) < n`);
  *  - [[Md5MinHashSig]] == `array((0 until k).map(i => array_min(
  *    transform(sh, g => conv(substring(md5(concat("i:", g)), 1, 15),
  *    16, 10)))))`, the MinHash signature a SQL engine replays as
  *    `min(('0x' || substr(md5(i || ':' || gram), 1, 15))::BIGINT)`:
  *    the top 60 bits of each md5 digest, read big-endian.
  */
object Shingling {

  /** Non-empty space-separated tokens of a text, one byte scan.
    * Exactly `filter(split(text, " "), t => t =!= "")`: a single-space
    * regex splits at each 0x20 byte (multi-byte UTF-8 chars never
    * contain 0x20), and dropping empty strings absorbs leading,
    * trailing, and repeated separators. The output substrings share
    * the input's byte array — no per-token copy.
    */
  def tokensImpl(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    var count = 0
    var i = 0
    while (i < nb) {
      if (bytes(i) != 0x20) {
        count += 1
        while (i < nb && bytes(i) != 0x20) i += 1
      } else i += 1
    }
    if (count == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    var t = 0
    i = 0
    while (i < nb) {
      if (bytes(i) != 0x20) {
        val start = i
        while (i < nb && bytes(i) != 0x20) i += 1
        out(t) = UTF8String.fromBytes(bytes, start, i - start)
        t += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** Sorted distinct space-joined n-grams of a token array. Binary
    * (unsigned byte) sort order — exactly `sort_array`'s StringType
    * ordering. Null tokens are skipped within a shingle (concat_ws
    * semantics); the output itself never contains nulls.
    */
  def sortedShinglesImpl(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val out = new Array[UTF8String](len - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        parts(j) = toks.getUTF8String(i + j) // null-safe: concatWs skips nulls
        j += 1
      }
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    // binaryCompare, NOT compareTo: identical byte order, but Spark
    // 4.1's compareTo guards every call with SparkEnvUtils.isTesting —
    // a System.getenv PER COMPARISON (the 100x audit caught one sort
    // task burning 15 CPU-minutes in getenv) — and THROWS under
    // spark.testing
    java.util.Arrays.sort(out, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    // dedup adjacent (sorted): count uniques, then copy
    var uniq = 1
    i = 1
    while (i < out.length) {
      if (!out(i).binaryEquals(out(i - 1))) uniq += 1
      i += 1
    }
    if (uniq == out.length) return new GenericArrayData(out.asInstanceOf[Array[Any]])
    val dedup = new Array[Any](uniq)
    dedup(0) = out(0)
    var d = 1
    i = 1
    while (i < out.length) {
      if (!out(i).binaryEquals(out(i - 1))) { dedup(d) = out(i); d += 1 }
      i += 1
    }
    new GenericArrayData(dedup)
  }

  /** Per-k cache of the UTF-8 permutation prefixes `"i:"` that
    * [[md5MinHashImpl]] feeds the digest ahead of each shingle.
    */
  private val md5PrefixCache = new ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def md5PrefixesOf(k: Int): Array[Array[Byte]] =
    md5PrefixCache.computeIfAbsent(k, nh =>
      Array.tabulate(nh)(i => s"$i:".getBytes(StandardCharsets.UTF_8)))

  private val md5Digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** k-permutation MinHash signature in ONE pass over the
    * shingle array. Permutation i hashes shingle g to the first 8
    * bytes of `md5("i:" ++ g)` read big-endian and shifted `>>> 4`:
    * the 15-hex-digit prefix `conv(substring(md5(..), 1, 15), 16, 10)`
    * evaluates to. Null shingles are skipped and a permutation that
    * saw none is null, as `array_min` over the nulls `md5(null)`
    * gives; an empty array therefore yields k nulls.
    */
  def md5MinHashImpl(sh: ArrayData, k: Int): ArrayData = {
    val n = sh.numElements()
    val prefixes = md5PrefixesOf(k)
    val md = md5Digest.get()
    val digest = new Array[Byte](16)
    // message buffer: the shingle sits at offset `at`, and each
    // permutation's prefix is copied in just ahead of it, so one
    // digest update covers the whole "i:gram" message
    val at = prefixes(k - 1).length
    var msg = new Array[Byte](at + 64)
    // every hash is < 2^60, so MaxValue marks "no shingle seen"
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        val g = sh.getUTF8String(i)
        val len = g.numBytes()
        if (at + len > msg.length) msg = new Array[Byte](at + len)
        g.writeToMemory(msg, Platform.BYTE_ARRAY_OFFSET + at)
        var b = 0
        while (b < k) {
          val p = prefixes(b)
          System.arraycopy(p, 0, msg, at - p.length, p.length)
          md.update(msg, at - p.length, p.length + len)
          md.digest(digest, 0, 16)
          var h = 0L
          var j = 0
          while (j < 8) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
          h >>>= 4
          if (h < mins(b)) mins(b) = h
          b += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => if (m == Long.MaxValue) null else Long.box(m): Any))
  }

  /** Repetition statistics of the (NON-distinct) n-gram bag of a token
    * array, one pass: (total grams, distinct grams, max per-gram
    * frequency). Builds the gram array, sorts it (same binary order as
    * [[sortedShinglesImpl]]), and walks the runs — no hash map, no
    * boxing. `len < n` yields (0, 0, 0): a doc too short to have any
    * n-gram has nothing to repeat.
    *
    * These three numbers are exactly what the Gopher-style repetition
    * quality rules consume: duplicate-gram fraction
    * `(total - distinct) / total` and top-gram fraction
    * `maxFreq / total` (Rae et al. 2021, "Scaling Language Models",
    * table A1 — restated over token counts).
    *
    * Null-ELEMENT semantics differ by width (matching the composed
    * built-ins each path mirrors): at n = 1 a null token maps to `""`
    * and is counted as a gram, while at n >= 2 `concatWs` silently
    * DROPS null tokens inside a window, so a partially-null window
    * yields a gram of smaller token arity (and an all-null window
    * yields `""`). [[graft.functions.Shingling.tokensImpl]] never
    * emits nulls, so none of this triggers on the engine's own text
    * paths — it only matters if callers feed a hand-built token array
    * containing nulls.
    */
  def shingleStatsImpl(toks: ArrayData, n: Int): InternalRow = {
    val len = toks.numElements()
    if (len < n) return new GenericInternalRow(Array[Any](0, 0, 0))
    val total = len - n + 1
    val grams = new Array[UTF8String](total)
    if (n == 1) {
      // null elements collapse to "" — exactly what the n >= 2 path's
      // concatWs yields for an all-null window (and what keeps the
      // sort comparator null-safe)
      var i = 0
      while (i < total) {
        val t = toks.getUTF8String(i)
        grams(i) = if (t == null) UTF8String.EMPTY_UTF8 else t
        i += 1
      }
    } else {
      val sep = UTF8String.fromString(" ")
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i < total) {
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        grams(i) = UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
    }
    // binaryCompare/binaryEquals, NOT compareTo/equals — see the
    // getenv-per-comparison note in [[sortedShinglesImpl]]
    java.util.Arrays.sort(grams, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    var distinct = 1
    var maxFreq = 1
    var run = 1
    var i = 1
    while (i < total) {
      if (grams(i).binaryEquals(grams(i - 1))) {
        run += 1
        if (run > maxFreq) maxFreq = run
      } else {
        distinct += 1
        run = 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](total, distinct, maxFreq))
  }

  /** ORDERED, NON-distinct space-joined n-grams of a token array: the
    * gram at output index i starts at token offset i — the positional
    * form [[sortedShinglesImpl]] deliberately destroys (it sorts and
    * dedups for set-similarity). `posexplode` over this array yields
    * (token offset, gram) pairs, which is what span-level
    * decontamination consumes. `len < n` yields an empty array. Null
    * tokens follow `concatWs` (dropped within a window) at every
    * width; [[tokensImpl]] never emits nulls.
    */
  def shinglesImpl(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val total = len - n + 1
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](total)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < total) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  case class Tokens(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override protected def nullSafeEval(text: Any): Any =
      tokensImpl(text.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Shingling.tokensImpl($c)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class SortedShingles(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override protected def nullSafeEval(toks: Any): Any =
      sortedShinglesImpl(toks.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Shingling.sortedShinglesImpl($c, $n)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class OrderedShingles(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override protected def nullSafeEval(toks: Any): Any =
      shinglesImpl(toks.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Shingling.shinglesImpl($c, $n)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class Md5MinHashSig(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(k >= 1, s"signature length must be >= 1, got $k")
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override protected def nullSafeEval(sh: Any): Any =
      md5MinHashImpl(sh.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Shingling.md5MinHashImpl($c, $k)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class ShingleStats(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n >= 1, s"gram width must be >= 1, got $n")
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StructType(Seq(
      StructField("total", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("max_freq", IntegerType, nullable = false)))
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override protected def nullSafeEval(toks: Any): Any =
      shingleStatsImpl(toks.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Shingling.shingleStatsImpl($c, $n)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Whitespace tokens, codegen'd (see [[Tokens]]). */
  def tokens(text: Column): Column =
    GraftColumnBridge.column(Tokens(GraftColumnBridge.expression(text)))

  /** Sorted distinct n-gram shingles of a MATERIALIZED token array
    * (see the materialization rule on [[TextAnalytics.shinglesOf]]).
    */
  def sortedShingles(toks: Column, n: Int): Column =
    GraftColumnBridge.column(SortedShingles(GraftColumnBridge.expression(toks), n))

  /** Ordered, non-distinct positional n-gram shingles of a
    * MATERIALIZED token array (see [[OrderedShingles]]).
    */
  def orderedShingles(toks: Column, n: Int): Column =
    GraftColumnBridge.column(OrderedShingles(GraftColumnBridge.expression(toks), n))

  /** One-pass md5 MinHash signature over a MATERIALIZED shingle
    * array (see [[Md5MinHashSig]]).
    */
  def minHashSignature(sh: Column, numHashes: Int): Column =
    GraftColumnBridge.column(Md5MinHashSig(GraftColumnBridge.expression(sh), numHashes))

  /** One-pass n-gram repetition stats `(total, n_distinct, max_freq)`
    * over a MATERIALIZED token array (see [[ShingleStats]]).
    */
  def shingleStats(toks: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleStats(GraftColumnBridge.expression(toks), n))

  /** Join/aggregation KEY for a gram string: `xxhash64` — 8-byte
    * shuffle keys, the move that made the q63/q83 gram paths fit one
    * box's disk at 100×. Birthday bound over 2⁶⁴: ~2.7% any-collision
    * odds at 10⁹ distinct grams, near-certain at 10¹¹+ — and a
    * collision silently merges two gram identities (false TF-IDF dims,
    * false excision spans). The key is injective over gram equality
    * otherwise, so results change only via collisions; none occur on
    * the gated corpora.
    */
  def gramKey(g: Column): Column = xxhash64(g)
}
