package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.{HashMap => JHashMap}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** EXACT corpus heavy hitters — every term whose occurrence count is
  * at least `ceil(N / denom)` (N = total occurrences), with its exact
  * count — without ever shuffling the vocabulary. The naive plan
  * (`groupBy(term).count().filter(...)`) exchanges every distinct term
  * each map partition saw; on a web-scale corpus that is a
  * billions-of-keys shuffle to answer a question whose output is at
  * most `denom` rows.
  *
  * Two passes, both bounded:
  *
  *  1. CANDIDATES: one Misra-Gries summary (k = denom + 1 counters,
  *     MG'82; mergeable with the summed error bound, Agarwal et al.
  *     PODS'12) built as a native [[MisraGriesAgg]]
  *     `TypedImperativeAggregate` — partial per partition (O(k)
  *     memory, amortized O(1) per row), ONE k-entry sketch per
  *     partition on the wire, merged with the trim-to-k rule. The MG
  *     guarantee makes the candidate set COMPLETE: a term absent from
  *     the merged summary has true count ≤ N/(k+1) < ceil(N/denom),
  *     so no true hitter is ever missed — the sketch can only
  *     over-admit, exactly like the Bloom prefilter in
  *     [[Decontaminate.bloomOverlap]].
  *  2. VERIFY: exact counts for candidate terms only — an `InSet`
  *     scan-stage predicate (small candidate sets) or a semi-join
  *     (large), then `groupBy(term)` whose map-side partials are
  *     bounded by |candidates| per partition. Over-admitted candidates
  *     die on the final `>= T` filter, so the output is EXACT and
  *     independent of partition layout, input order, and merge order.
  *
  * The driver holds the merged candidate list — at most k strings,
  * bounded by the `denom` the caller chose (require-gated), the same
  * bounded-by-construction collect discipline as Components' seed
  * threshold.
  */
object HeavyHitters {

  /** Candidates admitted to an `isin`/InSet predicate rather than a
    * semi-join: past this the In-list stops being a sane plan node.
    */
  private val InSetMax = 8192

  /** Max counters (= max denom + 1): bounds both executor sketch
    * memory (k entries) and the driver-side candidate collect.
    */
  val MaxCounters: Int = 1 << 20

  /** Byte budget for the auto-pin localCheckpoint taken when the input
    * plan is detectably non-deterministic: the pin materializes the
    * FULL exploded term stream and holds it for the returned plan's
    * lifetime, so without a bound a non-deterministic corpus-scale
    * input would silently pin corpus-scale executor storage (the
    * same failure the [[Quantiles]] rank table refuses by name).
    * Measured after the eager checkpoint (the only point the real
    * footprint is knowable); over-budget pins are released and
    * refused with this key as the escape hatch.
    */
  val PinBytesKey = "graft.heavyHitters.pinBytes"

  /** Misra-Gries frequent-candidates summary over a string column.
    * Buffer = at most k (term → lower-bound count) counters; update
    * is the classic decrement-all-on-overflow (amortized O(1): every
    * decrement cancels an increment); merge sums counters then
    * subtracts the (k+1)-th largest value and drops non-positives
    * (the mergeable-summaries rule — error bounds ADD, keeping the
    * absent ⇒ count ≤ N/(k+1) guarantee under any merge tree). Emits
    * the surviving terms, binary-sorted for determinism; counts stay
    * internal — they are lower bounds, and the exact verify pass
    * recounts anyway.
    */
  case class MisraGriesAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[JHashMap[UTF8String, java.lang.Long]]
      with ExpectsInputTypes with UnaryLike[Expression] {

    require(k >= 1 && k <= MaxCounters,
      s"counter budget must be in [1, $MaxCounters], got $k")

    override def prettyName: String = "misra_gries_candidates"
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes: Seq[DataType] = Seq(StringType)

    override def createAggregationBuffer(): JHashMap[UTF8String, java.lang.Long] =
      new JHashMap[UTF8String, java.lang.Long](k * 2)

    override def update(
        buf: JHashMap[UTF8String, java.lang.Long],
        input: InternalRow): JHashMap[UTF8String, java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        val key = v.asInstanceOf[UTF8String]
        val cur = buf.get(key)
        if (cur != null) {
          // present: HashMap.put keeps the stored key, so the
          // row-buffer-backed transient key never leaks into the map
          buf.put(key, cur + 1L)
        } else if (buf.size < k) {
          // absent with room: own the bytes (the scan reuses row buffers)
          buf.put(key.clone(), java.lang.Long.valueOf(1L))
        } else {
          // absent and full: decrement every counter, drop zeros
          val it = buf.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val nv = e.getValue - 1L
            if (nv == 0L) it.remove() else e.setValue(nv)
          }
        }
      }
      buf
    }

    override def merge(
        a: JHashMap[UTF8String, java.lang.Long],
        b: JHashMap[UTF8String, java.lang.Long])
        : JHashMap[UTF8String, java.lang.Long] = {
      val bit = b.entrySet().iterator()
      while (bit.hasNext) {
        val e = bit.next()
        val cur = a.get(e.getKey)
        // keys of b are deserialized (owned) — no clone needed
        a.put(e.getKey, if (cur == null) e.getValue else cur + e.getValue)
      }
      if (a.size > k) {
        val vals = new Array[Long](a.size)
        var i = 0
        val vit = a.values().iterator()
        while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
        java.util.Arrays.sort(vals)
        val cut = vals(vals.length - 1 - k) // (k+1)-th largest
        val ait = a.entrySet().iterator()
        while (ait.hasNext) {
          val e = ait.next()
          val nv = e.getValue - cut
          if (nv <= 0L) ait.remove() else e.setValue(nv)
        }
      }
      a
    }

    override def eval(buf: JHashMap[UTF8String, java.lang.Long]): Any = {
      val keys = buf.keySet().toArray(new Array[UTF8String](buf.size))
      // binaryCompare, not compareTo — see Shingling.sortedShinglesImpl
      java.util.Arrays.sort(keys,
        (x: UTF8String, y: UTF8String) => x.binaryCompare(y))
      new GenericArrayData(keys.asInstanceOf[Array[AnyRef]])
    }

    override def serialize(
        buf: JHashMap[UTF8String, java.lang.Long]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.size)
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val bytes = e.getKey.getBytes
        out.writeInt(bytes.length)
        out.write(bytes)
        out.writeLong(e.getValue)
      }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(
        bytes: Array[Byte]): JHashMap[UTF8String, java.lang.Long] = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val buf = new JHashMap[UTF8String, java.lang.Long](math.max(n * 2, 16))
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val kb = new Array[Byte](len)
        in.readFully(kb)
        buf.put(UTF8String.fromBytes(kb), java.lang.Long.valueOf(in.readLong()))
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(n: Int): MisraGriesAgg =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): MisraGriesAgg =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(c: Expression): MisraGriesAgg =
      copy(child = c)
  }

  /** The MG candidate summary as an aggregate Column. */
  def mgCandidates(term: Column, k: Int): Column =
    GraftColumnBridge.column(
      MisraGriesAgg(GraftColumnBridge.expression(term), k)
        .toAggregateExpression())

  /** All terms with count ≥ ceil(N / denom) and their EXACT counts:
    * `(termCol, cnt)`. `terms` is one term occurrence per row (nulls
    * ignored); it is evaluated TWICE — once for the sketch+total,
    * once for the verify — both column-pruned scans, neither
    * materialized. The two passes must see the same rows, so the
    * input plan must be deterministic (the Decontaminate recompute
    * contract): a plan that re-rolls between evaluations — `rand()`
    * without a seed, an unsorted `limit` — would silently void both
    * the MG candidate-completeness bound and the ≥-threshold
    * exactness. Plans with detectably non-deterministic EXPRESSIONS
    * are auto-pinned with a localCheckpoint (held for the returned
    * plan's lifetime — the verify side reads it lazily), measured and
    * BUDGETED ([[PinBytesKey]]): an over-budget pin is released and
    * refused by name rather than silently holding corpus-scale
    * storage. Order-level non-determinism (limit without sort) is
    * undetectable and stays the caller's obligation.
    */
  def heavyHitters(
      terms0: DataFrame,
      termCol: String,
      denom: Long,
      inSetMax: Int = InSetMax): DataFrame = {
    require(denom >= 1 && denom < MaxCounters,
      s"denom must be in [1, ${MaxCounters - 1}], got $denom")
    val terms =
      if (terms0.queryExecution.analyzed.exists(
          _.expressions.exists(e => e.exists(!_.deterministic)))) {
        // a correctness pin (the two passes must see the same rows):
        // eager, and released by the harness's query-boundary drain
        val pinned = graft.core.StagingScope.stage(terms0, eager = true)
        val budget = terms0.sparkSession.conf.getOption(PinBytesKey)
          .map(_.toLong).getOrElse(1L << 30)
        val bytes = GraftColumnBridge.localCheckpointStorageBytes(pinned)
        if (bytes > budget) {
          GraftColumnBridge.unpersistLocalCheckpoint(pinned)
          throw new IllegalArgumentException(
            s"heavyHitters: the non-deterministic input plan's auto-pin " +
              s"materialized $bytes B (> $budget B, $PinBytesKey). This op " +
              "evaluates its input twice (sketch + verify) and pins " +
              "non-deterministic inputs for the returned plan's lifetime " +
              "to keep the two passes consistent; for a corpus-scale " +
              "non-deterministic input, pin it yourself (write it out, or " +
              "checkpoint and manage the release) or raise the budget " +
              "explicitly.")
        }
        pinned
      } else terms0
    val k = denom.toInt + 1
    // Bounded collect: one row, candidate array ≤ k (require-gated).
    val row = terms
      .agg(mgCandidates(col(termCol), k).as("cand"),
        count(col(termCol)).as("n"))
      .first()
    val cand = row.getSeq[String](0)
    val n = row.getLong(1)
    val threshold = if (n == 0L) 1L else (n + denom - 1L) / denom
    val candidateRows =
      if (cand.size <= inSetMax) {
        if (cand.isEmpty) terms.where(lit(false))
        else terms.where(col(termCol).isin(cand: _*))
      } else {
        val spark = terms.sparkSession
        import spark.implicits._
        terms.join(
          broadcast(cand.toDF(termCol).distinct()), Seq(termCol), "left_semi")
      }
    candidateRows
      .groupBy(termCol)
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
  }

  /** INCREMENTAL maintenance of an exact term-count artifact across
    * corpus snapshots — the refresh path of heavy hitters (q121): the
    * stored artifact is the exact `(term, cnt)` table over v1's term
    * stream; on v2, only churn documents tokenize (their OLD terms
    * subtract, their NEW terms add — [[SnapshotDiff]] statuses pick
    * the slices), so refresh cost is churn-proportional, never
    * corpus-sized.
    *
    * Why not carry Misra-Gries summaries instead? MG summaries are
    * MERGEABLE (Agarwal et al., PODS'12) but not SUBTRACTABLE: a
    * removed or changed document cannot be deleted from a sketch, so
    * sketch-carry alone is unsound under the remove/edit churn real
    * snapshots have. The exact count table is the artifact that
    * supports deletion (counts form a group under +/−); it is
    * vocabulary-sized, which is exactly what a production system
    * stores for its term statistics anyway. The re-sum here shuffles
    * the count table once; at scale the artifact would be stored
    * hash-partitioned by term so the (churn-sized) delta joins
    * co-partitioned and the carry never moves.
    *
    * `termsOf` maps a docs frame to its one-term-per-row stream (the
    * same derivation that built `priorCounts`); terms whose count
    * reaches zero drop out; a NEGATIVE residual count means
    * `priorCounts` was not the exact table for `oldDocs` and fails
    * loudly in-plan rather than silently under-counting.
    */
  def incrementalTermCounts(
      priorCounts: DataFrame,
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      contentCols: Seq[String],
      termsOf: DataFrame => DataFrame): DataFrame = {
    // churn-sized; both status slices below consume it — one diff scan
    // of the two corpus versions instead of two
    val delta = graft.core.StagingScope.stage(
      SnapshotDiff.diff(oldDocs, newDocs, idCol, contentCols))
    def slice(docs: DataFrame, statuses: Seq[String], sign: Long) = {
      val churn = delta.where(col("status").isin(statuses: _*)).select("id")
      termsOf(docs.join(churn, docs(idCol) === churn("id"), "left_semi"))
        .groupBy("term").agg((count(lit(1)) * sign).as("cnt"))
    }
    priorCounts.select(col("term"), col("cnt").cast("long").as("cnt"))
      .unionByName(slice(oldDocs, Seq("removed", "changed"), -1L))
      .unionByName(slice(newDocs, Seq("added", "changed"), 1L))
      .groupBy("term")
      .agg(sum("cnt").as("cnt"))
      .withColumn("cnt",
        when(col("cnt") >= 0L, col("cnt"))
          .otherwise(raise_error(concat(
            lit("incrementalTermCounts: negative residual count for term '"),
            col("term"),
            lit("' — priorCounts is not the exact count table of oldDocs")))
            .cast("long")))
      .where(col("cnt") > 0L)
  }

  /** Heavy hitters FROM a maintained exact count table: every term
    * with `cnt >= ceil(N / denom)`, N = total occurrences — the same
    * contract as [[heavyHitters]] but served from the artifact
    * [[incrementalTermCounts]] maintains, so no corpus pass at all.
    * One bounded one-row collect fixes the threshold (the N total is
    * a scalar; embedding it as a literal keeps the plan free of the
    * 1-row nested-loop join a scalar cross join would plant).
    */
  def heavyHittersFromCounts(counts: DataFrame, denom: Long): DataFrame = {
    require(denom >= 1, s"denom must be >= 1, got $denom")
    // the count table is the artifact; the scalar-N job and the final
    // filter both read it — materialize its (possibly expensive)
    // lineage once, term-vocabulary-sized. An input that is ALREADY a
    // checkpoint root (a caller passing the materialized artifact —
    // the documented "counts IS the artifact" contract) skips the
    // redundant vocabulary-sized copy.
    val countsC = counts.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => counts
      case _ => graft.core.StagingScope.stage(counts)
    }
    val n = countsC.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val threshold = if (n == 0L) 1L else (n + denom - 1L) / denom
    countsC.select(col("term"), col("cnt").cast("long").as("cnt"))
      .where(col("cnt") >= threshold)
  }
}
