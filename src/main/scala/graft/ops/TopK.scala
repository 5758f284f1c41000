package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Typed per-group top-k as an `Aggregator` (SURVEY §2.11's
  * UDAF-shaped surface). The window-function top-k (q07) sorts every
  * group's rows after a full shuffle; this aggregator keeps only k
  * candidates per partition and merges buffers — map-side partial
  * aggregation means the shuffle carries at most k rows per
  * (partition, group) instead of the whole group: the right plan at
  * 100 TB when k is small and groups are large or skewed.
  *
  * Ordering: descending by score, ties broken by ascending id — the
  * same deterministic rule as the reference's representative selection.
  * Scores compare by `java.lang.Double.compare`, a total order that
  * ranks NaN above every number (as Spark's own sort does), so a NaN
  * lands in the same place whatever order the rows arrive in.
  */
object TopK {

  case class Scored(id: Long, score: Double)

  /** Buffer is a sorted (best-first) vector of at most k entries. */
  class TopKAggregator(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    require(k > 0)

    private def better(a: Scored, b: Scored): Boolean = {
      val c = java.lang.Double.compare(a.score, b.score)
      c > 0 || (c == 0 && a.id < b.id)
    }

    private def insert(buf: Seq[Scored], x: Scored): Seq[Scored] = {
      if (buf.size >= k && better(buf.last, x)) buf
      else {
        val (front, back) = buf.span(better(_, x))
        (front :+ x) ++ back.take(k - front.size - 1)
      }
    }

    override def zero: Seq[Scored] = Vector.empty

    override def reduce(buf: Seq[Scored], x: Scored): Seq[Scored] = insert(buf, x)

    override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
      b.foldLeft(a)(insert)

    override def finish(buf: Seq[Scored]): Seq[Scored] = buf

    override def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  def topK(k: Int): TopKAggregator = new TopKAggregator(k)

  /** Mutable bounded top-k buffer: parallel (score, id) arrays kept
    * sorted best-first — (score desc, id asc), the [[TopKAggregator]]
    * rule. k is small (serving top-k), so inserts are linear shifts.
    */
  final class TopKBuf(val k: Int) {
    val ids = new Array[Long](k)
    val scores = new Array[Double](k)
    var n = 0

    /** x better than position i's entry? */
    private def better(score: Double, id: Long, i: Int): Boolean = {
      val c = java.lang.Double.compare(score, scores(i))
      c > 0 || (c == 0 && id < ids(i))
    }

    def insert(id: Long, score: Double): Unit = {
      var pos = n
      while (pos > 0 && better(score, id, pos - 1)) pos -= 1
      if (pos < k) {
        val last = math.min(n, k - 1)
        var i = last
        while (i > pos) { ids(i) = ids(i - 1); scores(i) = scores(i - 1); i -= 1 }
        ids(pos) = id
        scores(pos) = score
        if (n < k) n += 1
      }
    }
  }

  /** [[TopKAggregator]] as a NATIVE `TypedImperativeAggregate` — the
    * same bounded-buffer semantics (at most k rows per (map partition,
    * group) cross the shuffle; ties break score desc then id asc) with
    * no typed-encoder boundary: the serving plan stays expression-only
    * (HashAggregate/ObjectHashAggregate + generate), where the
    * `Dataset.groupByKey` form inserts DeserializeToObject/
    * SerializeFromObject walls that block whole-stage codegen and
    * re-materialize every aggregated row as a Scala tuple. Output is
    * the best-first array<struct<id, score>>; decode rank as
    * posexplode position + 1.
    */
  case class TopKScoredAgg(
      left: Expression,
      right: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKBuf]
      with ExpectsInputTypes with BinaryLike[Expression] {

    require(k >= 1, s"k must be >= 1, got $k")

    override def prettyName: String = "top_k_scored"
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false))),
      containsNull = false)
    override def inputTypes: Seq[DataType] = Seq(LongType, DoubleType)

    override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

    override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
      val id = left.eval(input)
      val score = right.eval(input)
      if (id != null && score != null)
        buf.insert(id.asInstanceOf[Long], score.asInstanceOf[Double])
      buf
    }

    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      var i = 0
      while (i < b.n) { a.insert(b.ids(i), b.scores(i)); i += 1 }
      a
    }

    override def eval(buf: TopKBuf): Any = {
      val out = new Array[AnyRef](buf.n)
      var i = 0
      while (i < buf.n) {
        out(i) = new GenericInternalRow(
          Array[Any](buf.ids(i), buf.scores(i)))
        i += 1
      }
      new GenericArrayData(out)
    }

    override def serialize(buf: TopKBuf): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(buf.n)
      var i = 0
      while (i < buf.n) {
        out.writeLong(buf.ids(i))
        out.writeDouble(buf.scores(i))
        i += 1
      }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): TopKBuf = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val buf = new TopKBuf(k)
      var i = 0
      // entries arrive best-first (serialize preserves buffer order),
      // so each insert lands at the tail: O(n), order preserved
      while (i < n) { buf.insert(in.readLong(), in.readDouble()); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(n: Int): TopKScoredAgg =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): TopKScoredAgg =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): TopKScoredAgg =
      copy(left = l, right = r)
  }

  /** The native bounded top-k as an aggregate Column:
    * array<struct<id, score>>, best-first (score desc, id asc).
    */
  def topKScored(id: Column, score: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKScoredAgg(
        GraftColumnBridge.expression(id),
        GraftColumnBridge.expression(score), k).toAggregateExpression())
}
