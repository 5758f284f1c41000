package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Alignment scalar functions re-derived from the reference's gene-tree
  * decoration (`search/genetree_adder.js:8-47` CIGAR expansion,
  * `search/genetree_adder.js:49-78` percent identity) as NATIVE Catalyst
  * expressions: `doGenCode` emits a static call, so both stay inside
  * whole-stage codegen — these run once per tree leaf across the whole
  * corpus, exactly the hot path where a Scala UDF's ser/de overhead
  * would show up.
  */
object Genomics {

  /** Expand a run-length CIGAR against a sequence: `M` runs copy
    * characters from the sequence, `D` runs insert `-` gaps. A bare
    * letter means run length 1 (as in the reference's split-regex
    * parse). Returns null for malformed CIGARs (non-digit/M/D chars or
    * sequence exhausted).
    */
  def cigarExpandImpl(cigar: UTF8String, seq: UTF8String): UTF8String = {
    val c = cigar.toString
    val s = seq.toString
    val out = new java.lang.StringBuilder(c.length + s.length)
    var i = 0
    var si = 0
    var run = 0
    while (i < c.length) {
      val ch = c.charAt(i)
      if (ch >= '0' && ch <= '9') {
        run = run * 10 + (ch - '0')
      } else if (ch == 'M') {
        val n = if (run == 0) 1 else run
        if (si + n > s.length) return null
        out.append(s, si, si + n)
        si += n
        run = 0
      } else if (ch == 'D') {
        val n = if (run == 0) 1 else run
        var k = 0
        while (k < n) { out.append('-'); k += 1 }
        run = 0
      } else {
        return null
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }

  /** Percent identity of two aligned sequences: matching positions over
    * positions where NEITHER side is a gap (`-`), 0.0 when no such
    * position exists. Compares up to the shorter length.
    */
  def percentIdentityImpl(a: UTF8String, b: UTF8String): Double = {
    val x = a.toString
    val y = b.toString
    val n = math.min(x.length, y.length)
    var i = 0
    var total = 0
    var matches = 0
    while (i < n) {
      val cx = x.charAt(i)
      val cy = y.charAt(i)
      if (cx != '-' && cy != '-') {
        total += 1
        if (cx == cy) matches += 1
      }
      i += 1
    }
    if (total == 0) 0.0 else matches.toDouble / total
  }

  case class CigarExpand(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
    override protected def nullSafeEval(c: Any, s: Any): Any =
      cigarExpandImpl(c.asInstanceOf[UTF8String], s.asInstanceOf[UTF8String])
    override def nullable: Boolean = true
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, s) => s"""
        ${ev.value} = graft.functions.Genomics.cigarExpandImpl($c, $s);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  case class PercentIdentity(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
    override protected def nullSafeEval(a: Any, b: Any): Any =
      percentIdentityImpl(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Genomics.percentIdentityImpl($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  def cigarExpand(cigar: Column, seq: Column): Column =
    GraftColumnBridge.column(CigarExpand(
      GraftColumnBridge.expression(cigar), GraftColumnBridge.expression(seq)))

  def percentIdentity(a: Column, b: Column): Column =
    GraftColumnBridge.column(PercentIdentity(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
