package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampType}

/** Sort-merge BACKWARD AS-OF JOIN as a first-class planner citizen —
  * the custom-strategy upgrade path declared in q39's docstring. Every
  * left row pairs with the LATEST right row whose time is at-or-before
  * its own, on equal keys (the reference's "most recent error before
  * this purchase" decoration; pandas `merge_asof` semantics,
  * inclusive).
  *
  * Why a custom operator: Catalyst has no as-of node — the stock
  * options are a range join + per-key argmax (two shuffles of the big
  * side + an aggregation whose input is the match blow-up) or the
  * union+window trick (one shuffle of the UNION of both sides, q39).
  * This node declares `ClusteredDistribution` on the keys and a
  * (keys, time) sort for BOTH children, so EnsureRequirements plans
  * exactly one exchange per side (AQE-sized), reuses any existing
  * co-partitioning, and the merge itself is a single forward pass per
  * partition — no blow-up, no window buffer, monotone pointers, O(1)
  * state beyond one retained match row.
  *
  * Time columns must be integral (long/int/timestamp-micros) and
  * non-null; key equality is exact (null keys group like SMJ's
  * natural ordering).
  *
  * Measured regime (NOTES_r7.md): this node wins
  * steady-state from ~2 M left rows up (0.85 vs 1.31 s at 2 M×400 k,
  * 1.94 vs 2.14 s at 20 M×4 M) and the gap WIDENS with right-payload
  * width (1.98 vs 3.27 s at 8 payload columns — union+window pays one
  * `last(_, ignoreNulls)` window column per payload column, this
  * node's merge is width-independent). Below ~1 M joined rows fixed
  * costs dominate and the one-stage union+window plan (q39's shape)
  * is cheaper — prefer it for small interactive joins.
  */
object AsofJoin {

  /** Logical node. `output` = left columns ++ right columns (right side
    * nullable: unmatched left rows emit nulls).
    */
  case class AsofJoinPlan(
      left: LogicalPlan,
      right: LogicalPlan,
      leftKeys: Seq[Expression],
      rightKeys: Seq[Expression],
      leftTime: Expression,
      rightTime: Expression)
    extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
      copy(left = newLeft, right = newRight)
  }

  object AsofJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsofJoinPlan(l, r, lk, rk, lt, rt) =>
        AsofJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  /** The user-facing API: backward as-of join on equal keys.
    * Right-side column names must not collide with left-side ones
    * (rename before joining, exactly like any equi-join).
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String): DataFrame = {
    require(leftKeys.length == rightKeys.length, "key arity mismatch")
    val dup = left.columns.toSet intersect right.columns.toSet
    require(dup.isEmpty, s"ambiguous columns across sides: $dup — rename first")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(",")}"))
    org.apache.spark.sql.classic.GraftColumnBridge.ofRows(
      left.sparkSession,
      AsofJoinPlan(
        lPlan, rPlan,
        leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
        attr(lPlan, leftTime), attr(rPlan, rightTime)))
  }

  /** FORWARD as-of join on equal keys: every left row pairs with the
    * EARLIEST right row whose time is at-or-after its own (pandas
    * `merge_asof(direction='forward')`). Implemented by time negation
    * through the same sort-merge node — forward on t is backward on
    * −t — so the plan is still one exchange + sort per side. Time
    * columns must be long/int (timestamps: convert to epoch micros
    * first; negation has no timestamp form).
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ln = "__graft_neg_lt"
    val rn = "__graft_neg_rt"
    backward(
      left.withColumn(ln, -col(leftTime)),
      right.withColumn(rn, -col(rightTime)),
      leftKeys, rightKeys, ln, rn)
      .drop(ln, rn)
  }

  /** Backward as-of with a TOLERANCE (pandas `merge_asof(tolerance=…)`):
    * the latest at-or-before match counts only within `tolerance` time
    * units; staler matches null out (the row is kept). Exact by
    * construction: the unrestricted latest match is the latest within
    * the window whenever one exists, so nulling it when it falls
    * outside is precisely the tolerance semantics.
    */
  def backwardWithin(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(tolerance >= 0, "tolerance must be non-negative")
    val joined = backward(left, right, leftKeys, rightKeys, leftTime, rightTime)
    val inWindow = col(rightTime).isNotNull &&
      col(leftTime).cast("long") - col(rightTime).cast("long") <= tolerance
    val rightCols = right.columns.toSet
    joined.select(joined.columns.map { c =>
      if (rightCols(c))
        when(inWindow, col(c)).otherwise(lit(null).cast(joined.schema(c).dataType)).as(c)
      else col(c)
    }.toIndexedSeq: _*)
  }

  /** Physical sort-merge as-of. Children arrive hash-clustered on the
    * keys and sorted by (keys, time) — Spark inserts the exchanges and
    * sorts; `zipPartitions` then streams both sides once.
    */
  case class AsofJoinExec(
      leftKeys: Seq[Expression],
      rightKeys: Seq[Expression],
      leftTime: Expression,
      rightTime: Expression,
      left: SparkPlan,
      right: SparkPlan)
    extends BinaryExecNode with CodegenSupport {

    require(
      Seq(leftTime, rightTime).forall(t =>
        t.dataType == LongType || t.dataType == IntegerType ||
          t.dataType == TimestampType),
      s"as-of time must be integral, got ${leftTime.dataType}/${rightTime.dataType}")

    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
      rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

    override def outputOrdering: Seq[SortOrder] =
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

    // rows stay exactly where the left child's exchange put them, so a
    // downstream groupBy/join on the same keys reuses the partitioning
    // instead of re-shuffling (the left-outer shape: right side is
    // nullable, only left partitioning survives)
    override def outputPartitioning =
      left.outputPartitioning

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
      copy(left = newLeft, right = newRight)

    protected override def doExecute(): RDD[InternalRow] = {
      val keyTypes = leftKeys.map(_.dataType)
      val nRight = right.output.size
      left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
        val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
        val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        // primitive time accessors: attribute times bind to a
        // BoundReference, so the hot merge loop reads getLong/getInt
        // straight off the row — no per-row Number boxing (the eval
        // path stays as the fallback for computed time expressions)
        def timeGetter(e: Expression, schema: Seq[Attribute]): InternalRow => Long =
          BindReferences.bindReference(e, schema) match {
            case b: BoundReference
                if b.dataType == LongType || b.dataType == TimestampType =>
              row => row.getLong(b.ordinal)
            case b: BoundReference if b.dataType == IntegerType =>
              row => row.getInt(b.ordinal).toLong
            case other =>
              row => other.eval(row).asInstanceOf[Number].longValue()
          }
        val lTimeOf = timeGetter(leftTime, left.output)
        val rTimeOf = timeGetter(rightTime, right.output)

        val rBuf = rIt.buffered
        val joined = new JoinedRow
        val nullRight = new GenericInternalRow(nRight)
        // one retained candidate: the latest right row (and its key)
        // whose time was <= some already-seen left time for its key
        var matchRow: InternalRow = null
        var matchKey: UnsafeRow = null

        lIt.map { lRow =>
          val lKey = lKeyProj(lRow)
          val lT = lTimeOf(lRow)
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rKey = rKeyProj(rBuf.head)
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) rBuf.next() // right behind on keys: skip ahead
            else if (c == 0 && rTimeOf(rBuf.head) <= lT) {
              matchRow = rBuf.next().copy()
              matchKey = rKey.copy()
            } else advancing = false
          }
          val hit = matchRow != null && keyOrd.compare(matchKey, lKey) == 0
          joined(lRow, if (hit) matchRow else nullRight)
        }
      }
    }

    // ----- whole-stage codegen: the same merge loop, fused into the
    // stage so the downstream projection/filter consumes primitive
    // variables instead of a JoinedRow (the interpreted path above
    // stays as the codegen-disabled fallback). Shape follows
    // SortMergeJoinExec: both sorted children arrive as input
    // iterators, the node is the stage's produce root.

    override def inputRDDs(): Seq[RDD[InternalRow]] =
      left.execute() :: right.execute() :: Nil

    // matchRow's buffer backs the emitted right-side values until the
    // next match replaces it — parents that buffer rows must copy
    override def needCopyResult: Boolean = true

    // the produce loop guards on `limitNotReachedCond`, which Spark only
    // permits for leaf/blocking nodes unless the node opts in. Both
    // children are fully sorted/materialized inputs here, so checking
    // the limit early is safe — the same justification (and override)
    // as SortMergeJoinExec. Without it Spark logs a "[BUG]" WARN per
    // codegen'd run and THROWS under spark.testing.
    override def canCheckLimitNotReached: Boolean = true

    /** Per-key comparison with the interpreted path's natural-ordering
      * null semantics: nulls first, null == null. Writes into `comp`.
      */
    private def genKeyCompare(
        ctx: CodegenContext,
        a: Seq[ExprCode], b: Seq[ExprCode], comp: String): String =
      leftKeys.map(_.dataType).zipWithIndex.map { case (dt, i) =>
        s"""
           |if ($comp == 0) {
           |  if (${a(i).isNull} && ${b(i).isNull}) { $comp = 0; }
           |  else if (${a(i).isNull}) { $comp = -1; }
           |  else if (${b(i).isNull}) { $comp = 1; }
           |  else { $comp = ${ctx.genComp(dt, a(i).value.code, b(i).value.code)}; }
           |}
         """.stripMargin
      }.mkString("\n")

    /** Evaluate `exprs` against the row variable `row` (bound to
      * `schema`), emitting the accessor code at the call site.
      */
    private def genRowVars(
        ctx: CodegenContext,
        exprs: Seq[Expression],
        schema: Seq[Attribute],
        row: String): Seq[ExprCode] = {
      ctx.INPUT_ROW = row
      ctx.currentVars = null
      exprs.map(BindReferences.bindReference(_, schema).genCode(ctx))
    }

    protected override def doProduce(ctx: CodegenContext): String = {
      val leftInput = ctx.addMutableState(
        "scala.collection.Iterator", "asofLeftInput", v => s"$v = inputs[0];")
      val rightInput = ctx.addMutableState(
        "scala.collection.Iterator", "asofRightInput", v => s"$v = inputs[1];")
      val leftRow = ctx.addMutableState("InternalRow", "asofLeftRow")
      val rHead = ctx.addMutableState("InternalRow", "asofRightHead")
      val matchRow = ctx.addMutableState("InternalRow", "asofMatchRow")

      val lKeyVars = genRowVars(ctx, leftKeys, left.output, leftRow)
      val lTimeVar = genRowVars(ctx, Seq(leftTime), left.output, leftRow).head
      val rKeyVars = genRowVars(ctx, rightKeys, right.output, rHead)
      val rTimeVar = genRowVars(ctx, Seq(rightTime), right.output, rHead).head
      val mKeyVars = genRowVars(ctx, rightKeys, right.output, matchRow)
      // output-side left vars: plain bound accessors off the left row
      val leftVars = genRowVars(ctx, left.output, left.output, leftRow)

      val lT = ctx.freshName("asofLeftT")
      val comp = ctx.freshName("asofComp")
      val mcomp = ctx.freshName("asofMatchComp")
      val advancing = ctx.freshName("asofAdvancing")
      val hit = ctx.freshName("asofHit")

      // right output vars: null unless this left row's retained match
      // hits; values read straight off the copied match row
      val rightVars = right.output.zipWithIndex.map { case (a, i) =>
        val isNull = ctx.freshName("asofRNull")
        val value = ctx.freshName("asofRVal")
        val decl =
          code"""
             |boolean $isNull = true;
             |${CodeGenerator.javaType(a.dataType)} $value =
             |  ${CodeGenerator.defaultValue(a.dataType)};
             |if ($hit) {
             |  $isNull = $matchRow.isNullAt($i);
             |  if (!$isNull) {
             |    $value = ${CodeGenerator.getValue(matchRow, a.dataType, i.toString)};
             |  }
             |}
           """.stripMargin
        ExprCode(decl, JavaCode.isNullVariable(isNull),
          JavaCode.variable(value, a.dataType))
      }

      s"""
         |while ($limitNotReachedCond $leftInput.hasNext()) {
         |  $leftRow = (InternalRow) $leftInput.next();
         |  ${lKeyVars.map(_.code).mkString("\n")}
         |  ${lTimeVar.code}
         |  long $lT = ${lTimeVar.value};
         |  boolean $advancing = true;
         |  while ($advancing) {
         |    if ($rHead == null) {
         |      if (!$rightInput.hasNext()) break;
         |      $rHead = (InternalRow) $rightInput.next();
         |    }
         |    ${rKeyVars.map(_.code).mkString("\n")}
         |    int $comp = 0;
         |    ${genKeyCompare(ctx, rKeyVars, lKeyVars, comp)}
         |    if ($comp < 0) {
         |      $rHead = null; // right behind on keys: skip ahead
         |    } else if ($comp == 0) {
         |      ${rTimeVar.code}
         |      if ((long) ${rTimeVar.value} <= $lT) {
         |        $matchRow = $rHead.copy();
         |        $rHead = null;
         |      } else {
         |        $advancing = false;
         |      }
         |    } else {
         |      $advancing = false;
         |    }
         |  }
         |  boolean $hit = false;
         |  if ($matchRow != null) {
         |    ${mKeyVars.map(_.code).mkString("\n")}
         |    int $mcomp = 0;
         |    ${genKeyCompare(ctx, mKeyVars, lKeyVars, mcomp)}
         |    $hit = ($mcomp == 0);
         |  }
         |  ${consume(ctx, leftVars ++ rightVars)}
         |  if (shouldStop()) return;
         |}
       """.stripMargin
    }
  }
}
