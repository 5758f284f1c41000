package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.Genomics

/** Session-setup wiring for the engine's SQL functions and custom
  * planner paths — registered once at session build time via
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (what
  * [[graft.core.Session]] does), never mutated at query time. Queries
  * that rely on an injected strategy (q40's broadcast interval join,
  * q49's as-of join) degrade gracefully to Catalyst's stock plan when
  * the extension is absent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // the genomics scalars by SQL name: `SELECT cigar_expand(c, s)` …
    def fn(name: String, build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Genomics", name), build))
    fn("cigar_expand", args => Genomics.CigarExpand(args(0), args(1)))
    fn("percent_identity", args => Genomics.PercentIdentity(args(0), args(1)))
    ext.injectPlannerStrategy(_ => graft.plans.BroadcastIntervalJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoin.AsofJoinStrategy)
  }
}
