package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanAudit

/** `PlanAudit --full` prints a plan two runs of one commit print alike,
  * so plan identity across commits is a plain `diff`.
  */
class PlanAuditSpec extends AnyFunSuite {

  test("normalized replaces ids, plan ids, stage numbers, identity " +
      "hashes and stream temp dirs, and nothing else") {
    def plan(expr: Int, planId: Int, stage: Int, hash: String, dir: Long) =
      s"""AdaptiveSparkPlan isFinalPlan=true
         |+- *(2) HashAggregate(keys=[id#${expr}L], functions=[count(1)])
         |   +- AQEShuffleRead coalesced
         |      +- ShuffleQueryStage $stage
         |         +- Exchange hashpartitioning(id#${expr}L, 4), ENSURE_REQUIREMENTS, [plan_id=$planId]
         |            +- BroadcastQueryStage ${stage + 1}
         |               +- Project [nearestcells(cv#${expr + 1}, [I@$hash, 3) AS c#${expr + 2}]
         |                  +- FileScan parquet [id#${expr}L] Location: /tmp/graft_stream_gate_$dir/graft_stream_sink_${dir + 7}, PushedFilters: [IsNotNull(id)]
         |""".stripMargin
    val a = plan(12, 40, 3, "10b9956a", 8123456789L)
    val b = plan(907, 311, 19, "7f3e2", 55L)
    assert(a != b)
    assert(PlanAudit.normalized(a) == PlanAudit.normalized(b))
    val n = PlanAudit.normalized(a)
    Seq("keys=[id#N]", "plan_id=N", "ShuffleQueryStage N", "BroadcastQueryStage N",
      "[I@N", "graft_stream_gate_N/graft_stream_sink_N", "*(2) HashAggregate",
      "hashpartitioning(id#N, 4)", "PushedFilters: [IsNotNull(id)]")
      .foreach(t => assert(n.contains(t), s"missing '$t' in\n$n"))
    // a different plan stays different
    assert(PlanAudit.normalized(a.replace("count(1)", "sum(1)")) != n)
  }
}
