package graft

import org.scalatest.funsuite.AnyFunSuite

/** One invariant over EVERY registered query's physical plan: no
  * CartesianProduct, anywhere, ever. Every join in this engine is
  * either keyed (hash/sort-merge on an equi-key) or an explicit
  * `broadcast()` of a provably small side (which plans as
  * BroadcastHashJoin or, for singleton/cross shapes,
  * BroadcastNestedLoopJoin — bounded by the broadcast side's size).
  * A CartesianProduct means a join lost its keys or its broadcast
  * hint somewhere in a refactor; at corpus scale that is a
  * corpus²-row stage. Catching it here costs one planning pass per
  * query and no execution.
  *
  * Per-query audits in PlanAuditSpec pin stronger, shape-specific
  * properties (exchange payloads, broadcast directions, no-Window);
  * this spec is the fleet-wide floor. */
class GlobalPlanInvariantSpec extends AnyFunSuite {
  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name plans without a CartesianProduct") {
      val p = SparkTestSession.frame(name).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name planned a cartesian join:\n$p")
    }
  }
}
