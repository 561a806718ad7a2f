package graft

import org.scalatest.funsuite.AnyFunSuite

/** Blanket plan guard over EVERY registered query: nothing may plan a
  * `CartesianProduct` — the one operator shape that is never survivable
  * at fact scale. Per-query PlanSpec pins assert the positive properties
  * (pushdown, broadcasts, top-k forms); this spec is the fleet-wide
  * negative guard, so a future edit that silently degrades any of the
  * 150+ queries into a cartesian fails CI by name.
  *
  * `crossJoin(broadcast(...))` against 1-row/broadcast-sized frames
  * plans as BroadcastNestedLoopJoin, not CartesianProduct, and stays
  * allowed — the guard bans only the shuffled all-pairs product.
  *
  * The same pass checks that building the fleet leaves the session
  * function registry untouched: kernels reach plans as columns, never
  * through registered names.
  */
class AllPlansSpec extends AnyFunSuite {

  test("no registered query plans a CartesianProduct (sf0.001)") {
    val s = TestSpark.spark
    // For queries that eagerly localCheckpoint, the registered form hides
    // the pre-checkpoint subtree behind Scan ExistingRDD — guard the
    // PlanOnly un-staged builder instead, so the WHOLE tree is checked.
    val all = (SparkEntry.queries ++ PlanOnly.builders).toSeq.sortBy(_._1)
    val registry = s.sessionState.functionRegistry
    def builders() =
      registry.listFunction().flatMap(f => registry.lookupFunctionBuilder(f).map(f -> _)).toMap
    val before = builders()
    val bad = all.flatMap { case (name, fn) =>
      val plan =
        try fn(s, TestSpark.sf).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      s.sharedState.cacheManager.clearCache()
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(bad.isEmpty, s"queries planning CartesianProduct: ${bad.mkString(", ")}")
    val after = builders()
    val changed = (before.keySet ++ after.keySet).filterNot(f =>
      before.get(f).exists(b => after.get(f).exists(_ eq b)))
    assert(changed.isEmpty, s"function registry changed by building the fleet: ${changed.mkString(", ")}")
  }
}
