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
  * The same pass, which also builds the registered forms swapped out
  * above, checks that building the fleet leaves the caller's session as
  * it found it: the function registry (kernels reach plans
  * as columns, never through registered names), the runtime SQL conf
  * (no catalog registrations, no set/restore windows) and the temp
  * views (catalog queries and stream sinks keep theirs on a cloned
  * session).
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
    val confBefore = s.conf.getAll
    val viewsBefore = s.sessionState.catalog.getTempViewNames().toSet
    val bad = all.flatMap { case (name, fn) =>
      val plan =
        try fn(s, TestSpark.sf).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      s.sharedState.cacheManager.clearCache()
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(bad.isEmpty, s"queries planning CartesianProduct: ${bad.mkString(", ")}")
    // the registered forms the guard swapped for un-staged builders (the
    // stream_* ones run a real stream) are built too, for the hygiene check
    SparkEntry.queries.filter { case (name, _) => PlanOnly.builders.contains(name) }.foreach {
      case (_, fn) => fn(s, TestSpark.sf); s.sharedState.cacheManager.clearCache()
    }
    val after = builders()
    val changed = (before.keySet ++ after.keySet).filterNot(f =>
      before.get(f).exists(b => after.get(f).exists(_ eq b)))
    val confAfter = s.conf.getAll
    val confChanged = (confBefore.keySet ++ confAfter.keySet)
      .filterNot(k => confBefore.get(k) == confAfter.get(k))
    val viewsAfter = s.sessionState.catalog.getTempViewNames().toSet
    val viewsChanged = (viewsBefore ++ viewsAfter) -- (viewsBefore intersect viewsAfter)
    val leaks = Seq(
      "function registry entries" -> changed,
      "session conf keys" -> confChanged,
      "temp views" -> viewsChanged
    ).collect { case (what, ks) if ks.nonEmpty =>
      s"$what: ${ks.toSeq.map(_.toString).sorted.mkString(", ")}"
    }
    assert(leaks.isEmpty, s"building the fleet changed the session's ${leaks.mkString("; ")}")
  }
}
