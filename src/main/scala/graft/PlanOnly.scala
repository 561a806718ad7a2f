package graft

/** Un-staged plan builders for the registered queries that eagerly
  * `localCheckpoint` (their cache lifecycle is self-contained by design):
  * the checkpointed query documents only `Scan ExistingRDD`, hiding the
  * upstream subtree from both PLANS.md and the fleet-wide
  * CartesianProduct guard. Every builder here produces the SAME logical
  * computation with staging disabled, so plan inspection sees the whole
  * tree. Derived from the `plan` fields and plan-only records of
  * [[SparkEntry.registry]]; used by [[PlanDoc]], [[ExplainDump]] and
  * `AllPlansSpec`.
  */
object PlanOnly {
  val builders: Map[String, SparkEntry.Builder] = SparkEntry.registry.flatMap { q =>
    (if (q.planOnly) Some(q.build) else q.plan).map(q.name -> _)
  }.toMap
}
