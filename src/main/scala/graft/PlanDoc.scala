package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the physical plan of every query with a `doc`
  * position in [[SparkEntry.registry]], in that order. Queries that
  * eagerly localCheckpoint would document only a Scan ExistingRDD, so
  * their un-staged [[PlanOnly]] builders are documented instead.
  *
  * Usage: runMain graft.PlanDoc (run from the repo root)
  */
object PlanDoc {
  val names: Seq[String] =
    SparkEntry.registry.filter(_.doc > 0).sortBy(_.doc).map(_.name)

  def main(a: Array[String]): Unit = {
    val s = GraftSession("plandoc", "4")
    val d = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries (sf0.01)\n\n")
    sb.append("Generated by `graft.PlanDoc`; regenerate after operator changes.\n")
    names.foreach { n =>
      val fn = PlanOnly.builders.getOrElse(n, SparkEntry.queries(n))
      val p = fn(s, d).queryExecution.executedPlan.toString
      sb.append(s"\n## $n\n\n```\n").append(p.take(4000)).append("```\n")
      // some queries persist intermediates at plan time — drop per query
      s.sharedState.cacheManager.clearCache()
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    s.stop()
  }
}
