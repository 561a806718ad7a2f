package graft

/** Benchmark main: runs the headline queries (SURVEY.md §6) against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Per VERDICT r1: failures are recorded (value -1 + `failed` list), the
  * sink is a full-width noop write so Catalyst can't prune the measured
  * work down to a count(*), and `run / outputStrategy := StdoutOutput`
  * keeps the line clean of sbt log prefixes.
  */
object Bench {
  /** The gate set, in sweep order: the relational core, every scale-path
    * LLM-data operator, and the streaming / JDBC / snapshot / catalog
    * executions, which pay real stream-startup and commit-protocol
    * overhead on top of the operator (a state-store or commit-path
    * regression shows up there and nowhere else). Derived from the
    * `bench` positions in [[SparkEntry.registry]].
    */
  val headline: Seq[String] =
    SparkEntry.registry.filter(_.bench > 0).sortBy(_.bench).map(_.name)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // args = optional query-name subset (noise-envelope re-measures of a
    // single query without paying the full sweep); no args = the gate set
    val headline = if (args.nonEmpty) args.toSeq else Bench.headline
    val spark = GraftSession("graft-bench")
    // One untimed warmup so the first timed query doesn't absorb JVM/codegen
    // startup (~5s) that belongs to the session, not the operator.
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // n full sweeps, best-of per query: this box carries standing
    // background load with ±15%+ run-to-run noise (BASELINE.md), so a
    // single sample can neither confirm nor clear a 20% drift (VERDICT r4)
    val sweeps = (1 to runs).map { _ =>
      headline.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        // drop per-query persisted intermediates (outside the timed window;
        // each query's persist is consumed within its own execution)
        spark.sharedState.cacheManager.clearCache()
        (name, if (ok) sec else -1.0, ok)
      }
    }
    val results = headline.map { name =>
      val samples = sweeps.map(_.find(_._1 == name).get)
      val oks = samples.filter(_._3)
      if (oks.nonEmpty) (name, oks.map(_._2).min, true) else (name, -1.0, false)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val failed = results.filterNot(_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = f"${results.filter(_._3).map(_._2).sum}%.3f"
    // full per-sweep samples on request — best-of hides the envelope a
    // regression investigation needs
    val samples = if (sys.env.contains("SPARK_GRAFT_BENCH_ALL_SAMPLES"))
      headline.map { name =>
        val xs = sweeps.map(_.find(_._1 == name).get._2)
        "\"" + name + "\":[" + xs.map(v => f"$v%.3f").mkString(",") + "]"
      }.mkString(""","samples":{""", ",", "}")
    else ""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"runs":$runs$samples,"sf":"$sfDir"}""")
    spark.stop()
  }
}
