package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A14: priority lanes — the reference throttles each pipeline stage with
  * `analysis_capacity` and routes prioritised databases into faster lanes
  * (PipeConfig/LoadDBs_conf.pm:108-210; the 2..5 dataflow tiers from
  * Prioritise). Spark's native analog is FAIR scheduler pools: jobs
  * submitted under a pool share the cluster by pool weight, so a
  * `human_variation` load overtakes the bulk lane without preempting it.
  *
  * Enable with `spark.scheduler.mode=FAIR` (+ an allocation file giving
  * the pools weights) on a real cluster; pool routing itself — shown
  * here — is a thread-local property and works under any mode.
  */
object Lanes {

  /** Same tier names the reference's flow map implies ({0→2,…,3→5}). */
  val poolForFlow: Map[Int, String] = Map(
    2 -> "basic", 3 -> "high", 4 -> "highest", 5 -> "human_variation")

  /** Run `body`'s Spark jobs inside the lane for `flow`, then put back
    * the caller's pool (a lane nested in another returns to the outer one).
    */
  def runInLane[T](s: SparkSession, flow: Int)(body: => T): T = {
    val sc = s.sparkContext
    val outer = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", poolForFlow.getOrElse(flow, "basic"))
    try body
    finally sc.setLocalProperty("spark.scheduler.pool", outer)
  }

  /** A14 query (r5, oracle-checked): the lane ROUTING — every discovered
    * db through priority scoring to its scheduler pool. The pool
    * assignment is the computable half of the reference's capacity
    * tiers (LoadDBs_conf.pm:108-210); the runtime half (jobs actually
    * running under the pool) is exercised by LanesSpec via runInLane.
    */
  def lanesQuery(s: SparkSession, d: String): DataFrame =
    Discovery.prioritise(s, d)
      .select(col("db"), col("flow"),
        element_at(typedlit(poolForFlow), col("flow").cast("int")).as("pool"))
      .orderBy("db")

  /** A20: semaphored-funnel state — eHive's `'2->A' => [download],
    * 'A->1' => [Notify]` contract (LoadDBs_conf.pm:119-122): the funnel
    * job holds a semaphore counting its unfinished fan jobs and runs only
    * when the count reaches zero; FAILED fan jobs keep holding it (eHive
    * only decrements on DONE), and `failed_job_tolerance` (=10%,
    * LoadDBs_conf.pm:133) marks how much failure the analysis tolerates
    * before it is flagged. One aggregation over the same derived jobs
    * relation as A11's summary: per-db fan size, done/failed counts, the
    * live semaphore count, release state and tolerance state.
    */
  def semaphores(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(concat(lit("db_"), col("user_id") % 20).as("db"),
        when(col("value") < 0.2, "FAILED").otherwise("DONE").as("status"))
      .groupBy("db")
      .agg(count(lit(1)).as("n_fan"),
        count(when(col("status") === "DONE", 1)).as("n_done"),
        count(when(col("status") === "FAILED", 1)).as("n_failed"))
      .select(col("db"), col("n_fan"), col("n_done"), col("n_failed"),
        (col("n_fan") - col("n_done")).as("sema_count"),
        (col("n_fan") === col("n_done")).as("released"),
        (expr("n_failed * 100 DIV n_fan") <= 10).as("within_tolerance"))
      .orderBy("db")

  /** A21: capacity backpressure as scheduling waves — eHive runs at most
    * `analysis_capacity`/`hive_capacity` jobs of an analysis at once
    * (LoadDBs_conf.pm:132,156-196: download 5, load lanes 4), so a queue
    * of n jobs drains in ⌈n/capacity⌉ waves in submission order. Each
    * job's wave = (per-stage submission rank − 1) DIV capacity + 1 —
    * the queue-depth model a capacity planner needs, and the relational
    * form of the throttle the FAIR pools (A14) apply at runtime.
    * Deterministic tie-break on job_id keeps both engines identical.
    */
  def schedule(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stage").orderBy(col("ts"), col("job_id"))
    graft.Tables.events(s, d)
      .select(col("event_id").as("job_id"), col("event_type").as("stage"), col("ts"))
      .withColumn("capacity", (lit(3) + length(col("stage")) % 3).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("job_id"), col("stage"), col("capacity"), col("rnk"),
        expr("(rnk - 1) DIV capacity + 1").as("wave"))
      .orderBy("job_id")
  }
}
