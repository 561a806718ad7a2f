package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  test("fanOut passes a frame with no file leaves through unchanged") {
    // a localCheckpoint'ed frame has no inputFiles: there is no split
    // count to fix, and a repartition would only add a full-row shuffle
    val df = s.range(0, 1000).selectExpr("id", "id % 7 AS m").localCheckpoint()
    val out = Tables.fanOut(df)
    val exchanges = out.queryExecution.sparkPlan.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.isEmpty, s"fanOut added an Exchange:\n${out.queryExecution.sparkPlan}")
    assert(out.collect().length == 1000)
  }

  test("table reads take the inferred schema from one footer and start no job") {
    val sf01 = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
    val tmp = java.nio.file.Files.createTempDirectory("tables_footer").toString
    s.range(0, 100).selectExpr("id", "CAST(id AS STRING) AS s", "timestamp_micros(id) AS ts")
      .repartition(3).write.mode("overwrite").parquet(s"$tmp/t.parquet")
    for ((d, names) <- Seq(sf01 -> Tables.names, tmp -> Seq("t")); n <- names)
      assert(Tables(s, d, n).schema == s.read.parquet(s"$d/$n.parquet").schema, s"$d/$n")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      Tables.documents(s, sf01)
      org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"building Tables.documents ran ${jobs.get()} jobs")
  }
}
