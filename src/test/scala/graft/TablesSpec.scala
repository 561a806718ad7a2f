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
}
