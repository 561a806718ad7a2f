package graft.etl

import graft.{Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

class LanesSpec extends AnyFunSuite {

  test("jobs run under the flow's scheduler pool and the property is restored") {
    val s = TestSpark.spark
    val n = Lanes.runInLane(s, flow = 5) {
      assert(s.sparkContext.getLocalProperty("spark.scheduler.pool") == "human_variation")
      Tables.nation(s, TestSpark.sf).count()
    }
    assert(n == 25L)
    assert(s.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
    // unknown flows fall back to the basic lane
    Lanes.runInLane(s, flow = 99) {
      assert(s.sparkContext.getLocalProperty("spark.scheduler.pool") == "basic")
    }
  }

  test("a nested lane restores the enclosing lane's pool, not the default") {
    val s = TestSpark.spark
    val pool = "spark.scheduler.pool"
    Lanes.runInLane(s, flow = 2) {
      Lanes.runInLane(s, flow = 4) {
        assert(s.sparkContext.getLocalProperty(pool) == "highest")
      }
      assert(s.sparkContext.getLocalProperty(pool) == "basic")
    }
    assert(s.sparkContext.getLocalProperty(pool) == null)
  }
}
