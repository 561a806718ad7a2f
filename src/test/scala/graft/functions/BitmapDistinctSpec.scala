package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BitmapDistinctSpec extends AnyFunSuite {

  test("bitmap_distinct equals count(distinct) across partitions (exercises serialize/merge)") {
    val s = TestSpark.spark
    import s.implicits._
    val df = (1 to 100000).map(i => (i % 7, (i % 3571).toLong)).toDF("g", "k")
      .repartition(8) // force partial buffers + merge path
    val got = df.groupBy("g")
      .agg(BitmapDistinct.column(col("k")).as("bd"),
        countDistinct(col("k")).as("cd"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(1) == r.getLong(2), s"group ${r.getInt(0)}"))
  }

  test("bitmap_distinct handles negative and large long keys") {
    val s = TestSpark.spark
    import s.implicits._
    val df = Seq(-1L, -1L, Long.MaxValue, Long.MinValue, 0L, 0L).toDF("k")
    val n = df.agg(BitmapDistinct.column(col("k"))).collect()(0).getLong(0)
    assert(n == 4L)
  }
}
