package graft.relational

import graft.TestSpark
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Partial}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** B17b contract: the histogram form is the sort-based percentile, at
  * distinct-value cost — identical output, and no corpus-sized sort.
  */
class QuantileHistSpec extends AnyFunSuite {

  test("histogram quantiles equal the sort-based percentile() exactly") {
    val s = TestSpark.spark
    val sortBased = Relational.qPercentile(s, TestSpark.sf).collect()
    val histBased = Relational.qQuantileHist(s, TestSpark.sf).collect()
    assert(histBased.length == sortBased.length && histBased.length > 0)
    sortBased.zip(histBased).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      // qty quantiles at quarter fractions over integer values are dyadic
      // rationals: both engines must produce them BIT-exactly.
      for (i <- 1 to 3) assert(a.getDouble(i) == b.getDouble(i),
        s"${a.getString(0)} col $i: ${a.getDouble(i)} vs ${b.getDouble(i)}")
      assert(a.getDouble(4) == b.getDouble(4),
        s"${a.getString(0)} p90: ${a.getDouble(4)} vs ${b.getDouble(4)}")
    }
  }

  test("only the histogram is sorted — no Sort below the value-count aggregate, which combines map-side") {
    val s = TestSpark.spark
    val plan = Relational.qQuantileHist(s, TestSpark.sf).queryExecution.executedPlan
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def isValueCount(h: HashAggregateExec, mode: AggregateMode): Boolean =
      h.groupingExpressions.map(_.name).toSet == Set("flag", "metric", "v") &&
        h.aggregateExpressions.nonEmpty && h.aggregateExpressions.forall(_.mode == mode)
    // the value-count aggregate: the final count per (flag, metric, v)
    val finals = root.collect { case h: HashAggregateExec if isValueCount(h, Final) => h }
    assert(finals.size == 1, s"expected one final value-count aggregate:\n$plan")
    val valueCount = finals.head
    assert(valueCount.collect { case f: FileSourceScanExec => f }.nonEmpty,
      s"value-count aggregate does not read the scan:\n$plan")
    // fanOut may put a repartition between the scan and the aggregate;
    // a corpus-sized Sort anywhere on that path is the regression
    assert(valueCount.collect { case x: SortExec => x }.isEmpty,
      s"Sort between the scan and the value-count aggregate:\n$plan")
    // its own Exchange carries partial counts, not rows
    val ownExchange = valueCount.child match {
      case e: ShuffleExchangeExec => e
      case other => fail(s"value-count aggregate reads ${other.nodeName}, not its Exchange:\n$plan")
    }
    assert(ownExchange.child.collectFirst { case h: HashAggregateExec if isValueCount(h, Partial) => h }
      .exists(_ eq ownExchange.child),
      s"no partial HashAggregate directly below the value-count Exchange:\n$plan")
  }
}
