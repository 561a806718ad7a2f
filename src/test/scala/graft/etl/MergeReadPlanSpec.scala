package graft.etl

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.JavaConverters._

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

/** The merged read's plan does not grow with the table's delete
  * history: every equality tombstone applies through ONE
  * sequence-aware anti-join, and planning reads only the manifest and
  * parquet footers on the driver — no Spark job.
  */
class MergeReadPlanSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** A 200-row base and then `commits` upsert/delete commits: odd ones
    * and the last one upsert, the others delete.
    */
  private def store(commits: Int): Path = {
    val sq = s; import sq.implicits._
    val root = Files.createTempDirectory("graft_mrplan")
    Snapshots.publish(s, root, (0L until 200L).map(k => (k, 0L)).toDF("k", "v"))
    (1 to commits).foreach { i =>
      if (i % 2 == 1 || i == commits)
        Snapshots.publishUpsert(s, root,
          Seq((i.toLong, i.toLong), (i + 300L, i.toLong)).toDF("k", "v"), "k")
      else Snapshots.publishDeletes(s, root, Seq(i * 7L).toDF("k"))
    }
    root
  }

  /** (LeftAnti joins, file scans) of the optimized plan. */
  private def shape(df: DataFrame): (Int, Int) = {
    val p: LogicalPlan = df.queryExecution.optimizedPlan
    (p.collect { case j: Join if j.joinType == LeftAnti => j }.size,
      p.collect { case r: LogicalRelation => r }.size)
  }

  /** Jobs started while `f` runs, counted after the listener bus drains. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
      (r, jobs.get())
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("one anti-join and a constant scan count for 1 and 6 delete commits; planning runs no job") {
    val roots = Seq(1, 6).map(store)
    try {
      val shapes = roots.map { root =>
        val n = Snapshots.currentId(root).get
        val ((at, cdf), jobs) = jobsDuring {
          val at = Snapshots.readAt(s, root, n)
          val cdf = Snapshots.readChangeFeed(s, root, 0, n)
          Seq(at, cdf).foreach(_.queryExecution.executedPlan)
          (at, cdf)
        }
        assert(jobs == 0, s"planning readAt/readChangeFeed at $root ran $jobs Spark job(s)")
        (shape(at), shape(cdf))
      }
      shapes.foreach { case ((atAnti, _), (cdfAnti, _)) =>
        assert(atAnti == 1 && cdfAnti == 1, s"expected one LeftAnti per read: $shapes")
      }
      assert(shapes(0) == shapes(1), s"plan shape grew with the delete history: $shapes")
      // hot files, the tombstones, the newest upsert's pure leg
      assert(shapes(1)._1._2 == 3, s"scans: $shapes")
    } finally roots.foreach(rm)
  }

  test("the tombstone-range memo holds exactly the last read's tombstones") {
    val root = store(12)
    try {
      val tombs = Snapshots.manifest(root, Snapshots.currentId(root).get).filter(Snapshots.isDelete)
      assert(tombs.size == 12) // 5 deletes, 7 upserts
      val ranges = Snapshots.tombstoneRanges(s, root, tombs, "k")
      assert(ranges.size == 12 && ranges.values.forall(_.isDefined), ranges)
      // with the footers gone a re-read would find no range: an answer
      // equal to the first one is served from the memo
      def aside[T](f: => T): T = {
        tombs.foreach(t => Files.move(root.resolve(t.relPath), root.resolve(t.relPath + ".aside")))
        try f finally tombs.foreach(t =>
          Files.move(root.resolve(t.relPath + ".aside"), root.resolve(t.relPath)))
      }
      aside {
        assert(Snapshots.tombstoneRanges(s, root, tombs, "k") == ranges)
        // a read of two tombstones shrinks the slot to those two ...
        assert(Snapshots.tombstoneRanges(s, root, tombs.take(2), "k") ==
          ranges.filter(r => tombs.take(2).exists(_.relPath == r._1)))
        // ... so the other ten are read again, and come back empty
        val again = Snapshots.tombstoneRanges(s, root, tombs, "k")
        assert(tombs.map(t => again(t.relPath).isDefined) ==
          Seq.fill(2)(true) ++ Seq.fill(10)(false), again)
      }
    } finally rm(root)
  }

  test("the footer schema merges like mergeSchema inference, under spark.sql.caseSensitive") {
    val sq = s; import sq.implicits._
    val root = Files.createTempDirectory("graft_mrcase")
    try {
      Snapshots.publish(s, root, Seq((1L, 1L)).toDF("ID", "v"))
      Snapshots.publish(s, root, Seq((2L, 2L)).toDF("id", "v"), append = true)
      val es = Snapshots.manifest(root, Snapshots.currentId(root).get)
      def inferred = s.read.option("mergeSchema", "true")
        .parquet(es.map(e => root.resolve(e.relPath).toString): _*).schema
      assert(Snapshots.footerSchema(s, root, es) == inferred)
      assert(Snapshots.footerSchema(s, root, es).fieldNames.toSeq == Seq("ID", "v"))
      assert(Snapshots.readAt(s, root, Snapshots.currentId(root).get).count() == 2)
      s.conf.set("spark.sql.caseSensitive", "true")
      try {
        assert(Snapshots.footerSchema(s, root, es) == inferred)
        assert(Snapshots.footerSchema(s, root, es).fieldNames.toSeq == Seq("ID", "v", "id"))
      } finally s.conf.unset("spark.sql.caseSensitive")
    } finally rm(root)
  }
}
