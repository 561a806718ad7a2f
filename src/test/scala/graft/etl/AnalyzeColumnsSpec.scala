package graft.etl

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.JavaConverters._

import graft.TestSpark
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** Both sides of ANALYZE's one-task rule: one column of a small snapshot
  * is analyzed in one Spark job, and the parallel aggregate, above the
  * size gate or for several columns, computes the same statistics.
  */
class AnalyzeColumnsSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Jobs started while `f` runs, counted after the listener bus drains. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      val r = f
      GraftBridge.drainListenerBus(s.sparkContext)
      (r, jobs.get())
    } finally s.sparkContext.removeSparkListener(listener)
  }

  /** Tasks of the first stage submitted while `f` runs: the scan's. */
  private def scanTasksDuring[T](f: => T): Int = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.add((e.stageInfo.stageId, e.stageInfo.numTasks))
    }
    GraftBridge.drainListenerBus(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      f
      GraftBridge.drainListenerBus(s.sparkContext)
      stages.asScala.minBy(_._1)._2
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private val cols = Seq("k", "v", "z")

  /** A 400-row store over two files: an int key, a string with NULLs
    * and an all-NULL string; with `tombstoned`, a delete commit on top.
    */
  private def store(tombstoned: Boolean): (Path, Int) = {
    val root = Files.createTempDirectory("graft_analyze")
    Snapshots.publish(s, root, s.range(0, 400).repartition(2).selectExpr("id AS k",
      "IF(id % 9 = 0, NULL, CONCAT('v', CAST(id % 13 AS STRING))) AS v",
      "CAST(NULL AS STRING) AS z"))
    if (tombstoned) Snapshots.publishDeletes(s, root, s.range(0, 50).selectExpr("id * 3 AS k"))
    (root, Snapshots.currentId(root).get)
  }

  /** The sidecar's statistics of `c` after analyzing it with the one-task
    * gate at `oneTaskBytes`.
    */
  private def analyzed(root: Path, id: Int, c: String, oneTaskBytes: Long): Snapshots.ColStat = {
    Snapshots.analyzeColumns(s, root, id, Seq(c), oneTaskBytes)
    Snapshots.colStats(root, id).get._2(c)
  }

  test("one column of a small snapshot is analyzed in exactly one Spark job") {
    val (root, id) = store(tombstoned = false)
    try {
      cols.zip(Seq((400L, 0L), (13L, 45L), (0L, 400L))).foreach { case (c, (ndv, nulls)) =>
        val (res, jobs) = jobsDuring(Snapshots.analyzeColumns(s, root, id, Seq(c)))
        assert(jobs == 1, s"analyze of $c ran $jobs Spark jobs")
        assert(res == Seq((c, ndv, nulls)), res)
      }
    } finally rm(root)
  }

  test("the parallel aggregate above the size gate computes the same statistics") {
    Seq(false, true).foreach { tombstoned =>
      val (root, id) = store(tombstoned)
      try cols.foreach { c =>
        val one = analyzed(root, id, c, Long.MaxValue)
        val (parallel, jobs) = jobsDuring(analyzed(root, id, c, 0L))
        // one job is the one-task path (previous test)
        if (!tombstoned) assert(jobs > 1, s"$c: the parallel path ran $jobs job(s)")
        assert(one == parallel, s"tombstoned=$tombstoned, $c: one-task $one vs parallel $parallel")
      } finally rm(root)
    }
  }

  test("several columns keep the scan's splits and match the one-column statistics") {
    val (root, id) = store(tombstoned = false)
    try {
      val one = cols.map(c => c -> analyzed(root, id, c, Long.MaxValue)).toMap
      Files.delete(root.resolve("stats").resolve(s"colstats-$id"))
      val tasks = scanTasksDuring(Snapshots.analyzeColumns(s, root, id, cols))
      assert(tasks == 2, s"the two-file scan of a three-column analyze ran in $tasks task(s)")
      assert(Snapshots.colStats(root, id).get._2 == one)
    } finally rm(root)
  }
}
