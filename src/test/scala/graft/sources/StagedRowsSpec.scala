package graft.sources

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.JavaConverters._

import graft.TestSpark
import graft.etl.Snapshots
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Staged row counts come from parquet footers ([[Snapshots.stagedRows]]):
  * the count equals a read-back's, row-level DML that stages nothing
  * useful commits nothing and leaks nothing, and no commit path re-reads
  * what it just staged. The scan-side footer row-count memo holds only
  * files of a live manifest.
  */
class StagedRowsSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private var n = 0
  private def freshCatalog(): (String, Path) = {
    n += 1
    val cat = s"gstaged$n"
    val root = Files.createTempDirectory(s"graft_staged$n")
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    (cat, root)
  }

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Parquet files under `dir`, relative to `root`. */
  private def parquetUnder(root: Path, dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString).toSet
      finally walk.close()
    }

  /** The written parquet files of `dir` as manifest entries of `root`. */
  private def entriesOf(root: Path, dir: Path): Seq[Snapshots.ManifestEntry] =
    parquetUnder(root, dir).toSeq.sorted.map(rel =>
      Snapshots.ManifestEntry(rel, "", Files.size(root.resolve(rel))))

  private def readBack(root: Path, es: Seq[Snapshots.ManifestEntry]): Long =
    s.read.parquet(es.map(e => root.resolve(e.relPath).toString): _*).count()

  /** Jobs started while `f` runs, counted after the listener bus drains. */
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      f
      GraftBridge.drainListenerBus(s.sparkContext)
      jobs.get()
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private def morTable(cat: String): String = {
    s.sql(s"CREATE TABLE $cat.kv (k BIGINT NOT NULL, v STRING, cents BIGINT) " +
      "TBLPROPERTIES ('morkey'='k')")
    s.sql(s"INSERT INTO $cat.kv SELECT id, concat('v', id), id * 10 FROM range(0, 1000)")
    s"$cat.kv"
  }

  test("stagedRows equals a read-back count on several row groups and several files; 0 when empty") {
    val root = Files.createTempDirectory("graft_staged_rows")
    try {
      s.range(0, 3000).selectExpr("id AS k", "CAST(id % 11 AS STRING) AS v")
        .coalesce(1).write.option("parquet.block.size", "4096")
        .parquet(root.resolve("groups").toString)
      val groups = entriesOf(root, root.resolve("groups"))
      assert(groups.size == 1)
      val blocks = Snapshots.footer(s,
        new org.apache.hadoop.fs.Path(root.resolve(groups.head.relPath).toUri)).getBlocks.size
      assert(blocks > 1, s"expected several row groups, got $blocks")
      assert(Snapshots.stagedRows(s, root, groups) == readBack(root, groups))
      assert(Snapshots.stagedRows(s, root, groups) == 3000L)

      s.range(0, 1234).selectExpr("id AS k").repartition(5)
        .write.parquet(root.resolve("multi").toString)
      val multi = entriesOf(root, root.resolve("multi"))
      assert(multi.size > 1, s"expected several files, got $multi")
      assert(Snapshots.stagedRows(s, root, multi) == readBack(root, multi))
      assert(Snapshots.stagedRows(s, root, multi) == 1234L)

      s.range(0, 10).selectExpr("id AS k").filter("k < 0")
        .write.parquet(root.resolve("empty").toString)
      val empty = entriesOf(root, root.resolve("empty"))
      assert(empty.nonEmpty, "an empty write left no schema-only file")
      assert(s.read.parquet(empty.map(e => root.resolve(e.relPath).toString): _*).isEmpty)
      assert(Snapshots.stagedRows(s, root, empty) == 0L)
      assert(Snapshots.stagedRows(s, root, Nil) == 0L)
    } finally rm(root)
  }

  test("a MoR UPDATE that matches nothing commits no snapshot and leaves no staged parquet") {
    val (cat, root) = freshCatalog()
    try {
      val t = morTable(cat)
      val store = root.resolve("kv")
      val id = Snapshots.currentId(store)
      val before = parquetUnder(store, store.resolve("data")) ++
        parquetUnder(store, store.resolve("deletes"))
      s.sql(s"UPDATE $t SET cents = 0 WHERE v = 'no such value'")
      assert(Snapshots.currentId(store) == id, "a no-op UPDATE committed a snapshot")
      val after = parquetUnder(store, store.resolve("data")) ++
        parquetUnder(store, store.resolve("deletes"))
      assert(after == before, s"a no-op UPDATE left ${after -- before}")
      assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 1000)
    } finally rm(root)
  }

  test("a pure DELETE and a MATCHED-DELETE MERGE commit only a tombstone") {
    val (cat, root) = freshCatalog()
    try {
      val t = morTable(cat)
      val store = root.resolve("kv")
      def commitsOnlyATombstone(sql: String, left: Long): Unit = {
        val base = Snapshots.manifest(store, Snapshots.currentId(store).get)
        s.sql(sql)
        val after = Snapshots.manifest(store, Snapshots.currentId(store).get)
        val fresh = after.filterNot(e => base.exists(_.relPath == e.relPath))
        assert(fresh.nonEmpty && fresh.forall(Snapshots.isDelete),
          s"$sql committed $fresh")
        val onDisk = parquetUnder(store, store.resolve("data"))
        assert(onDisk == after.filterNot(Snapshots.isDelete).map(_.relPath).toSet,
          s"$sql left unreferenced data files")
        assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == left)
      }
      commitsOnlyATombstone(s"DELETE FROM $t WHERE k < 10", 990)
      s.range(100, 120).selectExpr("id AS k").createOrReplaceTempView("gone")
      try commitsOnlyATombstone(
        s"MERGE INTO $t t USING gone g ON t.k = g.k WHEN MATCHED THEN DELETE", 970)
      finally s.catalog.dropTempView("gone")
    } finally rm(root)
  }

  test("row-level DML and compaction run no read-back job over their staged files") {
    val (cat, root) = freshCatalog()
    try {
      val t = morTable(cat)
      s.range(990, 1010).selectExpr("id AS k", "concat('m', id) AS v", "id AS cents")
        .createOrReplaceTempView("src")
      val merge = try jobsDuring(s.sql(
        s"MERGE INTO $t t USING src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
      finally s.catalog.dropTempView("src")
      val update = jobsDuring(s.sql(s"UPDATE $t SET cents = 0 WHERE k BETWEEN 100 AND 109"))
      val delete = jobsDuring(s.sql(s"DELETE FROM $t WHERE k < 10"))
      val compact = jobsDuring(s.sql(s"CALL $cat.system.compact('kv', 2)"))
      assert(s.sql(s"SELECT count(*), sum(cents) FROM $t").head.toSeq ==
        Seq(1000L, (10L to 989L).map(_ * 10).sum - (100L to 109L).map(_ * 10).sum +
          (990L to 1009L).sum))
      val counts = Map("merge" -> merge, "update" -> update, "delete" -> delete,
        "compact" -> compact)
      // counted on the local[4] test session; each read-back of the staged
      // files cost two more jobs (schema inference and the read)
      val bounds = Map("merge" -> 6, "update" -> 5, "delete" -> 4, "compact" -> 6)
      assert(counts.forall { case (k, c) => c <= bounds(k) }, s"jobs per statement: $counts")
    } finally rm(root)
  }

  test("the footer row-count memo holds no compacted-away file") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL)")
      (0 until 4).foreach { i =>
        s.range(i * 100, (i + 1) * 100).select(col("id").as("k"))
          .repartition(1).writeTo(s"$cat.t").append()
      }
      val store = root.resolve("t")
      def live(): Set[String] = Snapshots.manifest(store, Snapshots.currentId(store).get)
        .map(_.relPath).toSet
      assert(s.sql(s"SELECT * FROM $cat.t LIMIT 150").count() == 150)
      val old = live()
      val cached = Snapshots.fileRowsCached(store)
      assert(cached.nonEmpty && cached.subsetOf(old), s"cached $cached, live $old")
      s.sql(s"CALL $cat.system.compact('t', 1)")
      s.range(400, 500).select(col("id").as("k")).repartition(1).writeTo(s"$cat.t").append()
      assert(s.sql(s"SELECT * FROM $cat.t LIMIT 150").count() == 150)
      val now = Snapshots.fileRowsCached(store)
      assert(now.nonEmpty && now.subsetOf(live()), s"cached $now, live ${live()}")
      assert((now intersect old).isEmpty, s"compacted-away files still cached: ${now intersect old}")
    } finally rm(root)
  }
}
