package graft.etl

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.JavaConverters._
import scala.collection.mutable

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The sequence-number rule of merge-on-read, checked against a
  * driver-side model: a tombstone erases its keys from files of EARLIER
  * commits only, so an upsert's own rows survive its own tombstone.
  * Seeded chains of appends, upserts and deletes (single and composite
  * keys) are read back at every snapshot, whole and as one-commit
  * change feeds, with and without tombstone-range pruning.
  */
class MergeReadSeqRuleSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Rows of `df` as (key columns..., v), sorted. */
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[Seq[Long]] =
    df.select(cols.map(col): _*).collect().toSeq.map(r => cols.indices.map(r.getLong))
      .sortBy(_.mkString(","))

  private def feedOf(df: DataFrame, cols: Seq[String]): Seq[(String, Seq[Long])] =
    df.select((col("_change_type") +: cols.map(col)): _*).collect().toSeq
      .map((r: Row) => (r.getString(0), cols.indices.map(i => r.getLong(i + 1))))
      .sortBy(x => x._1 + x._2.mkString(","))

  /** Run a seeded chain on a store keyed by `keyCols` (value column `v`)
    * and check every snapshot against the model. `mk(i)` builds the
    * i-th fresh key tuple.
    */
  private def chain(seed: Long, keyCols: Seq[String], mk: Long => Seq[Long],
                    rootPrefix: String = "graft_seqrule"): Unit = {
    val cols = keyCols :+ "v"
    val statsCol = Some(keyCols.head)
    def frame(rows: Seq[Seq[Long]]): DataFrame =
      s.createDataFrame(rows.map(r => Row(r: _*)).asJava,
        org.apache.spark.sql.types.StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.LongType))))
    val root = Files.createTempDirectory(rootPrefix)
    try {
      val rng = new SplittableRandom(seed)
      val model = mutable.LinkedHashMap.empty[Seq[Long], Long]
      var fresh = 0L
      def freshKeys(n: Int): Seq[Seq[Long]] = (0 until n).map { _ => fresh += 1; mk(fresh) }
      // base: 400 rows range-clustered into 4 files with zone maps
      freshKeys(400).foreach(k => model(k) = 0L)
      Snapshots.publish(s, root,
        frame(model.toSeq.map { case (k, v) => k :+ v })
          .repartitionByRange(4, col(keyCols.head)), statsCol = statsCol)
      val states = mutable.ArrayBuffer(Map.empty[Seq[Long], Long], model.toMap)
      (2 to 15).foreach { id =>
        val live = model.keys.toIndexedSeq
        def pick(n: Int) = (0 until n).map(_ => live(rng.nextInt(live.size))).distinct
        val kind = if (id == 15) "upsert" else Seq("append", "upsert", "delete")(rng.nextInt(3))
        kind match {
          case "append" =>
            val rows = freshKeys(20).zipWithIndex.map { case (k, j) => (k, id * 1000L + j) }
            Snapshots.publish(s, root, frame(rows.map { case (k, v) => k :+ v }),
              append = true, statsCol = statsCol)
            rows.foreach { case (k, v) => model(k) = v }
          case "upsert" =>
            // every upserted value is new, so each upsert of a live key is
            // a delete + insert pair in the feed
            val rows = (pick(12) ++ freshKeys(3)).zipWithIndex
              .map { case (k, j) => (k, id * 1000L + j) }
            Snapshots.publishUpsert(s, root, frame(rows.map { case (k, v) => k :+ v }),
              keyCols, statsCol)
            rows.foreach { case (k, v) => model(k) = v }
          case _ =>
            // some live keys and one never-seen key (a no-op delete)
            val keys = pick(8) :+ mk(1000000L + id)
            Snapshots.publishDeletes(s, root,
              s.createDataFrame(keys.map(k => Row(k: _*)).asJava,
                org.apache.spark.sql.types.StructType(keyCols.map(c =>
                  org.apache.spark.sql.types.StructField(c,
                    org.apache.spark.sql.types.LongType)))))
            keys.foreach(model.remove)
        }
        assert(Snapshots.currentId(root).contains(id))
        states += model.toMap
      }
      def expect(n: Int) = states(n).toSeq.map { case (k, v) => k :+ v }.sortBy(_.mkString(","))
      (1 to 15).foreach { n =>
        assert(rowsOf(Snapshots.readAt(s, root, n), cols) == expect(n), s"readAt($n)")
        assert(rowsOf(Snapshots.readAt(s, root, n, statsCol, None), cols) == expect(n),
          s"readAt($n) with tombstone-range pruning")
        val before = expect(n - 1).toSet
        val after = expect(n).toSet
        val want = ((after -- before).toSeq.map(r => ("insert", r)) ++
          (before -- after).toSeq.map(r => ("delete", r))).sortBy(x => x._1 + x._2.mkString(","))
        assert(feedOf(Snapshots.readChangeFeed(s, root, n - 1, n), cols) == want,
          s"readChangeFeed(${n - 1}, $n)")
      }
      assert(feedOf(Snapshots.readChangeFeed(s, root, 0, 15), cols) ==
        expect(15).map(r => ("insert", r)).sortBy(x => x._1 + x._2.mkString(",")))
    } finally rm(root)
  }

  test("seeded single-key chain: every readAt and one-commit change feed matches the model") {
    chain(41L, Seq("k"), i => Seq(i))
  }

  test("seeded composite-key chain: every readAt and one-commit change feed matches the model") {
    chain(42L, Seq("k1", "k2"), i => Seq(i / 3, i % 3))
  }

  test("a store root that needs URI escaping (space, %) reads every snapshot like the model") {
    chain(43L, Seq("k"), i => Seq(i), rootPrefix = "graft seq%rule ")
  }

  test("catalog MoR on string partition values that need escaping (:, =) under an escaped root") {
    val root = Files.createTempDirectory("graft mor%cat ")
    val cat = "gseqesc"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    try {
      s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, p STRING, v STRING) " +
        "PARTITIONED BY (p) TBLPROPERTIES ('morkey'='k')")
      s.sql(s"INSERT INTO $cat.t SELECT id, concat('a:', id % 3, '=b'), 'v' FROM range(0, 300)")
      s.sql(s"DELETE FROM $cat.t WHERE k < 10")
      s.sql(s"UPDATE $cat.t SET v = 'U' WHERE k BETWEEN 100 AND 104")
      val store = root.resolve("t")
      val n = Snapshots.currentId(store).get
      assert(Snapshots.manifest(store, n).exists(e =>
        Snapshots.isDelete(e) && !Snapshots.isPosDelete(e)), "no equality tombstone")
      assert(Snapshots.manifest(store, n).exists(_.relPath.contains("%3A")),
        "no escaped partition directory")
      val want = (10L until 300L).map(k => (k, s"a:${k % 3}=b",
        if (k >= 100 && k <= 104) "U" else "v"))
      def rows(df: DataFrame) = df.select("k", "p", "v").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      assert(rows(s.table(s"$cat.t")) == want)
      assert(rows(Snapshots.readAt(s, store, n)) == want)
      assert(Snapshots.readChangeFeed(s, store, n - 1, n)
        .filter(col("_change_type") === "delete").count() == 5)
    } finally rm(root)
  }

  test("zone maps prove files clear of every later tombstone: they read pure, rows unchanged") {
    val sq = s; import sq.implicits._
    val root = Files.createTempDirectory("graft_seqrule_zone")
    try {
      // 4 range files: [0,100) [100,200) [200,300) [300,400)
      Snapshots.publish(s, root,
        (0L until 400L).map(k => (k, 0L)).toDF("k", "v").repartitionByRange(4, col("k")),
        statsCol = Some("k"))
      Snapshots.publishDeletes(s, root, Seq(5L).toDF("k"))
      Snapshots.publishUpsert(s, root, Seq((350L, 9L), (900L, 9L)).toDF("k", "v"), "k", Some("k"))
      val n = Snapshots.currentId(root).get
      val want = ((0L until 400L).filterNot(k => k == 5L || k == 350L).map(k => Seq(k, 0L)) ++
        Seq(Seq(350L, 9L), Seq(900L, 9L))).sortBy(_.mkString(","))
      def hotFiles(df: DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case j: Join if j.joinType == LeftAnti =>
            j.left.collect { case r: LogicalRelation =>
              r.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
            }.sum
        }.sum
      val pruned = Snapshots.readAt(s, root, n, Some("k"), None)
      val unpruned = Snapshots.readAt(s, root, n)
      // only the files holding 5 and 350 can lose a row; the upsert's own
      // file is never touched by its own tombstone
      assert(hotFiles(pruned) == 2, pruned.queryExecution.optimizedPlan.toString)
      assert(hotFiles(unpruned) == 4, unpruned.queryExecution.optimizedPlan.toString)
      assert(rowsOf(pruned, Seq("k", "v")) == want)
      assert(rowsOf(unpruned, Seq("k", "v")) == want)
    } finally rm(root)
  }
}
