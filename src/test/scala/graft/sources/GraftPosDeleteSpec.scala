package graft.sources

import java.nio.file.{Files, Path}

import scala.collection.JavaConverters._

import graft.TestSpark
import graft.etl.Snapshots
import org.scalatest.funsuite.AnyFunSuite

/** POSITION deletes (r14): merge-on-read DELETE for KEY-LESS tables —
  * `'mordelete'='position'` routes SQL DELETE to (file, row ordinal)
  * tombstones under `deletes/pos-`, the merged read anti-joins only the
  * NAMED files on the generated `_metadata` coordinates, compaction
  * folds the pairs, and the two tombstone shapes refuse to share a
  * store.
  */
class GraftPosDeleteSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private var n = 0
  private def fresh(): (String, Path) = {
    n += 1
    val cat = s"gpd$n"
    val root = Files.createTempDirectory(s"graft_posdel$n")
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    (cat, root)
  }

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  // deliberately DUPLICATE-bearing and key-less: v repeats across rows,
  // so no column could serve as an equality-delete key
  private def mk(cat: String): String = {
    s.sql(s"CREATE TABLE $cat.t (v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mordelete'='position', 'statscol'='v')")
    s.sql(s"INSERT INTO $cat.t SELECT id % 100, concat('s', id % 7) FROM range(0, 1000)")
    s"$cat.t"
  }

  test("DELETE lands a position tombstone; zero files rewritten; merged read exact") {
    val (cat, root) = fresh()
    try {
      val t = mk(cat)
      val store = root.resolve("t")
      val base = Snapshots.manifest(store, 1)
      // v = 5 appears 10 times (ids 5, 105, ..., 905): a DUPLICATE value
      // an equality tombstone could never address row-precisely
      s.sql(s"DELETE FROM $t WHERE v = 5")
      val after = Snapshots.manifest(store, 2)
      base.foreach(b => assert(after.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"position DELETE rewrote base file ${b.relPath}"))
      val freshE = after.filterNot(e => base.exists(_.relPath == e.relPath))
      assert(freshE.nonEmpty && freshE.forall(Snapshots.isPosDelete),
        s"expected a position-tombstone-only delta, got $freshE")
      assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 990)
      assert(s.sql(s"SELECT count(*) FROM $t WHERE v = 5").head.getLong(0) == 0)
      // neighbors untouched (ordinal precision: only v=5 rows died)
      assert(s.sql(s"SELECT count(*) FROM $t WHERE v IN (4, 6)").head.getLong(0) == 20)
      // time travel: the pre-delete snapshot reads whole
      assert(s.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head.getLong(0) == 1000)
    } finally rm(root)
  }

  test("ordinal stability: repeated deletes compose; unnamed files read pure") {
    val (cat, root) = fresh()
    try {
      val t = mk(cat)
      val store = root.resolve("t")
      s.sql(s"DELETE FROM $t WHERE v = 5")
      // second delete computes positions against the TOMBSTONE-BEARING
      // snapshot; its raw scan may re-name already-dead rows (harmless)
      // but must kill exactly the v=6 rows
      s.sql(s"DELETE FROM $t WHERE v = 6")
      assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 980)
      assert(s.sql(s"SELECT count(*) FROM $t WHERE v IN (5, 6)").head.getLong(0) == 0)
      assert(s.sql(s"SELECT count(*) FROM $t WHERE v = 7").head.getLong(0) == 10)
      // an APPEND after the deletes is never named by the old pairs:
      // its rows survive even where v matches
      s.sql(s"INSERT INTO $t VALUES (5, 'fresh')")
      assert(s.sql(s"SELECT count(*) FROM $t WHERE v = 5").head.getLong(0) == 1)
      // the merged plan reads unnamed (post-delete) files PURE: only
      // files named by pairs carry the anti-join coordinates
      val phys = s.sql(s"SELECT * FROM $t").queryExecution.sparkPlan.toString
      assert(phys.contains("row_index") || phys.contains("__pos"),
        s"expected position coordinates in the merged plan:\n$phys")
    } finally rm(root)
  }

  test("compact folds positions; eq/pos tombstones refuse to mix; UPDATE works on live pairs") {
    val (cat, root) = fresh()
    try {
      val t = mk(cat)
      val store = root.resolve("t")
      s.sql(s"DELETE FROM $t WHERE v < 10")
      // an equality tombstone cannot land on a position store (checked
      // while the pairs are LIVE — the update below replaces every base
      // file, making the pairs inert and dropped from the manifest)
      val eq = intercept[Exception](
        Snapshots.publishDeletes(s, store,
          s.range(1).selectExpr("CAST(id AS BIGINT) AS v")))
      assert(eq.getMessage.contains("POSITION"), eq.getMessage)
      // UPDATE via the group rewrite now works WITH live pairs: the
      // rewrite scan serves the kept groups MERGED (pair anti-join), so
      // the replacement cannot resurrect a position-deleted row, and
      // the commit carries pair files for any untouched groups
      s.sql(s"UPDATE $t SET s = 'x' WHERE v = 50")
      assert(s.sql(s"SELECT count(*) FROM $t WHERE s = 'x'").head.getLong(0) == 10)
      assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 900)
      assert(s.sql(s"SELECT count(*) FROM $t WHERE v < 10").head.getLong(0) == 0,
        "the group rewrite resurrected position-deleted rows")
      val pre = s.sql(s"SELECT sum(v), count(*) FROM $t").head
      s.sql(s"CALL $cat.system.compact('t', 4)")
      assert(!Snapshots.manifest(store, Snapshots.currentId(store).get)
        .exists(Snapshots.isDelete), "compact left tombstones")
      assert(s.sql(s"SELECT sum(v), count(*) FROM $t").head.toSeq == pre.toSeq)
      // post-compact, answers identical and the update survives
      assert(s.sql(s"SELECT count(*) FROM $t WHERE s = 'x'").head.getLong(0) == 10)
      // morkey + mordelete refuse to compose at CREATE
      val both = intercept[Exception](s.sql(
        s"CREATE TABLE $cat.bad (k BIGINT NOT NULL, v BIGINT) " +
          "TBLPROPERTIES ('morkey'='k', 'mordelete'='position')"))
      assert(both.getMessage.contains("do not compose"), both.getMessage)
    } finally rm(root)
  }

  test("the bitmap cache holds only the live delete set across deletes and compactions") {
    val (cat, root) = fresh()
    try {
      val t = mk(cat)
      val store = root.resolve("t")
      def livePos(): Set[String] = Snapshots.manifest(store, Snapshots.currentId(store).get)
        .filter(Snapshots.isPosDelete).map(_.relPath).toSet
      (0 until 2).foreach { round =>
        Seq(1, 2).foreach { k =>
          s.sql(s"DELETE FROM $t WHERE v = ${10 * round + k}")
          assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 1000 - 10 * (2 * round + k))
          val (cached, live) = (Snapshots.posBitmapsCached(store), livePos())
          assert(cached.nonEmpty && cached.subsetOf(live),
            s"round $round delete $k: cached $cached, live $live")
        }
        s.sql(s"CALL $cat.system.compact('t', 4)")
      }
    } finally rm(root)
  }

  test("position deletes compose with PARTITIONED BY") {
    val (cat, root) = fresh()
    try {
      s.sql(s"CREATE TABLE $cat.pt (v BIGINT, p BIGINT, t STRING) PARTITIONED BY (p) " +
        "TBLPROPERTIES ('mordelete'='position', 'statscol'='v')")
      s.sql(s"INSERT INTO $cat.pt SELECT id % 100, id % 4, concat('s', id) FROM range(0, 1000)")
      val store = root.resolve("pt")
      s.sql(s"DELETE FROM $cat.pt WHERE v = 5") // ids ≡5 (mod 100) → all in p=1
      val m = Snapshots.manifest(store, 2)
      assert(m.filter(Snapshots.isDelete).forall(Snapshots.isPosDelete))
      m.filterNot(Snapshots.isDelete).foreach(e =>
        assert(Snapshots.partValueOf(e.relPath).isDefined, s"${e.relPath} not value-pure"))
      assert(s.sql(s"SELECT count(*) FROM $cat.pt").head.getLong(0) == 990)
      assert(s.sql(s"SELECT count(*) FROM $cat.pt WHERE p = 1").head.getLong(0) == 240)
      // dynamic overwrite of p=1 carries the pairs and the other partitions
      val pk = "spark.sql.sources.partitionOverwriteMode"
      val prior = s.conf.get(pk)
      s.conf.set(pk, "dynamic")
      try s.sql(s"INSERT OVERWRITE $cat.pt SELECT id, 1L, 'ow' FROM range(2000, 2100)")
      finally s.conf.set(pk, prior)
      assert(s.sql(s"SELECT count(*) FROM $cat.pt").head.getLong(0) == 850)
      assert(s.sql(s"SELECT count(*) FROM $cat.pt WHERE p = 0").head.getLong(0) == 250)
    } finally rm(root)
  }

  test("PRE-BITMAP pair files stay readable: legacy tombstones apply exactly") {
    val (cat, root) = fresh()
    try {
      val t = mk(cat)
      val store = root.resolve("t")
      // forge a LEGACY (row-per-ordinal) pair file the old writer shape
      // produced: kill ordinals 0..9 of the first data file
      val target = Snapshots.manifest(store, 1).filterNot(Snapshots.isDelete).head
      import org.apache.spark.sql.functions.{col, lit}
      val legacyDir = store.resolve("deletes").resolve("pos-legacy-test")
      s.range(0, 10).select(lit(target.relPath).as("__file"),
        col("id").as("__pos"))
        .coalesce(1).write.mode("overwrite").parquet(legacyDir.toString)
      val files = {
        val l = Files.list(legacyDir)
        try l.iterator().asScala.toSeq.filter(
          _.getFileName.toString.endsWith(".parquet"))
        finally l.close()
      }
      val entries = files.map(f => Snapshots.ManifestEntry(
        store.relativize(f).toString, Snapshots.md5hex(f), Files.size(f)))
      Snapshots.commitOcc(store, entries,
        Snapshots.OccSurgical(1, Snapshots.manifest(store, 1)))
      // the merged read converts the pair file on first touch and
      // applies it: exactly 10 rows gone, from the named file only
      assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 990)
      // and a NEW (bitmap) tombstone composes on top of the legacy one
      s.sql(s"DELETE FROM $t WHERE v = 50")
      assert(s.sql(s"SELECT count(*) FROM $t WHERE v = 50").head.getLong(0) == 0)
      // ids 50,150,..,950 = 10 rows, none in ordinals 0..9 of file one
      assert(s.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 980)
    } finally rm(root)
  }

  test("executor-side bitmap merge equals the driver fold (mixed shapes)") {
    val (cat, root) = fresh()
    try {
      val t = mk(cat)
      val store = root.resolve("t")
      // two OVERLAPPING bitmap tombstones (both name shared files) ...
      s.sql(s"DELETE FROM $t WHERE v < 30")
      s.sql(s"DELETE FROM $t WHERE v >= 20 AND v < 50")
      // ... plus a forged LEGACY pair file naming the first data file
      val target = Snapshots.manifest(store, 1).filterNot(Snapshots.isDelete).head
      import org.apache.spark.sql.functions.{col, lit}
      val legacyDir = store.resolve("deletes").resolve("pos-legacy-ab")
      s.range(0, 7).select(lit(target.relPath).as("__file"),
        col("id").as("__pos"))
        .coalesce(1).write.mode("overwrite").parquet(legacyDir.toString)
      val legacy = {
        val l = Files.list(legacyDir)
        try l.iterator().asScala.toSeq.filter(
          _.getFileName.toString.endsWith(".parquet"))
          .map(f => Snapshots.ManifestEntry(
            store.relativize(f).toString, Snapshots.md5hex(f), Files.size(f)))
        finally l.close()
      }
      val cur = Snapshots.currentId(store).get
      val dels = Snapshots.manifest(store, cur).filter(Snapshots.isDelete) ++ legacy
      assert(dels.size >= 3)
      // the big-set executor-side merge must agree with the memoized
      // driver fold file-for-file, ordinal-for-ordinal
      val viaDriver = Snapshots.posBitmaps(s, store, dels)
      val viaExec = Snapshots.posBitmapsDistributed(s, store, dels)
      assert(viaDriver.keySet == viaExec.keySet)
      viaDriver.foreach { case (f, bytes) =>
        val a = graft.functions.PosBitmaps.deserialize(bytes)
        val b = graft.functions.PosBitmaps.deserialize(viaExec(f))
        assert(a.equals(b), s"merged bitmaps diverge for $f")
      }
    } finally rm(root)
  }

  test("distributed merge memoizes per tombstone SET: a re-serve runs zero jobs") {
    val (cat, root) = fresh()
    try {
      val t = mk(cat)
      val store = root.resolve("t")
      s.sql(s"DELETE FROM $t WHERE v < 30")
      s.sql(s"DELETE FROM $t WHERE v >= 20 AND v < 50")
      val cur = Snapshots.currentId(store).get
      val dels = Snapshots.manifest(store, cur).filter(Snapshots.isDelete)
      val first = Snapshots.posBitmapsDistributed(s, store, dels)
      // same set, second serve: memo hit — NO Spark job
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      s.sparkContext.addSparkListener(listener)
      val second = try {
        val r = Snapshots.posBitmapsDistributed(s, store, dels)
        org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
        r
      } finally s.sparkContext.removeSparkListener(listener)
      assert(jobs.get() == 0,
        s"memoized distributed merge still launched ${jobs.get()} job(s)")
      assert(second.keySet == first.keySet)
      // a CHANGED set (new purge) evicts the slot and recomputes
      s.sql(s"DELETE FROM $t WHERE v >= 90 AND v < 95")
      val cur2 = Snapshots.currentId(store).get
      val dels2 = Snapshots.manifest(store, cur2).filter(Snapshots.isDelete)
      val third = Snapshots.posBitmapsDistributed(s, store, dels2)
      val removed = third.values.map(b =>
        graft.functions.PosBitmaps.deserialize(b).getLongCardinality).sum
      val removedBefore = first.values.map(b =>
        graft.functions.PosBitmaps.deserialize(b).getLongCardinality).sum
      // v = id % 100 over 1000 rows: 5 more values x 10 rows each
      assert(removed == removedBefore + 50,
        s"recomputed set lost ordinals: $removed vs $removedBefore + 50")
    } finally rm(root)
  }
}
