package graft.etl

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.collection.JavaConverters._

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** A31 runtime guarantees the oracled `snapshot_read` relation can't
  * see: commit atomicity under a concurrent reader, invisibility of
  * staged-but-uncommitted releases (with the directory-listing negative
  * control showing what the manifest layer buys), reader pinning across
  * later publishes, and the A5-style integrity verify.
  */
class SnapshotSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def tmpRoot(): Path = Files.createTempDirectory("graft_snapspec")

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  private def block(tag: Int, rows: Int = 100) = {
    val sq = s; import sq.implicits._
    (0 until rows).map(i => (tag.toLong, i.toLong)).toDF("tag", "i")
  }

  test("a concurrent reader never sees a half-published release") {
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, block(1))
      val stop = new AtomicBoolean(false)
      val torn = new AtomicReference[String](null)
      val reads = new AtomicInteger(0)
      val reader = new Thread(() => {
        while (!stop.get() && torn.get() == null) {
          // resolve pointer -> manifest -> files: the committed view at
          // SOME instant. Invariant of every published snapshot n:
          // exactly the blocks 1..n, 100 rows each.
          val n = Snapshots.currentId(root).get
          val rows = Snapshots.readAt(s, root, n).collect()
          val byTag = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
          if (byTag != (1 to n).map(t => t.toLong -> 100).toMap)
            torn.set(s"snapshot $n saw $byTag")
          reads.incrementAndGet()
        }
      })
      reader.start()
      // publisher: 9 further appended releases while the reader hammers
      (2 to 10).foreach(t => Snapshots.publish(s, root, block(t), append = true))
      stop.set(true)
      reader.join(60000)
      assert(torn.get() == null, s"torn read: ${torn.get()}")
      assert(reads.get() > 0, "reader never completed a read")
      assert(Snapshots.currentId(root).contains(10))
    } finally rm(root)
  }

  test("staged-but-uncommitted release is invisible through the manifest; a directory scan DOES see it") {
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, block(1))
      // stage release 2 completely (data + manifest) but DO NOT commit
      val staged = Snapshots.stage(s, root, block(2), append = true)
      assert(staged == 2)
      assert(Snapshots.currentId(root).contains(1), "pointer must still name release 1")
      assert(Snapshots.readCurrent(s, root).collect().forall(_.getLong(0) == 1L))
      // negative control: listing the data directory (what a reader
      // WITHOUT the manifest layer would do) already sees the staged rows
      val dirScan = s.read.option("recursiveFileLookup", "true")
        .parquet(root.resolve("data").toString)
      assert(dirScan.count() == 200, "directory listing sees the uncommitted release")
      // the commit is just the pointer swap; afterwards the same staged
      // files are the current view — nothing is rewritten
      Snapshots.commit(root, staged)
      assert(Snapshots.readCurrent(s, root).count() == 200)
    } finally rm(root)
  }

  test("reader pinning + time travel + release_diff across snapshot ids") {
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, block(1))
      val pinned = Snapshots.manifest(root, 1)
      Snapshots.publish(s, root, block(2), append = true)
      Snapshots.publish(s, root, block(3), append = true)
      // the manifest held before the later publishes is byte-identical
      // now — immutability is what makes the pinned view stable
      assert(Snapshots.manifest(root, 1) == pinned)
      assert(Snapshots.readAt(s, root, 1).collect().forall(_.getLong(0) == 1L))
      assert(Snapshots.readAt(s, root, 3).count() == 300)
      // snapshot 3's manifest REUSES snapshot 1's files, not copies
      val m1 = Snapshots.manifest(root, 1).map(_.relPath).toSet
      val m3 = Snapshots.manifest(root, 3).map(_.relPath).toSet
      assert(m1.subsetOf(m3), "append must share history files")
      // A26-style release diff across snapshot ids: exactly the appended rows
      val diff = Snapshots.readAt(s, root, 2).exceptAll(Snapshots.readAt(s, root, 1))
      assert(diff.collect().forall(_.getLong(0) == 2L))
      assert(diff.count() == 100)
    } finally rm(root)
  }

  test("expire deletes only what no retained manifest references; retained reads unaffected") {
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, block(1))                 // snap 1
      Snapshots.publish(s, root, block(2), append = true)  // snap 2 shares snap 1's files
      Snapshots.publish(s, root, block(3))                 // snap 3: FULL REWRITE — 1,2's files now history-only
      Snapshots.publish(s, root, block(4), append = true)  // snap 4 shares snap 3's files
      val snap1Files = Snapshots.manifest(root, 1).map(_.relPath)
      // retain from snap 3: snaps 1-2 expire; their files are shared with
      // NO retained manifest (3 was a rewrite) so they are deletable
      val (n, bytes) = Snapshots.expire(root, keepFrom = 3)
      assert(n > 0 && bytes > 0)
      snap1Files.foreach(rel => assert(!Files.exists(root.resolve(rel)), rel))
      // retained snapshots read and verify exactly as before
      assert(Snapshots.readAt(s, root, 3).collect().forall(_.getLong(0) == 3L))
      assert(Snapshots.readAt(s, root, 4).count() == 200)
      assert(Snapshots.verify(root, 3).isEmpty && Snapshots.verify(root, 4).isEmpty)
      // the expired manifest is gone — time travel below the horizon
      // fails loudly, never silently serves partial data
      intercept[Exception](Snapshots.manifest(root, 1))
      // files shared INTO a retained manifest survive an expire
      Snapshots.publish(s, root, block(5), append = true)  // snap 5 shares snap 3+4's files
      val shared = Snapshots.manifest(root, 4).map(_.relPath).toSet
      Snapshots.expire(root, keepFrom = 5)
      shared.foreach(rel => assert(Files.exists(root.resolve(rel)),
        s"$rel is referenced by retained snap 5 and must survive"))
      assert(Snapshots.verify(root, 5).isEmpty)
    } finally rm(root)
  }

  test("readChanges opens ONLY the increment's files and yields exactly the appended rows") {
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, block(1))
      Snapshots.publish(s, root, block(2), append = true)
      Snapshots.publish(s, root, block(3), append = true)
      val changes23 = Snapshots.readChanges(s, root, 2, 3)
      // I/O contract: the files touched are precisely manifest(3) \ manifest(2)
      val expectFiles = (Snapshots.manifest(root, 3).map(_.relPath).toSet
        -- Snapshots.manifest(root, 2).map(_.relPath)).map(p => root.resolve(p).toString)
      assert(changes23.inputFiles.map(_.stripPrefix("file://")).toSet == expectFiles)
      // row contract: exactly the appended block, matching the data diff
      assert(changes23.collect().forall(_.getLong(0) == 3L))
      assert(changes23.count() == 100)
      val dataDiff = Snapshots.readAt(s, root, 3).exceptAll(Snapshots.readAt(s, root, 2))
      assert(changes23.exceptAll(dataDiff).isEmpty && dataDiff.exceptAll(changes23).isEmpty)
      // exactly-once across consecutive increments: 1→2 ∪ 2→3 = 1→3
      val union = Snapshots.readChanges(s, root, 1, 2)
        .unionByName(Snapshots.readChanges(s, root, 2, 3))
      val full = Snapshots.readChanges(s, root, 1, 3)
      assert(union.exceptAll(full).isEmpty && full.exceptAll(union).isEmpty)
      // empty increment: same snapshot twice → zero rows, schema intact
      assert(Snapshots.readChanges(s, root, 3, 3).count() == 0)
    } finally rm(root)
  }

  test("verify replays the manifest checksums and flags corruption and loss") {
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, block(1))
      Snapshots.publish(s, root, block(2), append = true)
      assert(Snapshots.verify(root, 2).isEmpty, "fresh snapshot must verify clean")
      // corrupt one snapshot-1 data file in place
      val victim = root.resolve(Snapshots.manifest(root, 1).head.relPath)
      Files.write(victim, Files.readAllBytes(victim) ++ Array[Byte](0x42))
      val bad = Snapshots.verify(root, 2)
      assert(bad.nonEmpty && bad.forall(_._1.contains("snap-00001")))
      // and a deleted file reports MISSING
      Files.delete(victim)
      assert(Snapshots.verify(root, 2).exists(_._3 == "MISSING"))
    } finally rm(root)
  }

  test("compaction rewrites layout only: pinned readers stable, GC sweeps the small files") {
    val root = tmpRoot()
    try {
      // 4 appends of 3 files each -> 12 small files in snapshot 4
      (1 to 4).foreach(k =>
        Snapshots.publish(s, root, block(k).repartition(3), append = k > 1))
      assert(Snapshots.manifest(root, 4).size == 12)
      val pinned = Snapshots.readAt(s, root, 4).collect().map(_.toSeq).toSet
      val cid = Snapshots.compact(s, root, targetFiles = 2)
      assert(cid == 5 && Snapshots.manifest(root, 5).size == 2)
      // same rows through the rewrite; the pinned small-file view unchanged
      assert(Snapshots.readAt(s, root, 5).collect().map(_.toSeq).toSet == pinned)
      assert(Snapshots.readAt(s, root, 4).collect().map(_.toSeq).toSet == pinned)
      assert(Snapshots.verify(root, 5).isEmpty)
      // retention GC: expiring the pre-compaction history deletes exactly
      // the 12 superseded small files (the rewrite shares nothing)
      val (deleted, bytes) = Snapshots.expire(root, keepFrom = 5)
      assert(deleted == 12 && bytes > 0, s"swept $deleted files")
      assert(Snapshots.readAt(s, root, 5).collect().map(_.toSeq).toSet == pinned)
      assert(Snapshots.verify(root, 5).isEmpty, "compacted snapshot intact after GC")
      intercept[Exception](Snapshots.readAt(s, root, 4).collect()) // expired: loud
    } finally rm(root)
  }

  test("a compaction that would lose rows aborts BEFORE the pointer swap") {
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, block(1).repartition(3))
      // sabotage: a 'compaction' whose rewrite drops a partition — model
      // by staging a filtered rewrite through the same parity gate
      val cur = Snapshots.currentId(root).get
      val before = Snapshots.readAt(s, root, cur).count()
      val id = Snapshots.stage(s, root,
        Snapshots.readAt(s, root, cur).filter("i % 2 = 0").repartition(2), append = false)
      val after = Snapshots.readAt(s, root, id).count()
      // the gate compact() runs: parity must fail here, pointer untouched
      assert(after != before)
      assert(Snapshots.currentId(root).contains(cur),
        "store must still be on the pre-compaction snapshot")
      // and the real compact() on the intact store passes its own gate
      assert(Snapshots.compact(s, root, targetFiles = 1) > id - 1)
    } finally rm(root)
  }

  test("zone-map pruning: skips files, never rows; stat-less manifests read fully") {
    val sq = s; import sq.implicits._
    val root = tmpRoot()
    try {
      val df = (0L until 1000L).map(i => (i, i % 7)).toDF("k", "v")
      // range-clustered publish with per-file (min, max) of k
      Snapshots.publish(s, root, df.repartitionByRange(10, org.apache.spark.sql.functions.col("k")),
        statsCol = Some("k"))
      val pruned = Snapshots.readPruned(s, root, 1, "k", 200, 399)
      assert(pruned.inputFiles.length < Snapshots.manifest(root, 1).size,
        s"no files skipped: ${pruned.inputFiles.length}")
      // pruning is I/O only: exact same rows as the unpruned filter
      val full = Snapshots.readAt(s, root, 1).filter("k BETWEEN 200 AND 399")
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
      // an append WITHOUT stats: its files cannot be skipped, so the
      // pruned read must open them and still be exact
      Snapshots.publish(s, root,
        (2000L until 2100L).map(i => (i, i % 7)).toDF("k", "v").repartition(2),
        append = true)
      val pruned2 = Snapshots.readPruned(s, root, 2, "k", 200, 399)
      assert(pruned2.count() == 200, "stat-less appended files must not be skipped")
      val entries2 = Snapshots.manifest(root, 2)
      assert(entries2.count(_.stats.isEmpty) == 2 && entries2.count(_.stats.isDefined) == 10)
      // compaction with a stats column RE-CLUSTERS: zone maps come back
      // disjoint and the same range read prunes again
      Snapshots.compact(s, root, targetFiles = 5, statsCol = Some("k"))
      val pruned3 = Snapshots.readPruned(s, root, 3, "k", 200, 399)
      assert(pruned3.inputFiles.length < 5, "re-clustered compact must restore pruning")
      assert(pruned3.count() == 200)
    } finally rm(root)
  }

  test("publishBatch is exactly-once under micro-batch replay at any crash point") {
    val root = tmpRoot()
    try {
      assert(Snapshots.publishBatch(s, root, block(1), 0L))
      assert(Snapshots.publishBatch(s, root, block(2), 1L))
      assert(Snapshots.currentId(root).contains(2) && Snapshots.lastBatchId(root).contains(1L))
      // foreachBatch replay: a crash between sink commit and checkpoint
      // write re-delivers the SAME batch id — must be a no-op, pointer
      // unmoved, no duplicate rows
      assert(!Snapshots.publishBatch(s, root, block(2), 1L))
      assert(!Snapshots.publishBatch(s, root, block(1), 0L))
      assert(Snapshots.currentId(root).contains(2))
      assert(Snapshots.readCurrent(s, root).count() == 200)
      // each micro-batch is a first-class release: per-batch CDC
      val cdc = Snapshots.readChanges(s, root, 1, 2)
      val b2 = block(2)
      assert(cdc.exceptAll(b2).isEmpty && b2.exceptAll(cdc).isEmpty)
      // ingestion continues after the replay noise
      assert(Snapshots.publishBatch(s, root, block(3), 2L))
      assert(Snapshots.readCurrent(s, root).count() == 300)
      // maintenance carries the batch watermark FORWARD: a micro-batch
      // replay arriving after compaction must still be a no-op, or the
      // compacted table double-ingests
      Snapshots.compact(s, root, targetFiles = 2)
      assert(Snapshots.lastBatchId(root).contains(2L),
        "compaction must preserve the streaming batch watermark")
      assert(!Snapshots.publishBatch(s, root, block(3), 2L))
      assert(Snapshots.readCurrent(s, root).count() == 300)
    } finally rm(root)
  }

  test("bloom sidecars: point lookups skip files on hash layouts; GC sweeps them with their data") {
    val sq = s; import sq.implicits._
    val root = tmpRoot()
    try {
      val df = (0L until 4000L).map(i => (i * 7, i % 5)).toDF("k", "v")
      // hash layout: every file's [min, max] spans the table — zone maps prune nothing
      Snapshots.publish(s, root, df.repartition(8, org.apache.spark.sql.functions.col("k")))
      assert(Snapshots.buildBlooms(s, root, 1, "k") == 8)
      assert(Snapshots.buildBlooms(s, root, 1, "k") == 0, "idempotent: sidecars reused")
      val hit = Snapshots.readPoint(s, root, 1, "k", Seq(7L, 1400L, 27993L))
      assert(hit.inputFiles.length < 8, "blooms must skip files")
      assert(hit.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 1400L, 27993L))
      // no false negatives: an absent key opens zero files and returns zero rows
      val miss = Snapshots.readPoint(s, root, 1, "k", Seq(3L)) // 3 not a multiple of 7
      assert(miss.count() == 0)
      // an append WITHOUT blooms stays readable (its files never skipped)
      Snapshots.publish(s, root, Seq((1000001L, 9L)).toDF("k", "v"), append = true)
      val afterAppend = Snapshots.readPoint(s, root, 2, "k", Seq(1000001L))
      assert(afterAppend.count() == 1, "bloom-less appended file must not be skipped")
      // GC: compact then expire — the 9 superseded data files AND their
      // bloom sidecars disappear together; no orphan metadata
      Snapshots.compact(s, root, targetFiles = 2)
      Snapshots.expire(root, keepFrom = 3)
      val bloomDir = root.resolve("blooms")
      val leftover =
        if (!java.nio.file.Files.exists(bloomDir)) Nil
        else {
          val walk = java.nio.file.Files.walk(bloomDir)
          try walk.iterator().asScala.toSeq.filter(p =>
            p.getFileName.toString.endsWith(".bloom"))
          finally walk.close()
        }
      assert(leftover.isEmpty, s"orphan bloom sidecars: $leftover")
      assert(Snapshots.readCurrent(s, root).count() == 4001)
    } finally rm(root)
  }

  test("bloom sidecars on a value-pure partitioned layout: repeated part-file basenames must not cross-wire filters") {
    val sq = s; import sq.implicits._
    val root = tmpRoot()
    try {
      // one upstream task writing every partition => IDENTICAL part-file
      // basenames under each _pv= dir; a name-keyed sidecar map collapses
      // them and readPoint then probes files with the WRONG bloom —
      // silently dropping matching rows
      val df = (0L until 4000L).map(i => (i, i % 4)).toDF("k", "p").repartition(1)
      val fresh = Snapshots.stageOccPartitioned(s, root, df, "p")
      Snapshots.commitOcc(root, fresh, Snapshots.OccAppend)
      val names = fresh.map(e =>
        java.nio.file.Paths.get(e.relPath).getFileName.toString)
      assert(names.distinct.size < names.size,
        s"test premise: basenames must collide across _pv= dirs, got $names")
      val built = Snapshots.buildBlooms(s, root, 1, "k")
      assert(built == fresh.size)
      // every key must be found — one probe per partition's key space
      val probes = Seq(0L, 1L, 2L, 3L, 3998L, 3999L)
      val got = Snapshots.readPoint(s, root, 1, "k", probes)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == probes.sorted, s"bloom cross-wiring lost rows: got $got")
    } finally rm(root)
  }

  test("publishLocked serializes a concurrent-writer storm; readers only ever see whole releases") {
    val root = tmpRoot()
    try {
      val writers = 4; val each = 3
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 1)
      val torn = new AtomicInteger(0)
      val stopReader = new AtomicBoolean(false)
      // a reader hammering readCurrent mid-storm: every append is a whole
      // 100-row block, so any visible count not a multiple of 100 is a
      // torn read
      val reader = pool.submit(new Runnable { def run(): Unit =
        while (!stopReader.get()) {
          Snapshots.currentId(root).foreach { _ =>
            if (Snapshots.readCurrent(s, root).count() % 100 != 0) torn.incrementAndGet()
          }
        }
      })
      // append=true chains off whatever is current WHEN THE LOCK IS HELD
      // (stage() carries Nil when no snapshot exists yet), so every
      // writer's releases all land - no outside-the-lock decision racing
      val tasks = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] { def call(): Seq[Int] =
          (0 until each).map { i =>
            Snapshots.publishLocked(s, root, block(w * 100 + i), append = true)
          }
        })
      }
      val ids = tasks.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      stopReader.set(true); reader.get(); pool.shutdown()
      // every writer got its OWN snapshot id - no clobbered staging dirs
      assert(ids.sorted == (1 to writers * each), s"id collision/loss: ${ids.sorted}")
      assert(torn.get() == 0, s"${torn.get()} torn reads during the storm")
      // and no release was lost: all 12 appended blocks are in the table
      assert(Snapshots.readCurrent(s, root).count() == writers * each * 100L)
      assert(Snapshots.verify(root, Snapshots.currentId(root).get).isEmpty)
    } finally rm(root)
  }

  test("merge-on-read deletes apply on EVERY read path and die physically at compaction") {
    val sq = s; import sq.implicits._
    val root = tmpRoot()
    try {
      val df = (0L until 1000L).map(i => (i, i % 5)).toDF("k", "v")
      Snapshots.publish(s, root,
        df.repartitionByRange(5, org.apache.spark.sql.functions.col("k")),
        statsCol = Some("k"))
      Snapshots.buildBlooms(s, root, 1, "k")
      // tombstone 100 keys in one commit; no data file touched
      val victims = (0L until 1000L by 10L)
      Snapshots.publishDeletes(s, root, victims.toDF("k"))
      assert(Snapshots.readCurrent(s, root).count() == 900)
      // time travel still sees pre-delete history
      assert(Snapshots.readAt(s, root, 1).count() == 1000)
      // pruned read: zone maps pick files, tombstones still apply
      val pruned = Snapshots.readPruned(s, root, 2, "k", 100, 299)
      assert(pruned.count() == 180, s"pruned saw ${pruned.count()}")
      // point read: the bloom ADMITS a deleted key (file-level filters
      // are immutable), the anti-join must remove it
      assert(Snapshots.readPoint(s, root, 2, "k", Seq(100L)).count() == 0)
      assert(Snapshots.readPoint(s, root, 2, "k", Seq(101L)).count() == 1)
      // delete CDC: the tombstoned keys, exactly
      val cdcDel = Snapshots.readDeleteChanges(s, root, 1, 2)
      assert(cdcDel.collect().map(_.getLong(0)).sorted.toSeq == victims.toSeq)
      // deleting already-deleted + absent keys is a no-op on the view
      Snapshots.publishDeletes(s, root, Seq(100L, 999999L).toDF("k"))
      assert(Snapshots.readCurrent(s, root).count() == 900)
      // compaction folds tombstones in physically: fresh manifest has
      // data files only, same visible rows
      Snapshots.compact(s, root, targetFiles = 2, statsCol = Some("k"))
      val cur = Snapshots.currentId(root).get
      assert(Snapshots.manifest(root, cur).forall(e => !e.relPath.startsWith("deletes/")))
      assert(Snapshots.readCurrent(s, root).count() == 900)
      // GC reclaims superseded data AND tombstones together
      Snapshots.expire(root, keepFrom = cur)
      assert(!java.nio.file.Files.exists(root.resolve("deletes")) ||
        { val w = java.nio.file.Files.walk(root.resolve("deletes"))
          try w.iterator().asScala.forall(p => java.nio.file.Files.isDirectory(p))
          finally w.close() }, "tombstone files must be swept with their history")
      assert(Snapshots.readCurrent(s, root).count() == 900)
    } finally rm(root)
  }

  test("upsert: tombstone + replacement rows in ONE commit; the sequence rule keeps it exact") {
    val sq = s; import sq.implicits._
    val root = tmpRoot()
    try {
      val df = (0L until 1000L).map(i => (i, 1L)).toDF("k", "v")
      Snapshots.publish(s, root, df.repartition(4, org.apache.spark.sql.functions.col("k")))
      Snapshots.buildBlooms(s, root, 1, "k")
      // update 100 existing keys to v=2 and INSERT two brand-new keys
      val changes = ((0L until 1000L by 10L).map(k => (k, 2L)) ++
        Seq((5000L, 7L), (5001L, 7L))).toDF("k", "v")
      Snapshots.publishUpsert(s, root, changes, "k")
      val cur = Snapshots.readCurrent(s, root)
      // counts: 1000 originals (each upserted key exactly once) + 2 inserts
      assert(cur.count() == 1002)
      assert(cur.filter("v = 2").count() == 100, "updated rows visible exactly once")
      assert(cur.filter("k >= 5000").count() == 2, "inserts ride the same commit")
      assert(cur.filter("k = 10 AND v = 1").count() == 0, "old version erased")
      // time travel: pre-upsert state intact
      assert(Snapshots.readAt(s, root, 1).filter("v = 2").count() == 0)
      // point read through the blooms returns the NEW version, once
      val p = Snapshots.readPoint(s, root, 2, "k", Seq(10L)).collect()
      assert(p.length == 1 && p.head.getLong(1) == 2L,
        s"point read must see the upserted row once: ${p.toSeq}")
      // a second upsert of the SAME keys layers correctly (seq 3 > seq 2)
      Snapshots.publishUpsert(s, root, Seq((10L, 3L)).toDF("k", "v"), "k")
      assert(Snapshots.readCurrent(s, root).filter("k = 10").collect()
        .map(_.getLong(1)).toSeq == Seq(3L))
      assert(Snapshots.readCurrent(s, root).count() == 1002)
      // compaction folds the whole merge-on-read stack flat
      Snapshots.compact(s, root, targetFiles = 2)
      assert(Snapshots.readCurrent(s, root).count() == 1002)
      assert(Snapshots.readCurrent(s, root).filter("k = 10").collect()
        .map(_.getLong(1)).toSeq == Seq(3L))
    } finally rm(root)
  }

  test("change data feed: net changes with retractions, boundary-exact") {
    val root = tmpRoot()
    try {
      val sq = s; import sq.implicits._
      // snap 1: keys 0..99 v=k; snap 2: upsert keys 10..19 (v+1000) and
      // NEW keys 200..204; snap 3: delete keys {15, 50, 202}
      Snapshots.publish(s, root,
        (0 until 100).map(k => (k.toLong, k.toLong)).toDF("k", "v").repartition(4))
      Snapshots.publishUpsert(s, root,
        ((10 until 20).map(k => (k.toLong, k + 1000L)) ++
          (200 until 205).map(k => (k.toLong, k.toLong))).toDF("k", "v"), "k")
      Snapshots.publishDeletes(s, root, Seq(15L, 50L, 202L).toDF("k"))
      val feed = Snapshots.readChangeFeed(s, root, 1, 3).collect()
        .map(r => (r.getString(2), r.getLong(0), r.getLong(1))).sorted.toSeq
      val expectDeletes = // OLD images of keys existing at 1 and erased in window
        ((10 until 20).map(k => ("delete", k.toLong, k.toLong)) :+
          (("delete", 50L, 50L)))
      val expectInserts = // window-added rows still visible at 3:
        // updates minus the later-deleted key 15, new keys minus 202
        ((10 until 20).filter(_ != 15).map(k => ("insert", k.toLong, k + 1000L)) ++
          (200 until 205).filter(_ != 202).map(k => ("insert", k.toLong, k.toLong)))
      assert(feed == (expectDeletes ++ expectInserts).sorted.toSeq)
      // a row inserted AND deleted inside the window (202) is NEITHER;
      // key 15 is delete-only (its short-lived new image never existed
      // at a boundary)
      assert(!feed.exists(_._2 == 202L))
      assert(feed.count(_._2 == 15L) == 1 && feed.filter(_._2 == 15L).head._1 == "delete")
      // (0, to]: a from-less feed is pure inserts of the visible state
      val fromZero = Snapshots.readChangeFeed(s, root, 0, 1)
      assert(fromZero.filter(org.apache.spark.sql.functions
        .col("_change_type") === "insert").count() == 100)
      // rewrite windows refuse loudly — a compaction is not a row change
      Snapshots.compactOcc(s, root, 2)
      val e = intercept[IllegalArgumentException] {
        Snapshots.readChangeFeed(s, root, 1, Snapshots.currentId(root).get)
      }
      assert(e.getMessage.contains("rewrote"), e.getMessage)
    } finally rm(root)
  }

  test("schema evolution composes with tombstones: deletes reach both schema eras") {
    val sq = s; import sq.implicits._
    val root = tmpRoot()
    try {
      Snapshots.publish(s, root, (0L until 100L).map(i => (i, 1L)).toDF("k", "v"))
      // era 2 ADDS a column
      Snapshots.publish(s, root,
        (100L until 200L).map(i => (i, 2L, s"x$i")).toDF("k", "v", "extra"), append = true)
      val cur = Snapshots.readCurrent(s, root)
      assert(cur.columns.toSeq == Seq("k", "v", "extra"))
      assert(cur.filter("extra IS NULL").count() == 100, "pre-evolution rows surface NULL")
      assert(Snapshots.readAt(s, root, 1).columns.toSeq == Seq("k", "v"),
        "time travel keeps the old shape")
      // one tombstone commit spanning BOTH eras
      Snapshots.publishDeletes(s, root, Seq(5L, 150L).toDF("k"))
      val after = Snapshots.readCurrent(s, root)
      assert(after.count() == 198)
      assert(after.filter("k IN (5, 150)").count() == 0,
        "the anti-join must reach rows on both sides of the schema boundary")
      // and compaction flattens the evolved, tombstoned table losslessly
      Snapshots.compact(s, root, targetFiles = 2)
      val flat = Snapshots.readCurrent(s, root)
      assert(flat.count() == 198 && flat.columns.toSeq == Seq("k", "v", "extra"))
      // a tombstone under a DIFFERENT key column is rejected at write
      // time (schema-merging mixed tombstones would null-pad the
      // anti-join into deleting the wrong thing)
      Snapshots.publishDeletes(s, root, Seq(7L).toDF("k")) // same column: fine
      intercept[IllegalArgumentException](
        Snapshots.publishDeletes(s, root, Seq(7L).toDF("other_key")))
      // an empty batch cannot FOUND a table; on an existing one it
      // advances the watermark with the manifest unchanged
      val fresh = tmpRoot()
      try {
        assert(!Snapshots.publishBatch(s, fresh, flat.limit(0), 0L))
        assert(Snapshots.currentId(fresh).isEmpty)
      } finally rm(fresh)
      assert(Snapshots.publishBatch(s, root, flat.limit(0), 99L))
      assert(Snapshots.lastBatchId(root).contains(99L))
      assert(Snapshots.readCurrent(s, root).count() == 197)
    } finally rm(root)
  }

  test("hashing a staged file deleted mid-commit surfaces NoSuchFileException, not ExecutionException") {
    val root = tmpRoot()
    try {
      val files = (0 until 4).map { i =>
        val f = root.resolve(s"part-$i.parquet")
        Files.write(f, Array.fill[Byte](1 << 10)(i.toByte))
      }
      assert(Snapshots.md5hexAll(files).size == 4)
      Files.delete(files(2)) // a concurrent cleaner removes one staged file
      val e = intercept[java.io.IOException](Snapshots.md5hexAll(files))
      assert(e.isInstanceOf[java.nio.file.NoSuchFileException], s"got ${e.getClass.getName}")
    } finally rm(root)
  }
}
