package graft.streaming

import graft.TestSpark
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** C3: the streaming pipeline runs the same logic as the batch-checked
  * queries — MemoryStream in, watermarked transforms, memory sink out.
  */
class StreamingSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def ts(str: String): Timestamp = Timestamp.valueOf(str)

  test("tumbling aggregation over a stream matches the batch result") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streams.tumblingStream(df)
      .select(col("window.start").as("start"), col("event_type"), col("n"), col("sum_value"))
      .writeStream.format("memory").queryName("tumbling_test").outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close hour 10 and 11
    mem.addData((ts("2024-01-01 15:00:00"), "click", 0.5))
    q.processAllAvailable()
    val got = s.sql("SELECT start, event_type, n FROM tumbling_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(got.contains(("2024-01-01 10:00:00.0", "click", 2L)), got.toString)
    assert(got.contains(("2024-01-01 11:00:00.0", "view", 1L)), got.toString)
  }

  test("stream-static enrichment joins the dim per batch without join state") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
    val q = Streams.enrichStream(df, dim)
      .select(col("window.start").as("start"), col("c_mktsegment"), col("n"))
      .writeStream.format("memory").queryName("enrich_test").outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), 1L, 1.0),
      (ts("2024-01-01 10:10:00"), 1L, 2.0),
      (ts("2024-01-01 10:20:00"), 2L, 3.0),
      (ts("2024-01-01 10:30:00"), 9L, 4.0)) // no dim row → dropped by inner join
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), 1L, 0.5)) // close hour 10
    q.processAllAvailable()
    val got = s.sql("SELECT start, c_mktsegment, n FROM enrich_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    // the stateful node is only the window agg: join state is empty by design
    val progress = q.lastProgress
    q.stop()
    assert(got.contains(("2024-01-01 10:00:00.0", "BUILDING", 2L)), got.toString)
    assert(got.contains(("2024-01-01 10:00:00.0", "MACHINERY", 1L)), got.toString)
    assert(!got.exists(_._2 == null), got.toString)
    assert(progress.stateOperators.length == 1, progress.toString)
  }

  test("sliding windows assign each event to both overlapping windows") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streams.slidingStream(df)
      .select(col("window.start").as("start"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName("sliding_test").outputMode("append").start()
    // 10:40 lands in [10:00,11:00) and [10:30,11:30); 10:50 in the same two
    mem.addData(
      (ts("2024-01-01 10:40:00"), "click", 1.0),
      (ts("2024-01-01 10:50:00"), "click", 2.0))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), "click", 0.5))
    q.processAllAvailable()
    val got = s.sql("SELECT start, event_type, n FROM sliding_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(got.contains(("2024-01-01 10:00:00.0", "click", 2L)), got.toString)
    assert(got.contains(("2024-01-01 10:30:00.0", "click", 2L)), got.toString)
  }

  test("stateful sessionization emits gap-separated sessions") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Ev]
    val q = Streams.sessionizeStateful(mem.toDS())
      .writeStream.format("memory").queryName("sess_test").outputMode("append").start()
    // user 1: two events 5 min apart (one session), then 2h later another
    mem.addData(
      Streams.Ev(1L, ts("2024-01-01 10:00:00")),
      Streams.Ev(1L, ts("2024-01-01 10:05:00")),
      Streams.Ev(1L, ts("2024-01-01 12:30:00")),
      Streams.Ev(2L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    val got = s.sql("SELECT user_id, n_events, duration_sec FROM sess_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    // the 10:00-10:05 session of user 1 closed because 12:30 proved the gap
    assert(got.contains((1L, 2, 300L)), got.toString)
  }

  test("streaming SCD2 closes versions across micro-batches; current version stays in state") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Scd2Ev]
    val q = Streams.scd2Stream(mem.toDS())
      .writeStream.format("memory").queryName("scd2_test").outputMode("append").start()
    // batch 1: user 1 holds 'a' twice — nothing can close yet
    mem.addData(
      Streams.Scd2Ev(1L, 1L, "a", ts("2024-01-01 10:00:00")),
      Streams.Scd2Ev(1L, 2L, "a", ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    assert(s.sql("SELECT * FROM scd2_test").count() == 0,
      "an open version must never be emitted by the stream")
    // batch 2: the change to 'b' closes version 1 (2 collapsed events);
    // a later change back to 'a' closes version 2 — new version, not a
    // reopen of version 1
    mem.addData(
      Streams.Scd2Ev(1L, 3L, "b", ts("2024-01-01 11:00:00")),
      Streams.Scd2Ev(1L, 4L, "a", ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    val got = s.sql(
      "SELECT version, event_type, valid_from_sec, valid_to_sec, n_events FROM scd2_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    q.stop()
    val t0 = ts("2024-01-01 10:00:00").getTime / 1000
    val t2 = ts("2024-01-01 11:00:00").getTime / 1000
    val t3 = ts("2024-01-01 12:00:00").getTime / 1000
    assert(got == Seq(
      (1L, "a", t0, t2, 2L),
      (2L, "b", t2, t3, 1L)), got.toString)
  }

  test("rate-limited file-source stream emits watermark-closed windows matching batch") {
    val sf = graft.TestSpark.sf
    // file streams tail a directory; stage the single events file into one
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events-0.parquet"))
    val q = Streams.tumblingStream(Streams.eventStream(s, dir.toString))
      .writeStream.format("memory").queryName("file_stream_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = s.sql("SELECT window.start AS start, event_type, n FROM file_stream_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // append mode only emits windows the watermark has closed — every
    // emitted row must agree exactly with the batch aggregation
    assert(got.nonEmpty, "stream emitted nothing")
    val batch = Streams.tumblingAgg(graft.Tables.events(s, sf))
      .select(col("window.start").as("start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    got.foreach { case (k, n) =>
      assert(batch.get(k).contains(n), s"window $k: stream=$n batch=${batch.get(k)}")
    }
  }

  test("stream resumes from its checkpoint after a mid-stream stop and matches an uninterrupted run") {
    val sf = graft.TestSpark.sf
    val root = java.nio.file.Files.createTempDirectory("ckpt_recovery")
    val srcDir = root.resolve("src").toString
    // 6 source files + maxFilesPerTrigger=1 → 6 micro-batches to interrupt
    graft.Tables.events(s, sf).repartition(6).write.parquet(srcDir)

    def run(outDir: String, ckpt: String, stopAfterBatch: Option[Long]): Unit = {
      val q = Streams.tumblingStream(Streams.eventStream(s, srcDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      stopAfterBatch match {
        case Some(n) =>
          val deadline = System.currentTimeMillis() + 120000
          while (Option(q.lastProgress).forall(_.batchId < n) &&
            System.currentTimeMillis() < deadline) Thread.sleep(25)
          q.stop() // mid-stream: later source files never entered this run
          q.awaitTermination()
        case None =>
          q.processAllAvailable(); q.stop(); q.awaitTermination()
      }
    }
    val refOut = root.resolve("ref_out").toString
    run(refOut, root.resolve("ref_ckpt").toString, None) // uninterrupted
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    run(out, ckpt, Some(2L)) // killed after ~2 of 6 batches
    // the restart must rebuild watermark + window state from the
    // CHECKPOINT FILES, not the warm in-process provider cache — this is
    // the state the exactly-once contract has to survive across a JVM
    org.apache.spark.sql.GraftBridge.unloadStateStores()
    run(out, ckpt, None) // resume the SAME checkpoint to completion
    def rows(p: String) = s.read.parquet(p)
      .select(col("window.start").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val ref = rows(refOut)
    val got = rows(out)
    assert(ref.nonEmpty, "reference run emitted nothing")
    // exactly-once across the stop/restart: same multiset, no loss, no dups
    assert(got.sorted == ref.sorted,
      s"resumed output diverged: got ${got.size} rows, ref ${ref.size}")
  }

  test("flatMapGroupsWithState session state survives a checkpoint restart") {
    import org.apache.spark.sql.functions.col
    val sf = graft.TestSpark.sf
    val root = java.nio.file.Files.createTempDirectory("ckpt_fmgws")
    val srcDir = root.resolve("src").toString
    graft.Tables.events(s, sf).repartition(6).write.parquet(srcDir)

    def run(outDir: String, ckpt: String, stopAfterBatch: Option[Long]): Unit = {
      import s.implicits._
      val evs = Streams.eventStream(s, srcDir)
        .select(col("user_id"), col("ts")).as[Streams.Ev]
      val q = Streams.sessionizeStateful(evs).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      stopAfterBatch match {
        case Some(n) =>
          val deadline = System.currentTimeMillis() + 120000
          while (Option(q.lastProgress).forall(_.batchId < n) &&
            System.currentTimeMillis() < deadline) Thread.sleep(25)
          q.stop(); q.awaitTermination()
        case None =>
          q.processAllAvailable(); q.stop(); q.awaitTermination()
      }
    }
    val refOut = root.resolve("ref_out").toString
    run(refOut, root.resolve("ref_ckpt").toString, None)
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    run(out, ckpt, Some(2L)) // killed mid-stream with OPEN sessions in state
    org.apache.spark.sql.GraftBridge.unloadStateStores()
    run(out, ckpt, None)
    def rows(p: String) = s.read.parquet(p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    val ref = rows(refOut)
    val got = rows(out)
    assert(ref.nonEmpty, "reference run emitted no closed sessions")
    // GroupState (open session intervals) rebuilt from the checkpoint:
    // the resumed run must close exactly the sessions the uninterrupted
    // run closes — no loss, no duplicates, no split/merged sessions
    assert(got.sorted == ref.sorted,
      s"resumed sessions diverged: got ${got.size}, ref ${ref.size}")
  }

  test("chained-stateful rolling distinct survives kills at random batch boundaries (10 seeded runs)") {
    // C13 chains TWO stateful operators (dedup state + window-agg state);
    // a crash must restore BOTH consistently or the resumed run double-
    // counts (dedup state lost) or drops users (agg state lost). Property-
    // style: kill at a seeded-random micro-batch across 10 runs so the
    // recovery point lands before, inside, and after watermark closings.
    val sf = graft.TestSpark.sf
    val root = java.nio.file.Files.createTempDirectory("ckpt_chaos")
    val srcDir = root.resolve("src").toString
    val ev = graft.Tables.events(s, sf)
    ev.repartition(8).write.parquet(srcDir)
    // WATERMARK-STALL GUARD: Spark finalizes the tail windows in a
    // no-data batch AFTER the last data batch — its event-time stats
    // live only in memory, so a kill landing between the last data
    // commit and that no-data batch loses them, and a restart with no
    // new data can NEVER close the tail (engine semantics, not a state
    // bug: the next real event would). Every run — reference included —
    // therefore appends a fresh far-future "kicker" event before its
    // final drain: finalization always rides a data batch, never the
    // raceable no-data batch. The kicker's own window has nothing after
    // it, stays open, and is never emitted, so outputs stay comparable.
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    def kick(): Unit = ev.limit(1)
      .withColumn("ts", lit(new java.sql.Timestamp(maxTs.getTime + 6L * 3600 * 1000)))
      .write.mode("append").parquet(srcDir)

    def run(outDir: String, ckpt: String, stopAfterBatch: Option[Long]): Unit = {
      val q = Streams.rollingDistinctStream(Streams.eventStream(s, srcDir))
        .select(col("win.start").as("start"), col("n_users"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      stopAfterBatch match {
        case Some(n) =>
          val deadline = System.currentTimeMillis() + 120000
          while (Option(q.lastProgress).forall(_.batchId < n) &&
            System.currentTimeMillis() < deadline) Thread.sleep(25)
          q.stop(); q.awaitTermination()
        case None =>
          q.processAllAvailable(); q.stop(); q.awaitTermination()
      }
    }
    def rows(p: String) = s.read.parquet(p)
      .select(col("start").cast("long"), col("n_users"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val refOut = root.resolve("ref_out").toString
    kick()
    run(refOut, root.resolve("ref_ckpt").toString, None) // uninterrupted
    val ref = rows(refOut).sorted
    assert(ref.nonEmpty, "reference run emitted nothing")
    val rnd = new scala.util.Random(20260814L)
    (1 to 10).foreach { i =>
      val kill = rnd.nextInt(7).toLong // boundary within the 8 batches
      val out = root.resolve(s"out_$i").toString
      val ckpt = root.resolve(s"ckpt_$i").toString
      run(out, ckpt, Some(kill))
      // recovery must come from the checkpoint FILES, not warm providers
      org.apache.spark.sql.GraftBridge.unloadStateStores()
      kick() // guarantee the resumed run has a watermark-advancing batch
      run(out, ckpt, None)
      val got = rows(out).sorted
      assert(got == ref,
        s"run $i (killed after batch $kill): got ${got.size} rows, ref ${ref.size}; " +
          s"extra=${got.diff(ref).take(5)}; missing=${ref.diff(got).take(5)}")
    }
  }

  test("stream-stream interval join matches purchases to preceding clicks") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("ts", "user_id"), buys.toDF().toDF("ts", "user_id"), "user_id")
    val q = joined.writeStream.format("memory")
      .queryName("ssjoin_test").outputMode("append").start()
    clicks.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
    buys.addData(
      (ts("2024-01-01 10:30:00"), 1L),  // within 1h of user 1's click → match
      (ts("2024-01-01 12:30:00"), 2L))  // 2.5h after user 2's click → no match
    q.processAllAvailable()
    val got = s.sql("SELECT l_user_id, r_ts FROM ssjoin_test").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
    q.stop()
    assert(got == Set((1L, "2024-01-01 10:30:00.0")), got.toString)
  }

  test("stateful sessionization in batch mode emits the open tail and folds out-of-order events") {
    import s.implicits._
    // batch execution never fires timeouts — the trailing open session must
    // still be emitted; and the out-of-order 10:03 arrival must fold into
    // the 10:00-10:05 session without moving its end backwards
    val ds = Seq(
      Streams.Ev(1L, ts("2024-01-01 10:00:00")),
      Streams.Ev(1L, ts("2024-01-01 10:05:00")),
      Streams.Ev(1L, ts("2024-01-01 10:03:00")),
      Streams.Ev(1L, ts("2024-01-01 12:30:00")),
      Streams.Ev(2L, ts("2024-01-01 10:00:00"))).toDS()
    val got = Streams.sessionizeStateful(ds).collect()
      .map(r => (r.user_id, r.n_events, r.duration_sec)).toSet
    assert(got == Set((1L, 3, 300L), (1L, 1, 0L), (2L, 1, 0L)), got.toString)
  }

  test("watermark-permitted event a full gap before the stored session becomes its own closed session") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.Ev]
    val q = Streams.sessionizeStateful(mem.toDS())
      .writeStream.format("memory").queryName("sess_late_test").outputMode("append").start()
    // batch 1: session [12:00, 12:05]; watermark after batch = 11:05
    mem.addData(Streams.Ev(1L, ts("2024-01-01 12:00:00")), Streams.Ev(1L, ts("2024-01-01 12:05:00")))
    q.processAllAvailable()
    // batch 2: 11:20 is above the watermark but a full gap before 12:00 —
    // it must close as its OWN session, not stretch [12:00, 12:05] back
    mem.addData(Streams.Ev(1L, ts("2024-01-01 11:20:00")))
    q.processAllAvailable()
    // batch 3: prove the gap after 12:05 so the stored session closes too
    mem.addData(Streams.Ev(1L, ts("2024-01-01 15:00:00")))
    q.processAllAvailable()
    val got = s.sql("SELECT user_id, n_events, duration_sec FROM sess_late_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    assert(got.contains((1L, 1, 0L)), s"late singleton session missing: $got")
    assert(got.contains((1L, 2, 300L)), s"original session must stay [12:00,12:05]: $got")
  }

  test("ingest stream gates quality then dedups first arrival") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val good = "the " + (1 to 24).map(i => s"word$i").mkString(" ")
    val short = "the tiny one"                       // < 20 words → gated
    val noStop = (1 to 25).map(i => s"tok$i").mkString(" ") // 0 stopwords → gated
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Streams.ingestStream(df)
      .writeStream.format("memory").queryName("ingest_test").outputMode("append").start()
    mem.addData(
      (0L, good, ts("2024-01-01 10:00:00")),
      (1L, short, ts("2024-01-01 10:01:00")),
      (2L, noStop, ts("2024-01-01 10:02:00")),
      (3L, good.toUpperCase + "  ", ts("2024-01-01 10:03:00"))) // dup of 0 after normalization
    q.processAllAvailable()
    val got = s.sql("SELECT doc_id FROM ingest_test").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(got == Set(0L), s"only the first good unique doc survives, got $got")
  }

  test("windowed MG sketch accumulates across micro-batches through the state store") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "text")
    val q = Streams.streamTokenSketch(df)
      .select(col("window.start").as("start"), col("cand"), col("n_tok"))
      .writeStream.format("memory").queryName("sketch_test").outputMode("append").start()
    // two separate micro-batches into the SAME window: the sketch buffer
    // must survive state-store serialize/deserialize between them
    mem.addData((ts("2024-01-01 10:05:00"), "hot " + (1 to 80).map(i => s"a$i").mkString(" ")))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:35:00"), "hot hot " + (81 to 160).map(i => s"a$i").mkString(" ")))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), "closer")) // advance watermark
    q.processAllAvailable()
    val rows = s.sql("SELECT start, cand, n_tok FROM sketch_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getSeq[String](1), r.getLong(2)))
    q.stop()
    val w10 = rows.find(_._1 == "2024-01-01 10:00:00.0").get
    assert(w10._3 == 163L, s"both batches counted: $w10")
    assert(w10._2.contains("hot"), s"cross-batch heavy hitter survives the sketch: $w10")
    assert(w10._2.length <= 64, s"state stays capped at k: ${w10._2.length}")
  }

  test("windowed top-k heap accumulates across micro-batches and ignores batch boundaries") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, Double, Long)]
    val df = mem.toDF().toDF("ts", "value", "event_id")
    val q = Streams.streamTopEvents(df)
      .select(col("window.start").as("start"), col("top"), col("n_events"))
      .writeStream.format("memory").queryName("topk_test").outputMode("append").start()
    // batch 1 holds the eventual #1 and #3; batch 2 brings #2 plus noise —
    // the final top-3 must interleave elements of BOTH batches
    mem.addData((ts("2024-01-01 10:05:00"), 900.0, 1L), (ts("2024-01-01 10:06:00"), 700.0, 2L),
      (ts("2024-01-01 10:07:00"), 100.0, 3L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:35:00"), 800.0, 4L), (ts("2024-01-01 10:36:00"), 50.0, 5L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), 1.0, 6L)) // advance watermark
    q.processAllAvailable()
    val rows = s.sql("SELECT start, top, n_events FROM topk_test").collect()
      .map(r => (r.getTimestamp(0).toString,
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1))),
        r.getLong(2)))
    q.stop()
    val w10 = rows.find(_._1 == "2024-01-01 10:00:00.0").get
    assert(w10._3 == 5L, s"both batches counted: $w10")
    assert(w10._2 == Seq((90000L, 1L), (80000L, 4L), (70000L, 2L)),
      s"cross-batch exact top-3 in heap order: $w10")
  }

  test("streaming dedup keeps first arrival per key with bounded state") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "payload")
    val q = Streams.streamingDedup(df, "ts", Seq("doc_id"))
      .writeStream.format("memory").queryName("dedup_stream_test").outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, "first"),
      (ts("2024-01-01 10:00:05"), 1L, "dup-same-batch"),
      (ts("2024-01-01 10:01:00"), 2L, "first"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:02:00"), 1L, "dup-next-batch"))
    q.processAllAvailable()
    val got = s.sql("SELECT doc_id, payload FROM dedup_stream_test").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(got == Set((1L, "first"), (2L, "first")), got.toString)
  }

  test("batch sessionize agrees with stateful logic on a crafted case") {
    import s.implicits._
    val events = Seq(
      (10L, ts("2024-01-05 09:00:00"), 1L, "click", 0.5, "{}"),
      (11L, ts("2024-01-05 09:10:00"), 1L, "click", 0.5, "{}"),
      (12L, ts("2024-01-05 11:00:00"), 1L, "click", 0.5, "{}"),
      (13L, ts("2024-01-05 09:00:00"), 2L, "view", 0.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("sess").toString
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Streams.sessionize(s, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "2024-01-05 09:00:00", 2L, 600L),
      (1L, "2024-01-05 11:00:00", 1L, 0L),
      (2L, "2024-01-05 09:00:00", 1L, 0L)))
  }

  test("streaming dq audit counts rule violations per window across batches") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Option[Double])]
    val df = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = Streams.dqStream(df)
      .select(col("window.start").as("start"), col("n_rows"),
        col("v_negative_value"), col("v_unknown_type"), col("v_null_value"))
      .writeStream.format("memory").queryName("dq_test")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 10:05:00"), 1L, "click", Some(1.0)))
    q.processAllAvailable()
    // violations land in the SAME open window from a later batch
    mem.addData(
      (ts("2024-01-01 10:20:00"), 2L, "error", Some(-5.0)),
      (ts("2024-01-01 10:40:00"), 3L, "view", None))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), 9L, "click", Some(0.0))) // close hour 10
    q.processAllAvailable()
    val got = s.sql("SELECT * FROM dq_test WHERE start = '2024-01-01 10:00:00'")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    q.stop()
    assert(got.toSeq == Seq((3L, 1L, 1L, 1L)), got.mkString(","))
  }

  test("rolling distinct chains dedup and windowed count across batches") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
    val q = Streams.rollingDistinctStream(df)
      .select(col("win.start").as("start"), col("n_users"))
      .writeStream.format("memory").queryName("rolling_test")
      .outputMode("append").start()
    // user 1 twice in the same hour (dedup must collapse ACROSS batches),
    // user 2 in the next hour — windows overlap both
    mem.addData((ts("2024-01-01 10:05:00"), 1L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:40:00"), 1L), (ts("2024-01-01 11:10:00"), 2L))
    q.processAllAvailable()
    // advance the watermark far enough to close every touched window
    mem.addData((ts("2024-01-02 12:00:00"), 9L))
    q.processAllAvailable()
    val got = s.sql("SELECT start, n_users FROM rolling_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    q.stop()
    // 10:00-window start 05:00..10:00 see only user 1; windows covering
    // both hours (06:00..10:00 starts end 11:xx? no — 6h windows starting
    // 06:00..10:00 contain 10:xx AND 11:xx) count both users
    assert(got("2024-01-01 05:00:00.0") == 1L, got.toString)
    assert(got("2024-01-01 10:00:00.0") == 2L, got.toString)
    assert(got("2024-01-01 06:00:00.0") == 2L, got.toString)
    // user 2's last covering window sees only user 2
    assert(got("2024-01-01 11:00:00.0") == 1L, got.toString)
  }

  test("quarantine gate never routes a truly contaminated doc clean") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // eval suite: two docs; contamination = >= 3 shared distinct 3-shingles
    val evalDocs = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "one two three four five six")).toDF("doc_id", "text")
    // stream docs: 1 = contaminated (5 shared shingles with eval 1000),
    // 2 = clean (unique words), 3 = borderline-clean (2 shared shingles)
    val docs = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "alpha beta gamma delta epsilon zeta xx"),
      (ts("2024-01-01 10:01:00"), 2L, "totally unrelated words nothing shared here"),
      (ts("2024-01-01 10:02:00"), 3L, "one two three unrelatedtail wordsdiverge"))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.quarantineStream(df, evalDocs, minHits = 3)
      .writeStream.format("memory").queryName("quarantine_test")
      .outputMode("append").start()
    // split across micro-batches: the gate is stateless so batching is
    // irrelevant to the route — pinned by feeding one doc per batch
    docs.foreach { d => mem.addData(d); q.processAllAvailable() }
    val got = s.sql("SELECT doc_id, route FROM quarantine_test").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    q.stop()
    // the exact batch decision (the D17 join) on the same frames
    val evalSh = graft.ops.Dedup.withShingles(evalDocs)
      .select(explode(col("sh")).as("shingle")).distinct()
    val contaminated = graft.ops.Dedup.withShingles(
        docs.toDF("ts", "doc_id", "text").select("doc_id", "text"))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(evalSh, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
      .collect().map(_.getLong(0)).toSet
    assert(contaminated == Set(1L), s"fixture drifted: $contaminated")
    // the invariant: no false negatives — contaminated docs ALWAYS
    // quarantine; clean routes may over-quarantine (bloom FPs) but on a
    // 2^20-bit filter with ~20 items these fixtures route exactly
    contaminated.foreach(id => assert(got(id) == "quarantine", got.toString))
    assert(got(2L) == "clean" && got(3L) == "clean", got.toString)
  }

  test("two quarantine gates in one session keep their own bloom filters") {
    import s.implicits._
    // Before r11 the gate registered its bloom under a shared session
    // function name — creating a second gate clobbered the first, so any
    // plan analyzed afterwards silently probed the WRONG filter. The bloom
    // is now a per-gate expression literal; both gates must stay correct
    // regardless of creation order and evaluation order.
    val evalA = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val evalB = Seq((2L, "one two three four five six")).toDF("doc_id", "text")
    val gateA = Streams.quarantineGate(evalA, minHits = 3)
    val gateB = Streams.quarantineGate(evalB, minHits = 3) // would clobber gateA pre-fix
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zz"), // contaminated vs A only
      (20L, "one two three four five seven"),     // contaminated vs B only
      (30L, "nothing shared with either suite at all")).toDF("doc_id", "text")
      .withColumn("graft_w", split(lower(col("text")), " "))
    val routed = docs
      .withColumn("route_a", gateA(col("graft_w")))
      .withColumn("route_b", gateB(col("graft_w")))
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getString(4))).toMap
    assert(routed(10L) == ("quarantine", "clean"), routed.toString)
    assert(routed(20L) == ("clean", "quarantine"), routed.toString)
    assert(routed(30L) == ("clean", "clean"), routed.toString)
  }

  test("C15 as-of join: cross-batch disorder, finality, and state pruning") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.AsofIn]
    val q = Streams.asofStream(mem.toDS())
      .writeStream.format("memory").queryName("asof_stream_test").outputMode("append").start()
    def ord(k: Long, t: String, ok: Long, cents: Long) =
      Streams.AsofIn(k, ts(t), is_order = true, ok, cents, -1L)
    def ev(k: Long, t: String, id: Long) =
      Streams.AsofIn(k, ts(t), is_order = false, -1L, 0L, id)

    // batch 1: an event arrives BEFORE the order that should match it
    // (event-time 10:30 event; its 10:00 order comes in batch 2)
    mem.addData(ev(1L, "2024-01-01 10:30:00", 100L), ord(1L, "2024-01-01 09:00:00", 7L, 111L))
    q.processAllAvailable()
    // nothing may emit yet: watermark hasn't passed the event
    assert(s.sql("SELECT * FROM asof_stream_test").count() == 0L)

    // batch 2: the better order arrives late in PROCESSING time but
    // earlier in event time than the event — plus a key-2 event with no
    // order ever (null-extended), and two equal-time orders (tie rule)
    mem.addData(ord(1L, "2024-01-01 10:00:00", 9L, 222L),
      ev(2L, "2024-01-01 10:40:00", 200L),
      ord(3L, "2024-01-01 10:00:00", 4L, 300L), ord(3L, "2024-01-01 10:00:00", 5L, 305L),
      ev(3L, "2024-01-01 10:00:00", 300L)) // same instant as its orders
    q.processAllAvailable()
    // batch 3: advance the watermark (2h) far past every event
    mem.addData(ev(9L, "2024-01-01 20:00:00", 999L))
    q.processAllAvailable()
    mem.addData(ev(9L, "2024-01-02 09:00:00", 998L))
    q.processAllAvailable()

    val got = s.sql("SELECT event_id, matched_order, matched_total_cents FROM asof_stream_test")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    // the out-of-(processing)-order 10:00 order is the match, not 09:00
    assert(got(100L) == (Some(9L), Some(222L)), got.toString)
    // no order for key 2 → null-extended, still emitted
    assert(got(200L) == (None, None), got.toString)
    // order at the event's own instant matches; larger key wins the tie
    assert(got(300L) == (Some(5L), Some(305L)), got.toString)
    // finality: each event emitted exactly once
    assert(s.sql("SELECT count(*) FROM asof_stream_test").head().getLong(0) ==
      s.sql("SELECT count(DISTINCT event_id) FROM asof_stream_test").head().getLong(0))
    // state pruned: keys 1-3 hold at most one dimension order row each;
    // only key 9's pending event + orders survive the final watermark
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows <= 6, s"state not pruned: $stateRows rows")
    q.stop()
  }

  test("C15 watermark boundary: an event AT the watermark pends; a later same-instant order is late-dropped") {
    // The r11 advisor's 1 µs question: what happens at ts == watermark?
    // Measured here: Spark's late filter for this operator drops rows AT
    // the watermark (non-strict), so an order timestamped exactly at the
    // watermark can NEVER be admitted in a later batch — and the strict
    // (<) emission rule means the boundary event hadn't emitted yet
    // anyway. Finality therefore holds from BOTH sides; this pins the
    // exact choreography so a Spark behavior change fails a test, not
    // production.
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Streams.AsofIn]
    val q = Streams.asofStream(mem.toDS())
      .writeStream.format("memory").queryName("asof_boundary_test").outputMode("append").start()
    def ord(k: Long, t: String, ok: Long, cents: Long) =
      Streams.AsofIn(k, ts(t), is_order = true, ok, cents, -1L)
    def ev(k: Long, t: String, id: Long) =
      Streams.AsofIn(k, ts(t), is_order = false, -1L, 0L, id)
    // batch 1: the event at 10:00, an early order, and a 12:00 rider
    // that sets max event time — the 2h watermark lands EXACTLY at 10:00
    mem.addData(ev(1L, "2024-01-01 10:00:00", 100L),
      ord(1L, "2024-01-01 09:00:00", 7L, 700L),
      ev(8L, "2024-01-01 12:00:00", 800L))
    q.processAllAvailable()
    // watermark == event time: the strict rule keeps the event pending —
    // emitting now would race whatever Spark does at the exact boundary
    assert(s.sql("SELECT * FROM asof_boundary_test WHERE event_id = 100").count() == 0L,
      "event at exactly the watermark must pend one batch longer")
    // batch 2: an order at the same instant arrives one batch later —
    // Spark's non-strict late filter DROPS it (ts <= watermark)
    mem.addData(ord(1L, "2024-01-01 10:00:00", 9L, 900L))
    q.processAllAvailable()
    // batch 3: push the watermark strictly past 10:00 → the event emits
    mem.addData(ev(8L, "2024-01-01 12:00:01", 801L))
    q.processAllAvailable()
    val row = s.sql(
      "SELECT matched_order, matched_total_cents FROM asof_boundary_test WHERE event_id = 100")
      .collect()
    assert(row.length == 1, "boundary event must emit exactly once")
    // the match is the 09:00 order: the same-instant order was LATE by
    // Spark's own boundary rule, so the emitted match was final all along
    assert(row.head.getLong(0) == 7L && row.head.getLong(1) == 700L,
      s"late same-instant order must not alter the match: ${row.head}")
    q.stop()
  }

  test("C15 fuzz: random batch splits and processing disorder never change the matches") {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 31337)
      val base = ts("2024-03-01 08:00:00").getTime
      // all traffic inside a 90-min event-time span so the 2h watermark
      // never drops anything — ground truth stays the full relation
      def t() = new java.sql.Timestamp(base + rnd.nextInt(90 * 60) * 1000L)
      val orders = (1 to 60).map(i =>
        Streams.AsofIn(rnd.nextInt(10).toLong, t(), is_order = true, i.toLong, i * 100L, -1L))
      val events = (1 to 100).map(i =>
        Streams.AsofIn(rnd.nextInt(10).toLong, t(), is_order = false, -1L, 0L, i.toLong))
      // expected: per event, latest same-key order at-or-before, larger
      // key breaking time ties — computed independently in plain Scala
      val expected = events.map { e =>
        val m = orders.filter(o => o.k == e.k && !o.ts.after(e.ts))
          .sortBy(o => (o.ts.getTime, o.o_orderkey)).lastOption
        e.event_id -> m.map(_.o_orderkey)
      }.toMap
      val mixed = rnd.shuffle(orders ++ events)
      val batches = mixed.grouped(1 + rnd.nextInt(40)).toSeq // random splits
      val mem = MemoryStream[Streams.AsofIn]
      val name = s"asof_fuzz_$seed"
      val q = Streams.asofStream(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      // flush: push the watermark far past the span
      mem.addData(Streams.AsofIn(0L, ts("2024-03-02 12:00:00"), is_order = false, -1L, 0L, -99L))
      q.processAllAvailable()
      val got = s.sql(s"SELECT event_id, matched_order FROM $name WHERE event_id > 0")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      q.stop()
      assert(got == expected, s"seed $seed: ${got.toSeq.diff(expected.toSeq).take(5)}")
    }
  }

  test("throughRestart interrupts a stream that had already committed windows, and the" +
       " restarted leg completes to the exact batch answer") {
    val sf = graft.TestSpark.sf
    val ev = graft.Tables.events(s, sf).select("event_id", "ts", "event_type", "value")
    val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
    val delayMin = (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 60000 / 4 + 60
    val sentinelTs = new Timestamp(mm.getTimestamp(1).getTime + (delayMin + 120) * 60000)
    val sentinel = s.range(1).select(lit(-1L).as("event_id"), lit(sentinelTs).as("ts"),
      lit("sentinel").as("event_type"), lit(0.0).cast(ev.schema("value").dataType).as("value"))
    val (sunk, beforeRestart) = StreamRun.throughRestart(s, ev, "ts", 8, 4,
      df => Streams.tumblingAgg(df.withWatermark("ts", s"$delayMin minutes")), sentinel)
    // the stop genuinely interrupted an EMITTING stream: the quarter-span
    // watermark closed (and the parquet sink committed) real windows in
    // leg 1 — without this the recovery claim degrades to a cold start
    assert(beforeRestart > 0, "leg 1 committed nothing before the restart")
    val got = sunk.select(col("window.start").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Streams.tumblingAgg(ev)
      .select(col("window.start").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == batch,
      s"exactly-once across the restart broken: ${got.size} vs ${batch.size} windows")
  }

  test("toSink and toForeachBatch delete their staged input once the query stops") {
    import s.implicits._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def staged(): Int = {
      val st = java.nio.file.Files.list(tmp)
      try st.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_stream_src") || n.startsWith("graft_stream_fb")
      } finally st.close()
    }
    val input = Seq((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 11:00:00"), 2L))
      .toDF("ts", "v")
    val before = staged()
    val sunk = StreamRun.toSink(s, input, "ts", 2, identity)
    assert(staged() == before)
    assert(sunk.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
    val seen = new java.util.concurrent.atomic.AtomicLong
    StreamRun.toForeachBatch(s, input, "ts", 2, identity,
      (df, _) => { seen.addAndGet(df.count()); () })
    assert(staged() == before)
    assert(seen.get == 2L)
  }
}
