package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Drives a REAL Structured Streaming execution over driver testdata and
  * hands its sink back as a batch DataFrame — the harness that puts the
  * streaming PATH itself (file source → micro-batches → state-store
  * round-trips → watermark choreography → sink) under the driver's
  * DuckDB oracle gate, instead of only a batch twin of the same
  * transformation.
  *
  * Mechanics: the batch input is staged into `nFiles` event-time-ranged
  * parquet files and tailed with `maxFilesPerTrigger = 1`, so the query
  * genuinely crosses `nFiles` micro-batch boundaries (every stateful
  * operator serializes/deserializes its state between each pair). For
  * watermarked Append-mode aggregations, a SENTINEL row far past the
  * data's horizon lands as one more file: its batch advances the
  * watermark beyond every real window's end, closing and emitting them
  * all, while the sentinel's own window stays open and is never emitted
  * — the same feed-then-flush choreography StreamingSpec pins with
  * MemoryStream, here executed on the file-source path the reference's
  * nightly drops would use (new dump lands in the dir ⇒ new micro-batch,
  * DownloadDatabase.pm:87-115's poll-for-new-files loop as a stream).
  *
  * Scale note: this harness is a TEST/verify surface — the memory sink
  * gathers results on the driver, sized for gate SFs. Production streams
  * write to real sinks; the transforms under test are identical either
  * way, which is exactly the point.
  */
object StreamRun {

  /** Number of STATE partitions a stateful streaming query is born with
    * (`spark.sql.shuffle.partitions` at first start — Spark pins it in
    * the checkpoint's offset log, so restarts keep it regardless of the
    * session value). Default min(8, cores): every stateful stage runs
    * one task AND one state-store provider per partition PER
    * MICRO-BATCH, and a restart re-initializes every provider under
    * Spark's global `loadedProviders` lock — measured on stream_recovery
    * at local[32], state-commit stages carried 20-50 s of task run time
    * against ~1 s of task CPU (31/32 of every stage was provider/commit
    * blocking, and 8 cores beat 32: inverse scaling). The gate streams
    * carry trivial state (KBs), so 8 partitions bound the provider count
    * without ever being the compute bottleneck. Production streams with
    * LARGE state set SPARK_GRAFT_STREAM_STATE_PARTS to size state
    * volume / partition, exactly like any shuffle-partition choice —
    * the dial is the declared knob, the default is the small-state
    * envelope. Applied at stream BIRTH only, through [[stateSession]];
    * an existing checkpoint keeps the count it was born with (Spark's
    * own contract).
    */
  private[graft] def statePartitions(s: SparkSession): String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTS",
      math.min(8, s.sparkContext.defaultParallelism).toString)

  /** A session cloned from `s` whose `spark.sql.shuffle.partitions` is
    * [[statePartitions]]: streams built on it are born with the bounded
    * state-partition count, while the caller's session keeps its own
    * value (two streams starting at once never see each other's).
    */
  private[graft] def stateSession(s: SparkSession): SparkSession = {
    val scoped = GraftBridge.cloneSession(s)
    scoped.conf.set("spark.sql.shuffle.partitions", statePartitions(s))
    scoped
  }

  /** Stage `input` as `nFiles` files, stream it through `transform` in
    * Append mode, optionally flush with `sentinel`, return the sink's
    * rows as a frame on `s` (the memory-sink view lives and dies on the
    * stream's own session).
    *
    * CONTRACT: all staged files are listed at once, and the file
    * source's batch order ties on same-millisecond mtimes (parallel
    * write!), so arrival order is NOT event-time order. A watermarked
    * `transform` must therefore use a delay EXCEEDING the input's whole
    * event-time span (`Streams.spanningWatermark`) or risk silent
    * late-row drops; the sentinel still closes every real window
    * because it arrives strictly last (written after the first drain).
    * For enforced arrival order, use [[throughRestart]]'s
    * one-file-per-drain-cycle `leg` instead.
    */
  def toSink(s: SparkSession, input: DataFrame, tsCol: String, nFiles: Int,
             transform: DataFrame => DataFrame,
             sentinel: Option[DataFrame] = None): DataFrame = {
    val dir = Files.createTempDirectory("graft_stream_src")
    try {
      input.repartitionByRange(nFiles, col(tsCol))
        .write.mode("overwrite").parquet(dir.toString)
      val scoped = stateSession(s)
      val src = scoped.readStream.schema(input.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val name = "graft_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = transform(src).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        sentinel.foreach { extra =>
          extra.write.mode("append").parquet(dir.toString)
          // the sentinel batch advances the watermark; Spark then runs the
          // extra no-data batch that evicts/emits closed state, and
          // processAllAvailable blocks until it has
          q.processAllAvailable()
        }
      } finally { q.stop(); q.awaitTermination() }
      // the rows live in the memory sink: nothing reads `dir` after this
      GraftBridge.ofRows(s, scoped.table(name).queryExecution.analyzed)
    } finally graft.sources.GraftCatalog.rmTree(dir)
  }

  /** Like [[toSink]] but the stream lands in a caller-supplied
    * foreachBatch sink (e.g. the snapshot layer's transactional
    * [[graft.etl.Snapshots.publishBatch]]) instead of a memory table.
    */
  def toForeachBatch(s: SparkSession, input: DataFrame, tsCol: String, nFiles: Int,
                     transform: DataFrame => DataFrame,
                     sink: (DataFrame, Long) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_stream_fb")
    try {
      input.repartitionByRange(nFiles, col(tsCol))
        .write.mode("overwrite").parquet(dir.toString)
      val src = stateSession(s).readStream.schema(input.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val q = transform(src).writeStream
        .foreachBatch(sink).outputMode("append").start()
      try q.processAllAvailable()
      finally { q.stop(); q.awaitTermination() }
    } finally graft.sources.GraftCatalog.rmTree(dir)
  }

  /** Run `transform` through a CHECKPOINT RESTART into an exactly-once
    * parquet file sink: stage `nFiles` event-time-ranged files, feed the
    * first `firstFiles` into the live source dir ONE PER DRAIN CYCLE
    * (arrival order enforced, see `leg` — so a mid-span watermark delay
    * is safe and real windows EMIT before the stop), STOP the query,
    * then feed the rest + a sentinel to a brand-new query on the SAME
    * checkpoint and sink path. The second leg must rebuild watermark + window state
    * from the state store, and the parquet sink's `_spark_metadata`
    * manifest guarantees a reader sees each emitted window exactly once
    * across the two legs — the end-to-end exactly-once contract,
    * returned as a batch DataFrame for the oracle gate. (Hard-kill
    * choreography — task-level chaos at random batch boundaries — stays
    * in the ScalaTest chaos specs; this is the graceful-restart half the
    * reference's resumable-load discipline maps to.)
    *
    * Returns (sink contents, rows already committed before the restart)
    * — the second lets specs prove the restart interrupted a stream that
    * had genuinely emitted, not an empty warm-up.
    */
  def throughRestart(s: SparkSession, input: DataFrame, tsCol: String,
      nFiles: Int, firstFiles: Int, transform: DataFrame => DataFrame,
      sentinel: DataFrame): (DataFrame, Long) = {
    val root = Files.createTempDirectory("graft_stream_rst")
    val stage = root.resolve("stage"); val src = root.resolve("src")
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    input.repartitionByRange(nFiles, col(tsCol))
      .write.mode("overwrite").parquet(stage.toString)
    Files.createDirectories(src)
    val parts = {
      val st = Files.list(stage)
      try st.iterator().asScala.toSeq finally st.close()
    }.filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    // Event-time-ordered arrival must be ENFORCED, not assumed: file-source
    // listing order ties on same-millisecond mtimes (serial copies land
    // sub-ms apart) and the tie-break is directory order — one out-of-order
    // batch under a mid-span watermark silently late-drops a file's tail
    // (observed: a 7.5 h window band vanished at sf0.01). Feeding ONE file
    // per drain cycle puts arrival order under harness control.
    val scoped = stateSession(s)
    def leg(files: Seq[java.nio.file.Path]): Unit = {
      val q = transform(
        scoped.readStream.schema(input.schema).option("maxFilesPerTrigger", 1)
          .parquet(src.toString))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      files.foreach { p =>
        Files.copy(p, src.resolve(p.getFileName.toString))
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
    }
    leg(parts.take(firstFiles))
    val beforeRestart =
      try s.read.parquet(out).count()
      catch { case _: Throwable => 0L } // nothing committed yet
    val sentinelStage = root.resolve("sentinel")
    sentinel.coalesce(1).write.mode("overwrite").parquet(sentinelStage.toString)
    val sentinelPart = {
      val st = Files.list(sentinelStage)
      try st.iterator().asScala.toSeq finally st.close()
    }.filter(_.getFileName.toString.startsWith("part-"))
    leg(parts.drop(firstFiles) ++ sentinelPart)
    (s.read.parquet(out), beforeRestart)
  }
}
