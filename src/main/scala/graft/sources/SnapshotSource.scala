package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath, Paths => JPaths}

import graft.etl.Snapshots
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.SaveMode

/** `spark.read.format("graft-snapshot")` / `spark.readStream.format(
  * "graft-snapshot")` — the A31 snapshot layer as a first-class Spark
  * data source, batch and streaming.
  *
  * BATCH: resolves `_current` (or a pinned `snapshot` id / named `ref`
  * branch|tag) to a manifest and hands Spark a [[HadoopFsRelation]]
  * whose [[SnapshotFileIndex]] lists the manifest's exact file set —
  * planning never lists a directory, pushed predicates prune whole
  * files via zone maps + bloom sidecars, and Spark's own vectorized
  * parquet scan (pushdown, column pruning, codegen) reads the
  * survivors. This is the read architecture of the open table formats,
  * expressed in the narrowest possible integration: a FileIndex.
  *
  * Options:
  *  - `path` (required): snapshot store root.
  *  - `snapshot`: pin a snapshot id (time travel). Default: `_current`.
  *  - `ref`: read a branch/tag head by name (mutually exclusive with
  *    `snapshot`).
  *  - `statscol`: column name the manifest's LEGACY anonymous (lo, hi)
  *    zone range describes; named `name=lo:hi` ranges need no option.
  *
  * Tombstone-bearing snapshots are REFUSED loudly: a file-scan relation
  * cannot apply merge-on-read deletes, and silently surfacing deleted
  * rows would be a wrong answer. `Snapshots.readAt` applies them; a
  * compaction folds them away and makes the snapshot scannable here.
  *
  * STREAMING: the store as a micro-batch CDC source — offsets ARE
  * snapshot ids, `getBatch(a, b)` is the manifest diff (exactly the
  * `readChanges` contract: appends reuse files verbatim, so the file-set
  * difference is the row-set difference and every appended row is
  * delivered exactly once). Append-only contract: delete commits
  * surface only their additions (documented, like the add-stream half
  * of a CDF feed). `startsnapshot` (exclusive, default 0) bounds the
  * initial batch; retention (`expire`) must cover a resuming stream's
  * lag, as with any log-compacted source.
  */
final class SnapshotSource extends RelationProvider
    with DataSourceRegister with StreamSourceProvider
    with CreatableRelationProvider with StreamSinkProvider {

  override def shortName(): String = "graft-snapshot"

  private def rootOf(parameters: Map[String, String]): JPath = {
    val opts = CaseInsensitiveMap(parameters)
    JPaths.get(opts.getOrElse("path",
      throw new IllegalArgumentException("graft-snapshot requires option 'path'")))
  }

  private def resolveId(root: JPath, opts: CaseInsensitiveMap[String]): Int = {
    require(!(opts.contains("snapshot") && opts.contains("ref")),
      "options 'snapshot' and 'ref' are mutually exclusive")
    opts.get("snapshot").map(_.toInt)
      .orElse(opts.get("ref").map { r =>
        Snapshots.refId(root, r).getOrElse(
          throw new IllegalArgumentException(s"no branch or tag named '$r' under $root"))
      })
      .orElse(Snapshots.currentId(root))
      .getOrElse(throw new IllegalStateException(s"no published snapshot under $root"))
  }

  private def dataEntries(root: JPath, n: Int,
                          forbidTombstones: Boolean = true): Seq[Snapshots.ManifestEntry] = {
    val (dels, datas) = Snapshots.manifest(root, n).partition(Snapshots.isDelete)
    require(dels.isEmpty || !forbidTombstones,
      s"snapshot $n of $root carries ${dels.size} merge-on-read tombstone file(s); " +
        "a file-scan relation cannot apply them — read via Snapshots.readAt or compact first")
    require(datas.nonEmpty, s"snapshot $n of $root lists no data files")
    datas
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val opts = CaseInsensitiveMap(parameters)
    val root = rootOf(parameters)
    val n = resolveId(root, opts)
    val datas = dataEntries(root, n)
    val index = new SnapshotFileIndex(root, n, datas, opts.get("statscol"))
    HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      // schema-merge like the layer's own read path — evolved releases
      // may ADD columns (snapshot_evolve) — from one footer per commit
      dataSchema = Snapshots.footerSchema(spark, root, datas),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = parameters)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  // ---- batch write: df.write.format("graft-snapshot") ----

  /** `SaveMode` mapped onto the layer's commit protocol. Append on an
    * existing store is an append-mode release (prior files reused
    * verbatim); Overwrite is a rewrite commit — a NEW snapshot listing
    * only the new files, with full history retained for time travel
    * (the layer never deletes data outside `expire`). Writes serialize
    * through the store's writer lock; `occ=true` switches appends to
    * the optimistic path (data written outside the lock, rebase at the
    * pointer). `statscol` declares a zone-map stats column so the
    * written files are immediately prunable by the read path.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val opts = CaseInsensitiveMap(parameters)
    val root = rootOf(parameters)
    val statsCol = opts.get("statscol")
    val exists = Snapshots.currentId(root).isDefined
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"snapshot store $root already has a published snapshot " +
            s"(${Snapshots.currentId(root).get}); use SaveMode.Append or Overwrite")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if opts.get("occ").exists(_.toBoolean) =>
        Snapshots.publishOcc(spark, root, data, statsCol)
      case SaveMode.Append =>
        Snapshots.publishLocked(spark, root, data, append = exists, statsCol)
      case _ => // Overwrite, or any mode's first write
        Snapshots.publishLocked(spark, root, data, append = false, statsCol)
    }
    createRelation(sqlContext, parameters)
  }

  // ---- streaming sink: writeStream.format("graft-snapshot") ----

  /** One atomic appended snapshot per micro-batch, exactly-once by the
    * layer's own contract: [[Snapshots.publishBatch]] commits the batch
    * id in the SAME pointer rename as the data, so the at-least-once
    * replay any streaming sink must tolerate is a provable no-op at
    * every crash point (pinned in SnapshotSpec / the
    * `stream_snapshot_ingest` gate — this sink is that protocol behind
    * the format API instead of a foreachBatch closure).
    */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-snapshot sink does not partition by columns; use publishOverwrite layouts")
    val opts = CaseInsensitiveMap(parameters)
    opts.get("morkey") match {
      case Some(key) =>
        // UPSERT sink: each micro-batch lands as ONE atomic
        // tombstone+rows merge-on-read commit keyed on `morkey` —
        // the sink a stream that MAINTAINS a mirror table needs.
        // Update mode (stateful re-emissions supersede by key) and
        // Append mode (insert-or-replace events) both mean exactly
        // that here; Complete would need per-batch overwrite — still
        // refused.
        require(outputMode == OutputMode.Append() || outputMode == OutputMode.Update(),
          s"graft-snapshot upsert sink supports Append/Update; $outputMode is not")
        // 'morkey' is a column LIST, like the catalog property: a
        // composite key mirrors a multi-column MySQL PRIMARY KEY
        new SnapshotUpsertSink(sqlContext.sparkSession, rootOf(parameters),
          key.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          applyChangefeed = opts.get("applychangefeed").exists(_.toBoolean),
          statsCol = opts.get("statscol"))
      case None =>
        // Append ONLY: Update would land each re-emission of a changing
        // group as a new appended row (an update log, not the table the
        // user asked for), and Complete would need per-batch overwrite —
        // both silently wrong under this sink's append-a-release contract
        require(outputMode == OutputMode.Append(),
          s"graft-snapshot sink appends immutable releases; $outputMode is not " +
            "supported (set 'morkey' for the upsert sink)")
        new SnapshotSink(sqlContext.sparkSession, rootOf(parameters))
    }
  }

  // ---- streaming ----

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val opts = CaseInsensitiveMap(parameters)
    val root = rootOf(parameters)
    require(!(opts.contains("startsnapshot") && opts.contains("starttimestamp")),
      "startsnapshot and starttimestamp are mutually exclusive")
    val n = resolveId(root, opts)
    val cdf = opts.get("changefeed").exists(_.toBoolean)
    // change-feed mode may start on a tombstone-bearing table: the feed
    // APPLIES tombstones (that is its whole point), so schema resolution
    // must not refuse them the way the append-only file stream does
    val base = Snapshots.footerSchema(sqlContext.sparkSession, root,
      dataEntries(root, n, forbidTombstones = !cdf))
    val st = schema.getOrElse(
      if (cdf) StructType(base.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false))
      else base)
    (shortName(), st)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val opts = CaseInsensitiveMap(parameters)
    val root = rootOf(parameters)
    require(!(opts.contains("startsnapshot") && opts.contains("starttimestamp")),
      "startsnapshot and starttimestamp are mutually exclusive")
    // starttimestamp (epoch millis): begin AFTER the snapshot that was
    // current at that instant — the stream delivers only changes
    // committed later, the instant-addressed twin of startsnapshot
    val start = opts.get("startsnapshot").map(_.toInt)
      .orElse(opts.get("starttimestamp").map(ms =>
        Snapshots.idAsOfMillis(root, ms.toLong).getOrElse(0)))
      .getOrElse(0)
    val skipRewrites = opts.get("skiprewrites").exists(_.toBoolean)
    val cdf = opts.get("changefeed").exists(_.toBoolean)
    val maxSnaps = opts.get("maxsnapshotspertrigger").map { v =>
      val n = v.toInt
      require(n >= 1, s"maxsnapshotspertrigger must be >= 1, got $n")
      n
    }.getOrElse(Int.MaxValue)
    val maxBytes = opts.get("maxbytespertrigger").map { v =>
      val n = v.toLong
      require(n >= 1L, s"maxbytespertrigger must be >= 1, got $n")
      n
    }.getOrElse(Long.MaxValue)
    val (_, st) = sourceSchema(sqlContext, schema, providerName, parameters)
    new SnapshotStreamSource(sqlContext.sparkSession, root, st, start, skipRewrites, cdf,
      maxSnaps, maxBytes)
  }
}

/** V1 streaming sink half of [[SnapshotSource]]: the snapshot store as
  * a `writeStream` target. The incoming micro-batch frame is
  * streaming-tagged; re-wrap its already-planned physical batch as an
  * ordinary batch frame (valid within `addBatch`, per the V1 contract)
  * and hand it to the layer's idempotent batch commit.
  */
final class SnapshotSink(spark: SparkSession, root: JPath) extends Sink {
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    Snapshots.publishBatch(spark, root, GraftSqlShims.asBatchFrame(data), batchId)
  }
  override def toString: String = s"SnapshotSink[$root]"
}

/** UPSERT half of the sink pair (`morkey` option): each micro-batch is
  * ONE atomic merge-on-read commit — a tombstone of every key the
  * batch touches plus the batch's rows — with the batch id riding the
  * same pointer rename (the [[Snapshots.publishUpsertBatch]] contract,
  * so replays are provable no-ops at every crash point). O(changed
  * rows) I/O per batch regardless of table size; `CALL system.compact`
  * folds the read-side anti-join away whenever maintenance runs.
  *
  * With `applychangefeed=true` the incoming rows are a change feed
  * (payload + `_change_type`): net-per-window semantics mean a key
  * carries at most one insert and at most one delete per batch, so an
  * insert row upserts (its retraction is subsumed — the upsert
  * tombstones the key anyway) and a delete with no insert becomes a
  * pure delete. `readStream.option("changefeed", true)` piped into
  * `writeStream.option("morkey", k).option("applychangefeed", true)`
  * is therefore a complete MIRROR-MAINTENANCE pipeline: the downstream
  * table tracks a mutating upstream through inserts, updates AND
  * deletes, exactly once, across restarts.
  */
final class SnapshotUpsertSink(spark: SparkSession, root: JPath,
                               keys: Seq[String], // composite: every column
                               applyChangefeed: Boolean,
                               statsCol: Option[String]) extends Sink {
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val df = GraftSqlShims.asBatchFrame(data)
    if (applyChangefeed) {
      require(df.columns.contains("_change_type"),
        "applychangefeed=true expects a change-feed frame with _change_type " +
          "(readStream.option(\"changefeed\", true) produces one)")
      val inserts = df.filter(col("_change_type") === "insert").drop("_change_type")
      // every delete key rides as is: the upsert tombstones the DISTINCT
      // union of insert and delete keys, so a key deleted and reinserted
      // in one window lands once either way
      val deletes = df.filter(col("_change_type") === "delete").select(keys.map(col): _*)
      Snapshots.publishUpsertBatch(spark, root, inserts, keys, batchId,
        deleteKeys = Some(deletes), statsCol = statsCol)
    } else {
      Snapshots.publishUpsertBatch(spark, root, df, keys, batchId,
        statsCol = statsCol)
    }
  }
  override def toString: String = s"SnapshotUpsertSink[$root key=${keys.mkString(",")}]"
}

/** Offset = a published snapshot id. JSON form is just the number, so
  * checkpointed offsets stay human-readable (`cat offsets/0`).
  */
final case class SnapshotOffset(id: Int) extends Offset {
  override def json: String = id.toString
}

/** The manifest-diff increment shared by the V1 streaming source and the
  * DSv2 catalog micro-batch stream — one definition of "what a window
  * (from, to] delivers", so the two streaming stacks cannot disagree.
  */
private[sources] object SnapshotDiff {

  /** Data files ADDED over `(from, to]`.
    *
    * REWRITE GUARD: if a commit in the window DROPPED data files (a
    * compaction, OCC rewrite or partition overwrite), the manifest diff
    * would re-deliver every rewritten row as an "add" — silent
    * duplication downstream. Detection is lineage-exact (dropped =
    * from's files absent from to, whatever intermediate ids branches
    * consumed). Default: fail LOUDLY. `skipRewrites=true` skips the
    * whole window's adds instead (the skip-change-commits semantics
    * open table formats converge on) — duplicates never, at the cost of
    * appends that share a window with the rewrite; quiesce maintenance
    * mid-stream to avoid both.
    */
  def added(root: JPath, from: Int, to: Int,
            skipRewrites: Boolean): Seq[Snapshots.ManifestEntry] = {
    val before: Set[String] =
      if (from <= 0) Set.empty
      else Snapshots.manifest(root, from).filterNot(Snapshots.isDelete)
        .map(_.relPath).toSet
    val after = Snapshots.manifest(root, to).filterNot(Snapshots.isDelete)
    val afterPaths = after.map(_.relPath).toSet
    val dropped = before.diff(afterPaths)
    // MERGE-ON-READ GUARD, same class as the rewrite guard: a delta
    // commit (equality-delete tombstone + replacement rows) drops no
    // file, but it logically REMOVES rows — streaming its adds would
    // deliver an UPDATE's new images with no retraction of the old
    // ones: silent double-count downstream. Tombstones committed inside
    // the window make it non-append; fail loudly (or skip whole).
    val newTombstones = Snapshots.manifest(root, to)
      .filter(Snapshots.isDelete).count(e => e.seq > from && e.seq <= to)
    if ((dropped.nonEmpty || newTombstones > 0) && !skipRewrites)
      throw new IllegalStateException(
        s"snapshot window ($from, $to] of $root is not append-only: " +
          s"${dropped.size} data file(s) rewritten, $newTombstones tombstone " +
          "commit(s) landed — the adds stream would re-deliver or double-count " +
          "rows. Quiesce maintenance/row-level DML while streaming, set " +
          "skiprewrites=true to skip non-append windows entirely, or consume " +
          "the RETRACTION-AWARE feed instead: spark.readStream" +
          ".format(\"graft-snapshot\").option(\"changefeed\", true) delivers " +
          "row-level changes with _change_type insert/delete pairs.")
    if (dropped.nonEmpty || newTombstones > 0) Nil
    else after.filterNot(e => before(e.relPath))
  }

  /** ADMISSION: the largest id in `(from, ceiling]` whose window stays
    * inside `maxSnaps` commits / `maxBytes` manifest-proven data bytes —
    * the shared kernel behind `maxsnapshotspertrigger` /
    * `maxbytespertrigger` on BOTH streaming stacks.
    *
    * One manifest read (the ceiling's), bucketed by each entry's commit
    * seq — O(#files) driver work, no data touched. The first pending
    * commit always admits even when it alone exceeds the byte cap
    * (progress guarantee), and admission is PREFIX-only: a rejected seq
    * ends the window — skipping around a too-big commit would deliver a
    * window the offset does not describe. Ids with no surviving entries
    * (empty commits, metadata-only ALTERs, fully-compacted-away adds)
    * cost no budget: pacing bounds WORK per batch, not wall-clock ticks.
    * Best-effort under concurrent rewrites by design — [[added]] and the
    * changefeed materialization stay the source of truth for what a
    * window may DELIVER; this only decides where a window may END.
    */
  def admit(root: JPath, from: Int, ceiling: Int,
            maxSnaps: Int, maxBytes: Long): Int = {
    if (ceiling <= from) return from
    val pending = Snapshots.manifest(root, ceiling)
      .filter(e => e.seq > from && e.seq <= ceiling)
    if (pending.isEmpty) return ceiling
    val bySeq: Seq[(Int, Long)] = pending.groupBy(_.seq).iterator
      .map { case (seq, es) => (seq, es.map(_.bytes).sum) }.toSeq.sortBy(_._1)
    var admitted = 0
    var bytes = 0L
    var to = from
    var stop = false
    for ((seq, b) <- bySeq if !stop) {
      if (admitted == 0 || (admitted < maxSnaps && bytes + b <= maxBytes)) {
        admitted += 1
        bytes += b
        to = seq
      } else stop = true
    }
    // trailing ids past the last ENTRY-carrying seq are free (they add
    // no files): admitting them closes the stream's catch-up loop in
    // the same batch instead of one empty trigger later
    if (to == bySeq.last._1) ceiling else to
  }
}

/** V1 micro-batch source over a snapshot store. Progress is driven by
  * the store's OWN commit protocol: `getOffset` is one tiny pointer
  * read; a batch is the manifest diff between two snapshot ids, opened
  * as an exact file list (never a directory listing). Exactly-once
  * composes end-to-end: upstream, appends reuse files verbatim so each
  * file — hence each row — appears in exactly one diff; downstream,
  * Spark's checkpoint replays `getBatch` with the same offsets after a
  * crash and the immutable manifests reproduce the identical batch.
  */
final class SnapshotStreamSource(spark: SparkSession, root: JPath,
                                 override val schema: StructType,
                                 startExclusive: Int,
                                 skipRewrites: Boolean = false,
                                 changeFeed: Boolean = false,
                                 maxSnapshotsPerTrigger: Int = Int.MaxValue,
                                 maxBytesPerTrigger: Long = Long.MaxValue) extends Source {

  private def parse(o: Offset): Int = o match {
    case SnapshotOffset(id) => id
    case other              => other.json.trim.toInt
  }

  /** The V1 face of `maxsnapshotspertrigger` / `maxbytespertrigger`
    * (shared kernel: [[SnapshotDiff.admit]]). V1 has no admission-control
    * API, so the source paces itself the way FileStreamSource does: track
    * the last batch end delivered (`getBatch` seeds it — Spark's restart
    * contract replays the last committed batch through `getBatch`
    * precisely so V1 sources can recover internal state) and have
    * `getOffset` advance at most one admitted window past it.
    */
  @volatile private var pacedFloor: Int = startExclusive

  private def paced: Boolean =
    maxSnapshotsPerTrigger != Int.MaxValue || maxBytesPerTrigger != Long.MaxValue

  override def getOffset: Option[Offset] = {
    val latest = Snapshots.currentId(root).filter(_ > startExclusive)
    if (!paced) latest.map(SnapshotOffset)
    else latest.map { l =>
      SnapshotOffset(SnapshotDiff.admit(root, pacedFloor, l,
        maxSnapshotsPerTrigger, maxBytesPerTrigger))
    }.filter(_.id > startExclusive)
  }

  /** CHANGE-FEED batch: the window's NET row-level changes with
    * retractions, straight from [[Snapshots.readChangeFeed]] — inserts
    * tagged `_change_type='insert'`, retracted OLD images tagged
    * `'delete'`. This is the streaming path for a MUTATING upstream
    * table (upserts / merge-on-read DML): a downstream consumer applies
    * inserts-exceptAll-deletes and tracks the table exactly, without
    * stop-the-stream batch reads. Replay-stable: offsets are snapshot
    * ids and manifests are immutable, so a checkpoint-recovered
    * `getBatch` reproduces the identical frame — exactly-once composes
    * like the append stream's. REWRITE windows (compaction/overwrite)
    * still refuse loudly — a rewrite is not a row-level change — unless
    * `skiprewrites=true` skips the window whole (never partially).
    */
  private def changeBatch(from: Int, to: Int): DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (to <= from) return empty
    if (skipRewrites) {
      val before: Set[String] =
        if (from <= 0) Set.empty
        else Snapshots.manifest(root, from).filterNot(Snapshots.isDelete)
          .map(_.relPath).toSet
      val after = Snapshots.manifest(root, to).filterNot(Snapshots.isDelete)
        .map(_.relPath).toSet
      if (before.diff(after).nonEmpty) return empty
    }
    val feed = Snapshots.readChangeFeed(spark, root, from, to)
    val have = feed.columns.toSet
    feed.select(schema.fields.toIndexedSeq.map { f =>
      if (have(f.name)) org.apache.spark.sql.functions.col(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(parse).getOrElse(startExclusive)
    val to = parse(end)
    // seed/advance the pacing floor: on restart Spark replays the last
    // committed batch through getBatch before the first getOffset, so
    // the floor is correct before pacing ever consults it
    if (to > pacedFloor) pacedFloor = to
    if (changeFeed) return GraftSqlShims.asStreamingFrame(changeBatch(from, to))
    val added = SnapshotDiff.added(root, from, to, skipRewrites)
    val batch =
      if (added.isEmpty) {
        // a pointer can advance on delete-only / maintenance commits:
        // an empty add-set is a legal empty micro-batch, not an error
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      } else {
        // read the increment under the source schema: files that predate
        // an evolved (appended) column surface it as NULL — a replayed
        // early batch must not fail just because every file in it is
        // older than the column
        Snapshots.scan(spark, root, added, schema)
      }
    GraftSqlShims.asStreamingFrame(batch)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"SnapshotStreamSource[$root > $startExclusive]"
}
