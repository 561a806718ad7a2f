package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath}

import scala.collection.JavaConverters._

import graft.etl.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations for [[GraftTable]] —
  * the machinery behind SQL `UPDATE` and `MERGE INTO` (and `DELETE`
  * shapes too complex for the metadata-only [[GraftTable.deleteWhere]]
  * path, e.g. subquery conditions):
  *
  *  1. Spark's `RewriteUpdateTable`/`RewriteMergeIntoTable` plan a
  *     [[org.apache.spark.sql.catalyst.plans.logical.ReplaceData]]: read
  *     the affected GROUPS through [[newScanBuilder]], apply the
  *     update/merge row-wise, hand every surviving row of those groups
  *     back through [[newWriteBuilder]].
  *  2. Our group = one data FILE. The operation's scan plans over a
  *     recording [[SnapshotV2FileIndex]] — the condition's pushed
  *     filters zone-map/bloom-prune whole files at PLAN time, and
  *     whatever survives pruning IS the replaced group set (recorded at
  *     listing; a pruned file provably holds no matching row, so
  *     carrying it verbatim is exact).
  *  3. The write stages replacement files through Spark's OWN DSv2
  *     parquet write (`ParquetWrite` → vectorized, codegen'd, one file
  *     per task) into a writer-unique `data/occ-<uuid>/` dir, then the
  *     batch commit builds manifest entries (MD5 + optional zone maps)
  *     and lands ONE atomic [[Snapshots.OccSurgical]] commit: untouched
  *     files carried with their original seq stamps, conflict on any
  *     base advance (Spark surfaces the conflict; the statement is
  *     re-runnable — data work happened outside the lock).
  *
  * At 100 TB: an UPDATE whose condition localizes via zone maps
  * rewrites O(affected files); a MERGE's inserted rows ride in the same
  * staged file set, so `MERGE ... WHEN NOT MATCHED THEN INSERT` costs
  * the matched groups plus the inserts, never the table. History stays
  * time-travelable — the pre-statement snapshot reads whole.
  */
final class GraftRowLevelOperation(
    spark: SparkSession,
    store: JPath,
    tableSchema: StructType,
    statsCol: Option[String],
    cmd: RowLevelOperation.Command,
    partCol: Option[String] = None,
    colMap: Map[String, String] = Map.empty,
    posTombstonesOk: Boolean = false) extends RowLevelOperation {

  /** None = the table has no published snapshot yet: an UPDATE/DELETE is
    * a trivial no-op, and a MERGE's NOT MATCHED inserts FOUND the table.
    */
  private val baseId: Option[Int] = Snapshots.currentId(store)

  /** Live POSITION tombstones (`posTombstonesOk` tables) neither fail
    * construction nor the commit: the rewrite SCAN serves the kept
    * groups' MERGED rows (pair anti-join applied), so the replacement
    * can never resurrect a position-deleted row, and the commit CARRIES
    * the pair entries — they keep applying to untouched files and are
    * inert for the dropped ones (they name relPaths no longer in the
    * manifest). UPDATE / MERGE / complex DELETE therefore work on a
    * pair-bearing key-less table without compacting first.
    */
  private val (baseEntries: Seq[Snapshots.ManifestEntry],
               posDels: Seq[Snapshots.ManifestEntry]) =
    baseId match {
      case None => (Nil, Nil)
      case Some(b) =>
        val (dels, datas) = Snapshots.manifest(store, b).partition(Snapshots.isDelete)
        require(dels.isEmpty || (posTombstonesOk && dels.forall(Snapshots.isPosDelete)),
          s"snapshot $b of $store carries merge-on-read tombstones; compact first")
        (datas, dels)
    }

  /** The replaced group set: the files the operation's scan planned
    * after FILE-level pruning. Recorded (not recomputed) so the commit
    * replaces EXACTLY what the rewrite query read — planning and commit
    * can never disagree. If Spark ever builds the rewrite scan MORE THAN
    * ONCE with a different kept set (re-analysis under different pushed
    * filters), we cannot know which build executed — committing a union
    * (or either set) could silently drop rows of files that were
    * recorded but not read, so the commit REFUSES loudly instead.
    */
  @volatile private var replaced: Option[Seq[Snapshots.ManifestEntry]] = None
  @volatile private var divergentBuilds = false

  private def recordKept(kept: Seq[Snapshots.ManifestEntry]): Unit = synchronized {
    replaced match {
      case Some(prev) if prev.map(_.relPath).toSet != kept.map(_.relPath).toSet =>
        divergentBuilds = true
        replaced = Some(kept)
      case _ => replaced = Some(kept)
    }
  }

  override def command: RowLevelOperation.Command = cmd

  /** The rewrite scan. CRITICAL CONTRACT: group-based ReplaceData hands
    * back every surviving row of the groups this scan read, so the scan
    * must return ALL rows of every kept file — the condition's filters
    * may prune whole FILES (a zone-map-skipped file provably holds no
    * matching row, carrying it verbatim is exact) but must NEVER reach
    * the parquet reader, whose row-group/page-level statistics filtering
    * silently DROPS the non-matching rows of a kept file (parquet's
    * 20k-row column-index pages make this real: a 20,050-row file loses
    * its 50-row trailing page and the commit loses 50 rows — caught by
    * the catalog_update oracle at sf0.1). [[GroupScanBuilder]] therefore
    * consumes pushed filters for file pruning + group recording only and
    * builds the underlying ParquetScan with NO data filters.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GroupScanBuilder(spark, store, baseId.getOrElse(0), baseEntries, tableSchema, statsCol,
      options, recordKept, colMap, posDels)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    new WriteBuilder {
      override def build(): Write = new SurgicalReplaceWrite(
        spark, store, statsCol, partCol, colMap, baseId, baseEntries, posDels,
        () => {
          require(!divergentBuilds,
            s"row-level $cmd planned multiple rewrite scans with DIFFERENT group " +
              "sets — the executed set is unknowable; refusing a lossy commit")
          replaced.getOrElse(throw new IllegalStateException(
            s"row-level $cmd write committed before its scan planned " +
              "— the replaced group set is unknown; refusing a blind rewrite"))
        },
        info)
    }
  }

  override def description(): String = s"GraftRowLevelOperation($cmd, $store @ $baseId)"
}

/** ScanBuilder for the group-based rewrite: pushed filters select the
  * candidate FILE set (zone maps + bloom sidecars, the same translation
  * every read path uses) and are recorded as the replaced groups; the
  * built scan is Spark's ParquetScan over exactly those files with NO
  * pushed data filters — whole files, every row, so the rewrite can
  * carry unmatched rows of affected groups. Column pruning is honored
  * (ReplaceData asks for the full row anyway). `pushFilters` returns all
  * filters as post-scan residuals, which is exact: the rewrite query
  * evaluates the condition row-level inside its If/CASE.
  */
private[sources] final class GroupScanBuilder(
    spark: SparkSession,
    store: JPath,
    baseId: Int,
    baseEntries: Seq[Snapshots.ManifestEntry],
    tableSchema: StructType,
    statsCol: Option[String],
    options: CaseInsensitiveStringMap,
    record: Seq[Snapshots.ManifestEntry] => Unit,
    colMap: Map[String, String] = Map.empty,
    posDels: Seq[Snapshots.ManifestEntry] = Nil) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var kept: Seq[Snapshots.ManifestEntry] = baseEntries
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    // zone/bloom stats key by PHYSICAL names on renamed tables
    val cs = filters.toSeq.flatMap(SnapshotPruning.constraintsOfFilter)
      .map(c => c.copy(col = colMap.getOrElse(c.col, c.col)))
    if (cs.nonEmpty) {
      val bloomOf = SnapshotPruning.bloomLoader(store)
      val bloomCol = SnapshotPruning.bloomColumn(store)
      kept = baseEntries.filterNot(
        SnapshotPruning.skippable(store, _, cs, statsCol, bloomCol, bloomOf))
    }
    filters // all residual: evaluated row-level by the rewrite query
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty // nothing reaches the reader — kept files scan whole

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The rewrite scan for a PAIR-BEARING (position-delete) table: the
    * kept groups' rows with the pair anti-join applied — whole files
    * minus their dead coordinates, NO data filters (the group contract:
    * every LIVE row of every kept file must come back, matched or not).
    * The group scan planning rule does not honor the V1 bridge, so this
    * scan is a marker the ExpandMergedGroupScan pre-CBO rule splices —
    * the handed plan arrives fully OPTIMIZED (no later batch reruns
    * optimization over the splice). The replacement therefore cannot
    * resurrect a deleted row, and the commit carries the pair files for
    * the untouched groups.
    */
  private def buildMergedGroupScan(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.Scan
        with graft.plans.ExpandableGroupScan {
      private val readSch = required
      override def readSchema(): StructType = readSch

      override def mergedPlan(): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
        import org.apache.spark.sql.functions.{col, substring}
        def physName(n: String): String = colMap.getOrElse(n, n)
        val physSchema = StructType(tableSchema.fields
          .map(f => f.copy(name = physName(f.name))).toIndexedSeq)
        val prefix = Snapshots.posPrefix(store)
        // the dead coordinates as BROADCAST per-file ordinal bitmaps
        // (pre-bitmap pair files convert on first touch) — the probe is
        // a scalar filter, not an anti-join
        val bc = spark.sparkContext.broadcast(
          Snapshots.posBitmaps(spark, store, posDels))
        val live = spark.read.schema(physSchema).parquet(
            kept.map(e => store.resolve(e.relPath).toString): _*)
          .select(col("*"),
            substring(col("_metadata.file_path"), prefix.length + 1, Int.MaxValue)
              .as("__file"),
            col("_metadata.row_index").as("__pos"))
          .filter(!org.apache.spark.sql.GraftBridge.column(
            graft.functions.PosDeleted(
              org.apache.spark.sql.GraftBridge.expression(col("__file")),
              org.apache.spark.sql.GraftBridge.expression(col("__pos")), bc)))
        live.select(tableSchema.fields.toIndexedSeq.map(f =>
            col(physName(f.name)).as(f.name)): _*)
          .select(readSch.fieldNames.toIndexedSeq.map(col): _*)
          .queryExecution.optimizedPlan
      }

      override def description(): String =
        s"GraftMergedGroupScan($store @ $baseId, ${kept.size} groups; " +
          "requires GraftExtensions (spark.sql.extensions=graft.GraftExtensions))"
    }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    record(kept)
    if (posDels.nonEmpty) return buildMergedGroupScan()
    // files carry PHYSICAL names; the scan reads physical and renames
    // its schema back to logical at the boundary (rows are positional)
    def phys(sch: StructType): StructType =
      if (colMap.isEmpty) sch
      else StructType(sch.fields.map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name))).toIndexedSeq)
    val reverse = colMap.map(_.swap)
    def logical(sch: StructType): StructType =
      if (colMap.isEmpty) sch
      else StructType(sch.fields.map(f =>
        f.copy(name = reverse.getOrElse(f.name, f.name))).toIndexedSeq)
    val index = new SnapshotV2FileIndex(spark, store, baseId, kept,
      Some(phys(tableSchema)), statsCol)
    val b = ParquetScanBuilder(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      index, phys(tableSchema), phys(tableSchema), options)
    b.pruneColumns(phys(required))
    val built = b.build()
    if (colMap.isEmpty) built
    else new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = logical(built.readSchema())
      override def toBatch: org.apache.spark.sql.connector.read.Batch = built.toBatch
      override def description(): String = built.description()
      override def supportedCustomMetrics(): Array[
          org.apache.spark.sql.connector.metric.CustomMetric] =
        built.supportedCustomMetrics()
      override def columnarSupportMode():
          org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
        built.columnarSupportMode()
    }
  }
}

/** The copy-on-write replacement [[Write]]: Spark's own DSv2 parquet
  * write into a staging dir, then an [[Snapshots.OccSurgical]] commit in
  * `BatchWrite.commit` — data plane entirely Spark, commit plane
  * entirely the layer's one-rename protocol. Abort reclaims staging and
  * commits nothing.
  */
private[sources] final class SurgicalReplaceWrite(
    spark: SparkSession,
    store: JPath,
    statsCol: Option[String],
    partCol: Option[String],
    colMap: Map[String, String],
    baseId: Option[Int],
    baseEntries: Seq[Snapshots.ManifestEntry],
    carryExtra: Seq[Snapshots.ManifestEntry], // live pair files: carried verbatim
    replacedFn: () => Seq[Snapshots.ManifestEntry],
    info: LogicalWriteInfo) extends Write {

  private val stagingDir: JPath = {
    val d = store.resolve("data").resolve(
      "occ-" + java.util.UUID.randomUUID().toString)
    JFiles.createDirectories(d)
    d
  }

  private val inner: ParquetWrite =
    ParquetWrite(Seq(stagingDir.toString), "parquet", _ => true, info)

  override def description(): String = s"SurgicalReplaceWrite($store @ $baseId)"

  override def toBatch: BatchWrite = new BatchWrite {
    private val delegate = inner.toBatch

    override def createBatchWriterFactory(
        physicalInfo: PhysicalWriteInfo): DataWriterFactory =
      new OperationStrippingWriterFactory(
        delegate.createBatchWriterFactory(physicalInfo), info.schema())

    override def useCommitCoordinator(): Boolean = delegate.useCommitCoordinator()

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      delegate.commit(messages) // task files land in stagingDir
      val staged = if (colMap.nonEmpty || partCol.isDefined) {
          // replacement rows arrived under LOGICAL names and flat; files
          // must carry PHYSICAL names and (on a partitioned table) the
          // value-pure `_pv=` layout — re-stage the (delta-sized) flat
          // staging renamed and/or partitioned, then drop the flat
          // files. O(replaced groups) extra I/O; both the rename and
          // partition stories survive row-level DML, composed.
          val flat = Snapshots.entriesForStagedDir(spark, store, stagingDir, Nil)
          if (flat.isEmpty) Nil
          else {
            val rows = spark.read.option("mergeSchema", "true").parquet(
              flat.map(e => store.resolve(e.relPath).toString): _*)
            val renamed =
              if (colMap.isEmpty) rows
              else rows.toDF(rows.columns.map(c =>
                colMap.getOrElse(c, c)).toIndexedSeq: _*)
            val pure = partCol match {
              case Some(p) => // p is the PHYSICAL partition column name
                Snapshots.stageOccPartitioned(spark, store, renamed, p,
                  statsCol.toSeq).map(Snapshots.foldLegacyStats(_, statsCol))
              case None => Snapshots.stageOcc(spark, store, renamed, statsCol)
            }
            Snapshots.discardStaged(store, flat)
            pure
          }
        } else Snapshots.entriesForStagedDir(spark, store, stagingDir,
          statsCol.toSeq).map(Snapshots.foldLegacyStats(_, statsCol))
      val replaced = replacedFn().map(_.relPath).toSet
      val untouchedData = baseEntries.filterNot(e => replaced(e.relPath))
      // position-pair files carry verbatim: they keep applying to the
      // untouched files and are inert for the replaced ones (the scan
      // already served merged rows, so the replacement holds no dead
      // row). If EVERY base data file was replaced, every pair is inert
      // — drop them rather than commit a data-less manifest of pairs.
      val untouched =
        untouchedData ++ (if (untouchedData.nonEmpty) carryExtra else Nil)
      // an empty-file-only stage replacing nothing is a provable no-op
      // (e.g. an UPDATE whose pruned scan read zero files): skip the
      // commit entirely rather than appending schema-only crumbs. Row
      // counts come from the tasks' own write stats — not a second scan
      // of freshly written data (a whole extra job per statement); if
      // any message shape is unrecognized, fall back to the staged
      // footers' row counts rather than risk discarding a merge's
      // inserted rows on a miscounted 0
      val statsRows: Option[Long] = {
        val per = messages.toSeq.map {
          case r: org.apache.spark.sql.execution.datasources.WriteTaskResult =>
            val counts = r.summary.stats.collect {
              case b: org.apache.spark.sql.execution.datasources.BasicWriteTaskStats =>
                b.numRows
            }
            // a recognized message with NO basic stats must count as
            // unrecognized, not as 0 — a phantom Some(0) would route a
            // real write into the no-op discard branch
            if (counts.nonEmpty) Some(counts.sum) else None
          case _ => None
        }
        if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
      }
      val stagedRows: Long =
        statsRows.getOrElse(Snapshots.stagedRows(spark, store, staged))
      if (replaced.isEmpty && stagedRows == 0) {
        Snapshots.discardStaged(store, staged)
        return
      }
      val fresh = if (stagedRows == 0 && untouched.nonEmpty) {
        // all groups' rows were deleted by the statement: drop the
        // schema-only empty files, carry is the whole new state
        Snapshots.discardStaged(store, staged)
        Nil
      } else staged
      val seed = GraftCatalog.seedMetaFor(store)
      baseId match {
        case Some(b) =>
          Snapshots.commitOcc(store, fresh, Snapshots.OccSurgical(b, untouched),
            seedMeta = seed)
        case None =>
          // no published snapshot existed when the statement was analyzed
          // (a MERGE's NOT MATCHED inserts FOUND the table); OccAppend
          // rebases onto whatever landed since, which is the only sound
          // claim a pure-insert write can make
          Snapshots.commitOcc(store, fresh, Snapshots.OccAppend, seedMeta = seed)
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      try delegate.abort(messages)
      finally {
        val l = JFiles.list(stagingDir)
        try l.iterator().asScala.toSeq.foreach(JFiles.deleteIfExists(_))
        finally l.close()
        JFiles.deleteIfExists(stagingDir)
      }
    }
  }
}

/** Strips the leading `__row_operation` marker from ReplaceData rows.
  *
  * Spark's group-based rewrite ALWAYS prepends an operation column to
  * the replacement query (`Project [6 AS __row_operation, <data>...]`,
  * RewriteRowLevelCommand.addOperationColumn), but ReplaceDataExec only
  * applies its row projection when the operation declares required
  * METADATA attributes (writingTask falls back to the projection-less
  * DataWritingSparkTask otherwise) — every upstream group-based
  * connector requires metadata columns, so the bare path hands the
  * writer the raw `[op, data...]` row. This operation tracks replaced
  * groups in its own file index instead of via metadata columns, so the
  * factory applies the data projection itself: ordinals 1..n against
  * `info.schema`'s n fields, asserted by field count — a layout drift
  * fails loudly, never writes shifted columns.
  */
private[sources] final class OperationStrippingWriterFactory(
    inner: DataWriterFactory,
    dataSchema: StructType) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[
      org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    val n = dataSchema.length
    val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
      dataSchema, (1 to n).toIndexedSeq)
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (row.numFields == n) w.write(row) // already bare (future Spark)
        else if (row.numFields == n + 1) { proj.project(row); w.write(proj) }
        else throw new IllegalStateException(
          s"ReplaceData row has ${row.numFields} fields; expected $n data fields " +
            s"(+1 operation marker) — row layout drifted, refusing to write")
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}
