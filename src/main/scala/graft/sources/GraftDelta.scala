package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath}

import scala.collection.JavaConverters._

import graft.etl.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetWrite
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MERGE-ON-READ row-level DML for [[GraftTable]] — the DSv2
  * `SupportsDelta` path, used when a table declares a `morkey` property
  * (its key column LIST — one column normally, several for a COMPOSITE
  * key):
  *
  *  - Spark's rewrite rules plan a [[org.apache.spark.sql.catalyst
  *    .plans.logical.WriteDelta]]: the matched rows arrive as per-row
  *    DELETE / UPDATE / INSERT instructions instead of a whole-group
  *    rewrite, and [[GraftDeltaWriter]] splits them into the layer's two
  *    native MoR artifacts — an EQUALITY-DELETE tombstone (the key
  *    column(s), `deletes/`) and ordinary insert data files — written
  *    executor-side through Spark's own DSv2 parquet write.
  *  - The commit is `publishUpsert`'s shape under OCC: tombstone +
  *    replacement rows land in ONE [[Snapshots.OccSurgical]] commit
  *    that carries the ENTIRE base manifest verbatim (no file is
  *    rewritten — that is the whole point), with the sequence rule
  *    keeping it exact: the tombstone (seq = new id) erases its keys
  *    only from strictly-older files, never from the rows it ships
  *    with. Any base advance conflicts loudly (an equality delete
  *    computed against snapshot N is not provably right against N+1).
  *
  * At 100 TB this is the high-churn mirror-table story (the
  * reference's nightly refresh, LoadFiles.pm:56-64): a 100-row UPDATE
  * writes O(changed rows) — one small tombstone + one small data file —
  * instead of copy-on-write's O(affected files); readers pay a bounded
  * anti-join until `CALL system.compact` folds the deltas physically.
  * Reads of tombstone-bearing snapshots plan through
  * [[GraftMergeScanBuilder]] (the layer's seq-aware merged read behind
  * a V1 scan); tombstone-free snapshots keep the fast pure-DSv2
  * parquet path.
  *
  * Reference: the drop-and-reload refresh this replaces incrementally
  * (ensembl-database-loader LoadFiles.pm:56-64, Base.pm:123-144).
  */
final class GraftDeltaOperation(
    spark: SparkSession,
    store: JPath,
    tableSchema: StructType,
    statsCol: Option[String],
    // LOGICAL names (what the query binds); files carry the physical.
    // More than one column = a COMPOSITE key (the MySQL composite-
    // PRIMARY-KEY mirror shape: link tables like exon_transcript carry
    // no single-column key) — tombstones then hold ALL key columns and
    // the merged read anti-joins on the full set.
    morKeys: Seq[String],
    cmd: RowLevelOperation.Command,
    partCol: Option[String] = None,
    colMap: Map[String, String] = Map.empty,
    bucketSpec: Option[(String, Int)] = None,
    sortCol: Option[String] = None) extends RowLevelOperation with SupportsDelta {

  require(morKeys.nonEmpty, "morkey must name at least one column")
  morKeys.foreach { k =>
    require(tableSchema.fieldNames.contains(k),
      s"morkey '$k' is not a column of the table (schema: " +
        tableSchema.fieldNames.mkString(", ") + ")")
    require(!tableSchema(k).nullable,
      s"morkey '$k' must be declared NOT NULL — an equality delete on a " +
        "nullable key cannot address its rows (Spark refuses nullable row ids)")
  }


  private val baseId: Option[Int] = Snapshots.currentId(store)

  override def command: RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    morKeys.map(Expressions.column).toArray

  /** The rewrite's source scan: the CURRENT table state. Unlike the
    * group-based path there is no whole-file contract — the delta write
    * replaces rows by KEY, not files by identity — so pushed filters may
    * prune and reach the reader freely.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    baseId match {
      case None => new GraftScanBuilder(spark, store, 0, Nil, tableSchema,
        statsCol, options)
      case Some(b) =>
        val (dels, datas) = Snapshots.manifest(store, b).partition(Snapshots.isDelete)
        if (dels.isEmpty)
          new GraftScanBuilder(spark, store, b, datas, tableSchema, statsCol,
            options, colMap)
        else
          new GraftMergeScanBuilder(spark, store, b, tableSchema, statsCol,
            morKeys, colMap, viaRowLevel = true)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(spark, store, statsCol, baseId, morKeys, info,
          partCol.map(p => (p, tableSchema)), colMap, bucketSpec, sortCol)
    }

  override def description(): String = s"GraftDeltaOperation($cmd, $store @ $baseId)"
}

/** The delta [[Write]]. Task side: ONE delegated DSv2 parquet write of
  * op-tagged instruction rows (`__op`, `__key`, row columns) into a
  * scratch dir — one [[org.apache.spark.sql.execution.datasources
  * .FileFormatDataWriter]] per task, because the file commit protocol
  * authorizes ONE commit per partition (a second per-task writer is
  * always denied by the output commit coordinator). Driver side: one
  * small split job turns the scratch delta into the layer's two native
  * MoR artifacts — the equality-delete tombstone (`deletes/`, distinct
  * keys) and the replacement data files (`data/`, zone-mapped via
  * `stageOcc`) — then ONE surgical OCC commit carrying the whole base
  * manifest. The split re-reads only the DELTA (O(changed rows), never
  * the table); data plane entirely Spark, commit plane entirely the
  * layer's one-rename protocol, like every write here.
  */
private[sources] final class GraftDeltaWrite(
    spark: SparkSession,
    store: JPath,
    statsCol: Option[String],
    baseId: Option[Int],
    morKeys: Seq[String], // LOGICAL; tombstones stage under the physical names
    info: LogicalWriteInfo,
    partitioned: Option[(String, StructType)] = None,
    colMap: Map[String, String] = Map.empty,
    bucketSpec: Option[(String, Int)] = None,
    sortCol: Option[String] = None) extends DeltaWrite {

  private def physOf(n: String): String = colMap.getOrElse(n, n)

  /** Incoming delta rows carry LOGICAL names; staged files PHYSICAL. */
  private def toPhysical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (colMap.isEmpty) df
    else df.toDF(df.columns.map(physOf).toIndexedSeq: _*)

  /** Spark's row-id projection order is authoritative for the key SLOTS
    * (`__key0..__keyN-1`); it must cover exactly the declared morkey
    * column set.
    */
  private val rowIdSchema: StructType = {
    val s = info.rowIdSchema().orElseGet(() =>
      StructType(info.schema().fields.filter(f => morKeys.contains(f.name))
        .toIndexedSeq))
    require(s.length == morKeys.length && s.fieldNames.toSet == morKeys.toSet,
      s"delta row id must be the morkey column(s) '${morKeys.mkString(",")}', got " +
        s.fieldNames.mkString(", "))
    s
  }

  /** Scratch schema: operation tag, the (old) key column slots, then the
    * replacement row's columns (null on pure deletes). The `__key<i>`
    * slots are separate from the row's own key columns because an UPDATE
    * must tombstone the key the row HAD, which differs from the row's
    * key when the key itself is updated. A composite key takes one slot
    * per column, in rowIdSchema order.
    */
  private val scratchSchema: StructType = StructType(
    org.apache.spark.sql.types.StructField("__op", org.apache.spark.sql.types.IntegerType,
      nullable = false) +:
    (rowIdSchema.fields.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.types.StructField(s"__key$i", f.dataType, nullable = true)
    } ++
    info.schema().fields.map(_.copy(nullable = true))).toIndexedSeq)

  /** Scratch lives under `data/` like OCC staging (same reclaim story
    * for a crashed statement), but is never referenced by any manifest —
    * it is erased before the commit returns. Not dot-prefixed: Spark's
    * write-path validation warns on hidden output dirs.
    */
  private val scratchDir: JPath = {
    val d = store.resolve("data").resolve(
      "delta-scratch-" + java.util.UUID.randomUUID().toString)
    JFiles.createDirectories(d)
    d
  }

  private val scratchWrite: ParquetWrite = ParquetWrite(
    Seq(scratchDir.toString), "parquet", _ => true,
    new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = info.options()
      override def queryId(): String = info.queryId()
      override def schema(): StructType = scratchSchema
    })

  override def description(): String = s"GraftDeltaWrite($store @ $baseId)"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val scratchBatch = scratchWrite.toBatch

    override def useCommitCoordinator(): Boolean = scratchBatch.useCommitCoordinator()

    override def createBatchWriterFactory(
        physicalInfo: PhysicalWriteInfo): DeltaWriterFactory =
      new GraftDeltaWriterFactory(
        scratchBatch.createBatchWriterFactory(physicalInfo),
        rowIdSchema.fields.map(_.dataType), info.schema())

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // no-op tasks never created a file writer and have no delegated
      // message — the file commit protocol must not see them
      scratchBatch.commit(messages.filterNot(_.isInstanceOf[GraftDeltaNoWrite.type]))
      try {
        val scratch = spark.read.schema(scratchSchema).parquet(scratchDir.toString)
        import org.apache.spark.sql.functions.col
        // tombstone: every op that supersedes an existing key (DELETE=1,
        // UPDATE=2); inserts: every op that lands a row (UPDATE=2,
        // INSERT=3). UPDATE contributes to both halves from ONE row.
        val deletes: Seq[Snapshots.ManifestEntry] = stageTombstone(
          scratch.filter(col("__op").isin(1, 2))
            .select(rowIdSchema.fieldNames.toIndexedSeq.zipWithIndex.map {
              case (k, i) => col(s"__key$i").as(physOf(k))
            }: _*))
        val inserts: Seq[Snapshots.ManifestEntry] =
          if (info.schema().isEmpty) Nil // pure DELETE plan: no row columns
          else try {
            val rows = toPhysical(scratch.filter(col("__op").isin(2, 3))
              .select(info.schema().fieldNames.toIndexedSeq.map(col): _*))
            // a PARTITIONED morkey table's replacement rows land
            // VALUE-PURE (the `_pv=` layout), with the same zone-map
            // columns the partitioned INSERT path writes (statscol +
            // the partition column's degenerate v:v range), so the
            // delta never poisons the layout and both pruning stories
            // survive row-level DML; the statscol range is ALSO folded
            // to the legacy field so tombstone-range pruning of the
            // merged read sees it
            val staged = partitioned match {
              case Some((p, tSchema)) => // p PHYSICAL, tSchema LOGICAL
                import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
                val integralPart = tSchema.fields
                  .find(f => physOf(f.name) == p).exists(f =>
                  f.dataType == LongType || f.dataType == IntegerType ||
                    f.dataType == ShortType || f.dataType == ByteType)
                val zcs = (statsCol.toSeq ++ (if (integralPart) Seq(p) else Nil)).distinct
                Snapshots.stageOccPartitioned(spark, store, rows, p, zcs)
                  .map(e => statsCol.flatMap(sc => e.multi.find(_._1 == sc))
                    .map { case (_, lo, hi) => e.copy(stats = Some((lo, hi))) }
                    .getOrElse(e))
              case None => bucketSpec match {
                // a bucketed morkey table's replacement rows land
                // BUCKET-PURE (`_pv=<id>`): the delta never poisons the
                // layout, so the bucket-aware compact that folds these
                // tombstones also restores the SPJ/ordering claims. The
                // delta is sorted like every bucketed write when a
                // 'sortcol' is declared: an INSERT-only MERGE commits
                // WITHOUT tombstones, so the very next scan is the
                // claiming one — an unsorted file whose zone range
                // happens to be bucket-disjoint would prove an ordering
                // the bytes don't have and corrupt the elided-sort
                // merge join.
                case Some((bc, nb)) => Snapshots.stageOccBucketed(
                  spark, store, rows, bc, nb,
                  (statsCol.toSeq ++ sortCol.toSeq).distinct, sortCol)
                case None => Snapshots.stageOcc(spark, store, rows, statsCol)
              }
            }
            // a delete-only delta stages schema-only empty files: drop them
            if (staged.nonEmpty && Snapshots.stagedRows(spark, store, staged) == 0) {
              Snapshots.discardStaged(store, staged)
              Nil
            } else staged
          } catch { case e: Throwable =>
            // the tombstone staged FIRST: if insert staging dies, reclaim
            // it now rather than leaking orphan delete files until expire
            Snapshots.discardStaged(store, deletes); throw e
          }
        val fresh = inserts ++ deletes
        if (fresh.isEmpty) return // matched nothing: no-op
        val seed = GraftCatalog.seedMetaFor(store)
        baseId match {
          case Some(b) =>
            // carry the WHOLE base manifest: no data file is replaced —
            // superseded rows die by the tombstone's sequence rule. Any
            // base advance conflicts (the delete keys were computed
            // against exactly this snapshot).
            try Snapshots.commitOcc(store, fresh,
              Snapshots.OccSurgical(b, Snapshots.manifest(store, b)),
              seedMeta = seed)
            catch { case e: Throwable => Snapshots.discardStaged(store, fresh); throw e }
          case None =>
            require(deletes.isEmpty,
              "delta write produced tombstones against a table with no snapshot")
            try Snapshots.commitOcc(store, fresh, Snapshots.OccAppend,
              seedMeta = seed)
            catch { case e: Throwable => Snapshots.discardStaged(store, fresh); throw e }
        }
      } finally GraftCatalog.rmTree(scratchDir)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      try scratchBatch.abort(
        messages.filterNot(m => m == null || m.isInstanceOf[GraftDeltaNoWrite.type]))
      finally GraftCatalog.rmTree(scratchDir)
    }

    /** Distinct keys, one tombstone file, staged (not committed) under
      * `deletes/` — `publishDeletes`'s write shape behind the OCC split.
      */
    private def stageTombstone(keys: org.apache.spark.sql.DataFrame):
        Seq[Snapshots.ManifestEntry] = {
      val delDir = store.resolve("deletes").resolve(
        "occ-" + java.util.UUID.randomUUID().toString)
      JFiles.createDirectories(delDir)
      // size-bounded like Snapshots.writeTombstone: AQE coalesces the
      // distinct's shuffle output, so small deltas land one file and a
      // whole-partition purge parallelizes across N tasks/files
      keys.distinct().write.mode("overwrite").parquet(delDir.toString)
      val l = JFiles.list(delDir)
      val tombFiles = try l.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      finally l.close()
      val md5s = Snapshots.md5hexAll(tombFiles)
      val entries = tombFiles
        .map(p => Snapshots.ManifestEntry(store.relativize(p).toString,
          md5s(p), JFiles.size(p)))
      if (entries.nonEmpty && Snapshots.stagedRows(spark, store, entries) == 0) {
        Snapshots.discardStaged(store, entries)
        Nil
      } else entries
    }
  }
}

/** Commit message of a task that saw no matching row: it never created
  * a file writer, and the delegated file commit protocol must not be
  * handed a message for it.
  */
private[sources] case object GraftDeltaNoWrite extends WriterCommitMessage

/** Task-side instruction encoder: every DELETE/UPDATE/INSERT lands as
  * ONE op-tagged scratch row through a single delegated parquet writer
  * (created lazily — a no-op task writes no file). UPDATE is one row
  * carrying both halves: the OLD key to tombstone and the replacement
  * row (which may hold a NEW key — key updates stay exact).
  */
private[sources] final class GraftDeltaWriterFactory(
    scratchFactory: DataWriterFactory,
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    rowSchema: StructType) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[
      org.apache.spark.sql.catalyst.InternalRow] =
    new DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private var out: DataWriter[org.apache.spark.sql.catalyst.InternalRow] = _
      private val nKeys = keyTypes.length
      private val nRowCols = rowSchema.length
      private val fieldTypes = rowSchema.fields.map(_.dataType)
      private val buf = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(1 + nKeys + nRowCols)

      private def writer = {
        if (out == null) out = scratchFactory.createWriter(partitionId, taskId)
        out
      }

      // the buffer is serialized by the parquet writer inside write(),
      // so handing it views into the (reused) incoming rows is safe —
      // nothing is retained across calls
      private def emit(op: Int, id: org.apache.spark.sql.catalyst.InternalRow,
                       row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        buf.update(0, op)
        var k = 0
        while (k < nKeys) {
          buf.update(1 + k,
            if (id == null || id.isNullAt(k)) null else id.get(k, keyTypes(k)))
          k += 1
        }
        var i = 0
        while (i < nRowCols) {
          buf.update(1 + nKeys + i,
            if (row == null || row.isNullAt(i)) null else row.get(i, fieldTypes(i)))
          i += 1
        }
        writer.write(buf)
      }

      override def delete(meta: org.apache.spark.sql.catalyst.InternalRow,
                          id: org.apache.spark.sql.catalyst.InternalRow): Unit =
        emit(1, id, null)

      override def update(meta: org.apache.spark.sql.catalyst.InternalRow,
                          id: org.apache.spark.sql.catalyst.InternalRow,
                          row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        emit(2, id, row)

      override def insert(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        emit(3, null, row)

      override def commit(): WriterCommitMessage =
        if (out != null) out.commit() else GraftDeltaNoWrite

      override def abort(): Unit = if (out != null) out.abort()

      override def close(): Unit = if (out != null) out.close()
    }
}

/** Merged (tombstone-aware) read behind the DSv2 V1-scan bridge: a
  * tombstone-bearing snapshot cannot be served as a bare file scan —
  * the anti-join IS the read semantics — so the scan materializes the
  * layer's own seq-aware [[Snapshots.readAt]] plan. Pushed filters are
  * declared UNHANDLED (Spark re-applies them above the scan) but are
  * also applied best-effort INSIDE the merged plan, where Catalyst
  * pushes them down to the underlying parquet scans of the data legs.
  * Column pruning is honored exactly (the bridge requires
  * relation.schema == readSchema). This read path prices the MoR trade
  * honestly: bounded anti-join per read until compaction folds the
  * tombstones, at which point the table returns to the pure-DSv2 path.
  */
private[sources] final class GraftMergeScanBuilder(
    spark: SparkSession,
    store: JPath,
    snapshotId: Int,
    tableSchema: StructType,
    statsCol: Option[String] = None,
    morKeys: Seq[String] = Nil, // LOGICAL names; empty = no declared key
    colMap: Map[String, String] = Map.empty,
    viaRowLevel: Boolean = false) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var residual: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    residual = filters
    filters // none handled: Spark keeps every filter row-level above us
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new org.apache.spark.sql.connector.read.V1Scan {
    private val readSch = required
    private val hints = residual

    override def readSchema(): StructType = readSch

    override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan](
        context: org.apache.spark.sql.SQLContext): T =
      new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: org.apache.spark.sql.SQLContext = context
        override def schema: StructType = readSch
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
          import org.apache.spark.sql.functions.{col, lit}
          // reaching execution here on a TABLE read (not a row-level DML
          // source scan) means ExpandMergeScan did not splice the
          // vectorized merged plan — the session is running without
          // GraftExtensions and silently pays the row-bridge price
          // (~2.3x, r13 measurement); make the degradation observable
          if (!viaRowLevel)
            org.slf4j.LoggerFactory.getLogger(classOf[GraftMergeScanBuilder])
              .warn(s"merged MoR read of $store is executing through the " +
                "V1 row bridge: register graft.GraftExtensions " +
                "(spark.sql.extensions) to restore the vectorized " +
                "merged-plan read path")
          // same fast merged plan the splice uses: manifest-backed legs
          // (no listing jobs, zone-map/bloom file pruning), tombstone-
          // range pruning via statsCol, declared schemas. Files and
          // tombstones carry PHYSICAL names; conform to LOGICAL here.
          def phys(n: String): String = colMap.getOrElse(n, n)
          val physSchema = StructType(
            tableSchema.fields.map(f => f.copy(name = phys(f.name))).toIndexedSeq)
          val tombSchema = {
            val fs = morKeys.flatMap(k => tableSchema.fields.find(_.name == k))
              .map(f => f.copy(name = phys(f.name)))
            if (fs.isEmpty) None else Some(StructType(fs.toIndexedSeq))
          }
          val raw = Snapshots.readAt(spark, store, snapshotId, statsCol,
            Some(physSchema), tombSchema)
          val have = raw.columns.toSet
          val conformed = raw.select(tableSchema.fields.toIndexedSeq.map { f =>
            val pn = phys(f.name)
            if (have(pn)) col(pn).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*)
          val filtered = hints.flatMap(GraftTable.filterColumn)
            .foldLeft(conformed)(_ filter _)
          filtered.select(readSch.fieldNames.toIndexedSeq.map(col): _*).rdd
        }
      }.asInstanceOf[T]

    override def description(): String =
      s"GraftMergeScan($store @ $snapshotId, merge-on-read)"
  }
}
