package graft.sources

import java.nio.file.{Path => JPath}

import graft.etl.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => ConnectorOffset}
import org.apache.spark.sql.connector.read.HasPartitionKey
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** [[GraftTable]]'s ScanBuilder: delegates every pushdown negotiation to
  * Spark's own [[ParquetScanBuilder]] (Catalyst filter pushdown → the
  * [[SnapshotV2FileIndex]] zone maps + parquet row groups; column
  * pruning → the vectorized reader) and wraps the built scan so the SAME
  * relation also serves `spark.readStream.table(...)` — batch semantics
  * byte-identical to a bare ParquetScan, streaming semantics = the
  * layer's snapshot-id offsets. The pushed state (filters + pruned
  * schema, in PHYSICAL names) is retained so the built scan can REBUILD
  * itself over a runtime-pruned file list with identical semantics.
  */
final class GraftScanBuilder(
    spark: SparkSession,
    store: JPath,
    snapshotId: Int,
    entries: Seq[Snapshots.ManifestEntry],
    tableSchema: StructType,
    statsCol: Option[String],
    options: CaseInsensitiveStringMap,
    colMap: Map[String, String] = Map.empty,
    partColPhys: Option[String] = None,
    bucketSpec: Option[(String, Int)] = None,
    sortColPhys: Option[String] = None,
    specFrom: Option[Int] = None) extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  // files carry PHYSICAL column names; the scan negotiates pushdown in
  // physical terms and translates at its boundary (rows are positional,
  // so the rename itself is free — only the schemas change names)
  private val reverseMap: Map[String, String] = colMap.map(_.swap)

  private def physName(n: String): String = colMap.getOrElse(n, n)

  private def physicalize(sch: StructType): StructType =
    if (colMap.isEmpty) sch
    else StructType(sch.fields.map(f => f.copy(name = physName(f.name))).toIndexedSeq)

  private def logicalize(sch: StructType): StructType =
    if (colMap.isEmpty) sch
    else StructType(sch.fields.map(f =>
      f.copy(name = reverseMap.getOrElse(f.name, f.name))).toIndexedSeq)

  private def rename(e: Expression, m: Map[String, String]): Expression =
    if (m.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if m.contains(a.name) => a.withName(m(a.name))
    }

  private val physicalSchema = physicalize(tableSchema)

  private def mkInner(over: Seq[Snapshots.ManifestEntry]): ParquetScanBuilder =
    ParquetScanBuilder(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      new SnapshotV2FileIndex(spark, store, snapshotId, over,
        Some(physicalSchema), statsCol),
      physicalSchema, physicalSchema, options)

  private val inner: ParquetScanBuilder = mkInner(entries)

  // pushed state, in PHYSICAL names — replayed verbatim when the built
  // scan rebuilds itself over a runtime-pruned file list
  private var pushedPhys: Seq[Expression] = Nil
  private var prunedPhys: Option[StructType] = None
  private var aggPushed: Boolean = false

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // in: logical → physical; residuals back: physical → logical (expr
    // ids are preserved by withName, so binding upstream stays intact)
    val phys = filters.map(rename(_, colMap))
    pushedPhys = phys
    inner.pushFilters(phys).map(rename(_, reverseMap))
  }

  override def pushedFilters(): Array[Predicate] = inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val p = physicalize(requiredSchema)
    prunedPhys = Some(p)
    inner.pruneColumns(p)
  }

  // MIN/MAX/COUNT straight from parquet footers when
  // spark.sql.parquet.aggregatePushDown is on — pure delegation
  // (aggregate references arrive as logical names; skip the pushdown on
  // renamed tables rather than mistranslate)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = colMap.isEmpty && inner.pushAggregation(agg)
    if (ok) aggPushed = true
    ok
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    colMap.isEmpty && inner.supportCompletePushDown(agg)

  // ---- limit / top-N FILE pruning over manifest metadata --------------
  //
  // Both pushdowns are PARTIAL by declaration (`isPartiallyPushed`
  // stays true, Spark keeps its Limit / TakeOrderedAndProject on top):
  // the scan never truncates rows, it only plans FEWER FILES when the
  // manifest + footers PROVE the dropped files cannot contribute —
  // per-file row counts for a bare LIMIT (a 100 TB `LIMIT 100` opens
  // one file), zone ranges + proven-zero null counts for ORDER BY +
  // LIMIT. Both decline whenever any row-dropping machinery is active
  // underneath (pushed filters, pushed aggregates): a filter could
  // empty the kept prefix while a dropped file still held matching
  // rows — so the guard is soundness, not caution. Tombstones never
  // reach this builder (MoR snapshots route to GraftMergeScanBuilder).
  private var keptForLimit: Option[Seq[Snapshots.ManifestEntry]] = None

  private def limitPushable: Boolean =
    entries.nonEmpty && pushedPhys.isEmpty && !aggPushed

  override def pushLimit(limit: Int): Boolean = {
    if (!limitPushable || limit <= 0) false
    else {
      // manifest-order prefix whose footer row counts cover the limit
      val rowsOf = Snapshots.fileRows(spark, store, entries)
      val prefix = scala.collection.mutable.ArrayBuffer[Snapshots.ManifestEntry]()
      var acc = 0L
      val it = entries.iterator
      while (acc < limit && it.hasNext) {
        val e = it.next()
        prefix += e
        acc += rowsOf(e)
      }
      if (acc >= limit && prefix.size < entries.size) {
        keptForLimit = Some(prefix.toSeq)
        GraftScan.recordLimitPrune(store, prefix.size, entries.size)
        true
      } else false
    }
  }

  /** Zone range of `col` (PHYSICAL name) in one manifest entry: the
    * named multi-column map first, then the anonymous statscol range.
    */
  private def zoneOf(e: Snapshots.ManifestEntry, col: String): Option[(Long, Long)] =
    e.multi.collectFirst { case (n, lo, hi) if n == col => (lo, hi) }
      .orElse(if (statsCol.contains(col)) e.stats else None)

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    if (!limitPushable || limit <= 0 || orders.length != 1) return false
    val col = orders(0).expression() match {
      case r: NamedReference if r.fieldNames.length == 1 => physName(r.fieldNames()(0))
      case _ => return false
    }
    // only types whose zone-map Long ordering IS the column ordering
    val sortable = physicalSchema.fields.find(_.name == col).exists(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType => true
      case _ => false
    })
    if (!sortable) return false
    val asc = orders(0).direction() == SortDirection.ASCENDING
    // every file must PROVE zero nulls in the column — a null sorts to
    // one end of the output and carries no zone evidence of where it
    // lives, so one unprovable footer declines the whole pushdown
    // (bounded: see FooterGatherCap)
    if (entries.size > GraftScan.FooterGatherCap || !entries.forall(e =>
        Snapshots.fileColNulls(spark, store, e.relPath, col).contains(0L)))
      return false
    val ranged = entries.flatMap(e => zoneOf(e, col).map(r => (e, r._1, r._2)))
    val unranged = {
      val withZone = ranged.map(_._1.relPath).toSet
      entries.filterNot(e => withZone.contains(e.relPath))
    }
    // threshold: the tightest bound B such that >= limit rows provably
    // sort at-or-inside B, using ranged files only (ASC: files sorted
    // by zone-hi — all their rows are <= that hi; DESC symmetric)
    val ordered =
      if (asc) ranged.sortBy(_._3) else ranged.sortBy(_._2)(Ordering[Long].reverse)
    val rowsOf = Snapshots.fileRows(spark, store, entries)
    var acc = 0L
    var bound: Option[Long] = None
    val it = ordered.iterator
    while (acc < limit && it.hasNext) {
      val (e, lo, hi) = it.next()
      acc += rowsOf(e)
      bound = Some(if (asc) hi else lo)
    }
    if (acc < limit) return false // ranged rows alone cannot cover the top-k
    val b = bound.get
    val keptPaths = (unranged.map(_.relPath) ++ ordered.collect {
      case (e, lo, hi) if (asc && lo <= b) || (!asc && hi >= b) => e.relPath
    }).toSet
    val kept = entries.filter(e => keptPaths.contains(e.relPath)) // manifest order
    if (kept.size < entries.size) {
      keptForLimit = Some(kept)
      GraftScan.recordLimitPrune(store, kept.size, entries.size)
      true
    } else false
  }

  override def isPartiallyPushed: Boolean = true

  override def build(): Scan = {
    val rebuild: Seq[Snapshots.ManifestEntry] => ParquetScan = { kept =>
      val b = mkInner(kept)
      if (pushedPhys.nonEmpty) b.pushFilters(pushedPhys)
      prunedPhys.foreach(b.pruneColumns)
      b.build()
    }
    keptForLimit match {
      case Some(kept) =>
        // a limit/top-N pruned the file set after `inner` was built:
        // rebuild over the kept files (replaying the pruned schema; no
        // filters/aggregates by the pushdown guard). Runtime filtering
        // is withheld (rebuild=None): a limit-pruned scan sits directly
        // under its Limit, never under a join's DPP.
        new GraftScan(spark, store, rebuild(kept), physicalSchema, statsCol,
          options, logicalize, kept, None, colMap, partColPhys, aggPushed,
          tableSchema, bucketSpec, sortColPhys, specFrom, snapshotId)
      case None =>
        new GraftScan(spark, store, inner.build(), physicalSchema, statsCol,
          options, logicalize, entries, Some(rebuild), colMap, partColPhys,
          aggPushed, tableSchema, bucketSpec, sortColPhys, specFrom, snapshotId)
    }
  }
}

object GraftScan {
  /** (kept, total) of the last runtime-filter prune PER STORE — the
    * in-query proof hook (specs and oracled queries assert kept<total
    * after the action; same style as the plan-time `opened<total`
    * proofs). Keyed by store path so two concurrent proof queries in
    * one JVM can never cross-read each other's counters. Diagnostic
    * only: never read by the scan itself.
    */
  private val runtimePrunes =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  private[graft] def recordRuntimePrune(store: JPath, kept: Int, total: Int): Unit =
    runtimePrunes.put(store.toAbsolutePath.toString, (kept, total))

  def resetRuntimePrune(store: JPath): Unit =
    runtimePrunes.remove(store.toAbsolutePath.toString)

  def lastRuntimePruneFor(store: JPath): (Int, Int) =
    runtimePrunes.getOrDefault(store.toAbsolutePath.toString, (0, 0))

  /** (kept, total) of the last LIMIT/TOP-N file prune per store — same
    * proof-hook contract as [[runtimePrunes]]: written at pushdown
    * time, read only by specs and oracled queries.
    */
  private val limitPrunes =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  private[graft] def recordLimitPrune(store: JPath, kept: Int, total: Int): Unit =
    limitPrunes.put(store.toAbsolutePath.toString, (kept, total))

  def resetLimitPrune(store: JPath): Unit =
    limitPrunes.remove(store.toAbsolutePath.toString)

  def lastLimitPruneFor(store: JPath): (Int, Int) =
    limitPrunes.getOrDefault(store.toAbsolutePath.toString, (0, 0))

  /** Ceiling on driver-side footer opens for per-file NULL-count
    * proofs (top-N pushdown, reported column statistics). Footer reads
    * are O(1) each and memoized per JVM, but the FIRST plan over an
    * N-file table pays N of them — fine at thousands, wrong at a
    * million-file 100 TB manifest. Beyond the cap the proof is simply
    * "unprovable": top-N declines its prune, column stats omit the
    * null count — graceful degradation, never a stall.
    */
  private[sources] val FooterGatherCap: Int = 4096

  /** Partition value of a value-pure path: the LAST `_pv=` segment,
    * unescaped from Spark's partition-path escaping (%XX). None when the
    * path carries no `_pv=` segment.
    */
  private[sources] def pvOfPath(path: String): Option[String] =
    path.split('/').reverseIterator.collectFirst {
      case seg if seg.startsWith("_pv=") => unescapePath(seg.stripPrefix("_pv="))
    }

  /** Inverse of Spark's partition-path escaping: '%XX' → the byte. */
  private[sources] def unescapePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
}

/** The built scan: batch path IS the wrapped [[ParquetScan]];
  * `toMicroBatchStream` turns the same table into the catalog streaming
  * source ([[SnapshotMicroBatchStream]]). Columnar support and custom
  * metrics delegate to parquet so vectorization and UI metrics stay
  * exactly Spark's. Three scale capabilities ride on top:
  *
  *  - '''Statistics''' ([[SupportsReportStatistics]]): the wrapped
  *    FileScan's manifest-derived size reaches join planning, so a small
  *    catalog table auto-broadcasts — without it DSv2 relations default
  *    to `defaultSizeInBytes` (effectively infinite) and a 1k-row dim
  *    sort-merge-joins a 100 TB fact.
  *  - '''Runtime filtering''' ([[SupportsRuntimeV2Filtering]]): dynamic
  *    pruning IN-sets from a join's build side prune MANIFEST FILES at
  *    execution time via the same zone-map/bloom kernel as plan-time
  *    skipping ([[SnapshotPruning]]), plus exact `_pv=` matching on the
  *    partition column — the DSv2 analog of dynamic partition pruning,
  *    driven by the file-level metadata instead of hive-style dirs.
  *  - '''Key-grouped output''' ([[SupportsReportPartitioning]]): when
  *    `spark.sql.sources.v2.bucketing.enabled` is on and the table is
  *    `PARTITIONED BY`, the scan reports [[KeyGroupedPartitioning]] over
  *    `identity(partCol)` and plans one [[HasPartitionKey]] group per
  *    partition value — two tables partitioned on the same key then
  *    JOIN WITH ZERO SHUFFLE (storage-partitioned join). Opt-in by
  *    Spark's own conf because grouped planning trades scan parallelism
  *    (#values tasks) for exchange elimination.
  */
final class GraftScan(
    spark: SparkSession,
    store: JPath,
    initialParquet: ParquetScan,
    tableSchema: StructType,
    statsCol: Option[String],
    options: CaseInsensitiveStringMap,
    logicalize: StructType => StructType = identity,
    entries: Seq[Snapshots.ManifestEntry] = Nil,
    rebuild: Option[Seq[Snapshots.ManifestEntry] => ParquetScan] = None,
    colMap: Map[String, String] = Map.empty,
    partColPhys: Option[String] = None,
    aggPushed: Boolean = false,
    logicalSchema: StructType = new StructType(),
    bucketSpec: Option[(String, Int)] = None,
    sortColPhys: Option[String] = None,
    specFrom: Option[Int] = None,
    snapshotIdOf: Int = 0) extends Scan
    with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  @volatile private var currentParquet: ParquetScan = initialParquet
  @volatile private var currentEntries: Seq[Snapshots.ManifestEntry] = entries

  /** The live wrapped scan (post any runtime prune) — plan assertions
    * read `pushedFilters` through this.
    */
  def parquet: ParquetScan = currentParquet

  private val reverseMap: Map[String, String] = colMap.map(_.swap)
  private def logicalOf(phys: String): String = reverseMap.getOrElse(phys, phys)

  // Spark binds the scan's output to the table's LOGICAL attributes by
  // name; the wrapped parquet scan read the PHYSICAL names — same
  // fields positionally, so only the schema is renamed, never a row
  override def readSchema(): StructType = logicalize(currentParquet.readSchema())

  override def description(): String = currentParquet.description()

  override def supportedCustomMetrics(): Array[
      org.apache.spark.sql.connector.metric.CustomMetric] =
    currentParquet.supportedCustomMetrics()

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    currentParquet.columnarSupportMode()

  // ---- statistics: manifest bytes → join planning (broadcast decisions)

  /** Beyond the wrapped FileScan's size estimate, the scan reports what
    * the METADATA already proves — at zero data I/O:
    *
    *  - `numRows`: exact, from memoized footer row counts (FileScan
    *    leaves it empty, and CBO's filter/join estimation needs a row
    *    count to do anything at all);
    *  - per-column `min`/`max`: the manifest zone maps, folded across
    *    files (only when EVERY file carries the column's zone — absent
    *    stats mean unknown, never zero-width);
    *  - per-column `nullCount`: summed footer null counts (only when
    *    every footer proves one);
    *  - per-column `distinctCount`: the newest `CALL system.analyze`
    *    sidecar at-or-below this snapshot ([[Snapshots.colStats]]) —
    *    estimates by contract, like every ANALYZE-fed optimizer.
    *
    * Spark folds these into catalyst ColumnStats
    * (`DataSourceV2Relation.transformV2Stats`), so with
    * `spark.sql.cbo.enabled` a selective filter on an analyzed column
    * shrinks the estimated join side below the broadcast threshold —
    * the decision a bytes-only estimate can never make. Declined when
    * an aggregate was pushed (the output is no longer row-shaped).
    */
  override def estimateStatistics(): Statistics = {
    val inner = currentParquet.estimateStatistics()
    val ents = currentEntries
    if (ents.isEmpty || aggPushed ||
      ents.size > GraftScan.FooterGatherCap) return inner
    val rowsTotal = ents.map(Snapshots.fileRows(spark, store, entries)).sum
    val cstats = buildColumnStats(ents, rowsTotal)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = inner.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rowsTotal)
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cstats
    }
  }

  private def buildColumnStats(ents: Seq[Snapshots.ManifestEntry], rowsTotal: Long):
      java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val analyzed: Map[String, Snapshots.ColStat] =
      Snapshots.colStats(store, snapshotIdOf).map(_._2).getOrElse(Map.empty)
    // candidates: every zone-mapped column plus every analyzed one
    val zoneCols = (statsCol.toSeq ++ ents.flatMap(_.multi.map(_._1))).distinct
    (zoneCols ++ analyzed.keys).distinct.foreach { phys =>
      val dt = tableSchema.fields.find(_.name == phys).map(_.dataType)
      // zone fold: defined only when EVERY file proves the range
      val zones = ents.map(e =>
        e.multi.collectFirst { case (n, lo, hi) if n == phys => (lo, hi) }
          .orElse(if (statsCol.contains(phys)) e.stats else None))
      val range: Option[(Long, Long)] =
        if (zones.nonEmpty && zones.forall(_.isDefined))
          Some((zones.flatten.map(_._1).min, zones.flatten.map(_._2).max))
        else None
      // render the zone Long in the attribute's catalyst-internal type
      def render(v: Long): Option[AnyRef] = dt match {
        case Some(LongType) | Some(TimestampType) => Some(java.lang.Long.valueOf(v))
        case Some(IntegerType) | Some(DateType) => Some(java.lang.Integer.valueOf(v.toInt))
        case Some(ShortType) => Some(java.lang.Short.valueOf(v.toShort))
        case Some(ByteType) => Some(java.lang.Byte.valueOf(v.toByte))
        case _ => None
      }
      val minV = range.flatMap(r => render(r._1))
      val maxV = range.flatMap(r => render(r._2))
      // footer-proven null count (exact, current); analyze's as
      // fallback. Bounded by FooterGatherCap — beyond it, unprovable.
      val footerNulls: Option[Long] =
        if (ents.size > GraftScan.FooterGatherCap) None
        else {
          val per = ents.map(e => Snapshots.fileColNulls(spark, store, e.relPath, phys))
          if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
        }
      val nulls = footerNulls.orElse(analyzed.get(phys).map(_.nulls))
      val ndv = analyzed.get(phys).map(_.ndv)
      val aLen = analyzed.get(phys).flatMap(_.avgLen)
      val mLen = analyzed.get(phys).flatMap(_.maxLen)
      if (minV.isDefined || nulls.isDefined || ndv.isDefined) {
        out.put(Expressions.column(logicalOf(phys)), new ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            ndv.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          override def min(): java.util.Optional[Object] =
            minV.fold(java.util.Optional.empty[Object]())(v =>
              java.util.Optional.of(v.asInstanceOf[Object]))
          override def max(): java.util.Optional[Object] =
            maxV.fold(java.util.Optional.empty[Object]())(v =>
              java.util.Optional.of(v.asInstanceOf[Object]))
          override def nullCount(): java.util.OptionalLong =
            nulls.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          override def avgLen(): java.util.OptionalLong =
            aLen.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          override def maxLen(): java.util.OptionalLong =
            mLen.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
        })
      }
    }
    out
  }

  // ---- runtime (DPP-style) filtering over manifest metadata -----------

  /** Columns runtime IN-sets can prune FILES on: the declared zone-map
    * column, the partition column, and the store's bloom key — exactly
    * the columns [[SnapshotPruning]] can answer. Logical names (Spark
    * resolves them against the relation output). Empty when the scan
    * cannot rebuild (no manifest context) or an aggregate was pushed
    * (the scan's output is no longer row-shaped).
    */
  override def filterAttributes(): Array[NamedReference] =
    if (aggPushed || rebuild.isEmpty || entries.isEmpty) Array.empty
    else (statsCol.toSeq ++ partColPhys.toSeq ++ bucketSpec.map(_._1).toSeq ++
        SnapshotPruning.bloomColumn(store).toSeq)
      .distinct.map(p => Expressions.column(logicalOf(p))).toArray

  private def longOf(v: Any): Option[Long] = v match {
    case l: Long  => Some(l)
    case i: Int   => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _        => None
  }

  /** Decode a runtime predicate — Spark ships them as
    * `Predicate("IN", FieldReference +: LiteralValues)` (see
    * `DataSourceV2Strategy.translateRuntimeFilterV2`).
    */
  private def decodeIn(p: Predicate): Option[(String, Seq[Any])] =
    if (p.name() != "IN" && p.name() != "=") None
    else {
      val kids = p.children()
      kids.headOption.collect { case r: NamedReference => r.fieldNames.mkString(".") }
        .flatMap { name =>
          val vals = kids.drop(1).collect { case l: V2Literal[_] => l.value }
          if (vals.length == kids.length - 1 && vals.nonEmpty)
            Some((name, vals.toIndexedSeq)) else None
        }
    }

  /** Only integral/string/DATE/TIMESTAMP partition values round-trip the
    * `_pv=` path rendering unambiguously — dates render as the
    * timezone-free ISO local date (`_pv=1995-03-01`, Spark's own
    * partition-path form for DateType, proleptic Gregorian both ways);
    * timestamps render as UTC epoch-MICROS (the catalyst internal long,
    * `_pv=795225600000000`) — OUR contract, not Spark's partitionBy
    * form, precisely because partitionBy goes through the session
    * timezone and the same instant would render differently across
    * sessions. Every graft write path (the clustered DSv2 writer AND
    * stageOccPartitioned) renders the micros form; a `_pv=` segment
    * that does not parse as a long is unjudgeable — kept by pruning,
    * declined by grouping. Other types decline path pruning (and
    * key-grouped planning) likewise.
    */
  private val partFieldType: Option[DataType] = partColPhys.flatMap { p =>
    logicalSchema.fields.find(f => colMap.getOrElse(f.name, f.name) == p)
      .map(_.dataType)
  }
  private val pathComparable: Boolean = partFieldType.exists {
    case LongType | IntegerType | ShortType | ByteType | StringType |
         DateType | TimestampType => true
    case _ => false
  }

  /** Is this `_pv=` segment judgeable under the partition type's
    * rendering contract? Timestamps require the epoch-micros long form
    * (a legacy session-timezone rendering must never be compared).
    */
  private def pvJudgeable(pv: String): Boolean = partFieldType match {
    case Some(TimestampType) => pv.nonEmpty &&
      pv.forall(c => c.isDigit || c == '-') && (try { pv.toLong; true }
        catch { case _: NumberFormatException => false })
    case _ => true
  }

  /** Path form of one IN-set value of the partition column. DateType
    * literals arrive as epoch DAYS (catalyst internal) and must render
    * to the ISO form the writer's partitionBy put in the path;
    * TimestampType literals arrive as epoch MICROS and render verbatim.
    */
  private def pathRender(v: Any): String = (partFieldType, v) match {
    case (_, u: UTF8String) => u.toString
    case (Some(DateType), days: java.lang.Integer) =>
      java.time.LocalDate.ofEpochDay(days.longValue()).toString
    case (_, other) => String.valueOf(other)
  }

  /** Was this file written under the CURRENT partition spec? After a
    * spec-evolving ALTER (`specfrom` = the base snapshot id at the
    * change), a carried file's `_pv=` segment was rendered under the
    * OLD spec and must not be judged by the new one — kept by pruning,
    * declined by grouping. Files staged after the change carry newer
    * seqs and re-enter the claims; the bucket-aware compact (all-new
    * seqs) restores them wholesale.
    */
  private def validUnderSpec(e: Snapshots.ManifestEntry): Boolean =
    specFrom.forall(e.seq > _)

  override def filter(predicates: Array[Predicate]): Unit = {
    val decoded = predicates.toSeq.flatMap(decodeIn(_))
    if (decoded.isEmpty || rebuild.isEmpty) return
    val total = currentEntries.size
    val bloomCol = SnapshotPruning.bloomColumn(store)
    val bloomOf = SnapshotPruning.bloomLoader(store)
    var kept = currentEntries
    decoded.foreach { case (name, values) =>
      val phys = colMap.getOrElse(name, name)
      val longs = values.flatMap(longOf)
      if (longs.size == values.size && longs.nonEmpty) {
        // zone/bloom kernel — identical semantics to plan-time skipping
        val c = SnapshotPruning.Constraint(phys, longs.min, longs.max, Some(longs))
        kept = kept.filterNot(e =>
          SnapshotPruning.skippable(store, e, Seq(c), statsCol, bloomCol, bloomOf))
      }
      if (partColPhys.contains(phys) && pathComparable) {
        // exact partition-value match from the value-pure layout; a file
        // with no _pv= segment cannot be judged — kept (conservative).
        // Spark's partitionBy renders BOTH null and the empty string as
        // __HIVE_DEFAULT_PARTITION__, so that segment is ambiguous: a
        // runtime IN-set containing "" DOES equi-join-match ""-valued
        // rows, and pruning the default dir would drop them. Unjudgeable
        // → kept (null rows in it never match an equi-join, so keeping
        // is merely unpruned I/O, never a wrong answer).
        val wanted = values.map(pathRender).toSet
        kept = kept.filter(e => !validUnderSpec(e) ||
          GraftScan.pvOfPath(e.relPath).forall(pv =>
            pv == "__HIVE_DEFAULT_PARTITION__" || !pvJudgeable(pv) ||
              wanted.contains(pv)))
      }
      bucketSpec.filter(_._1 == phys).foreach { case (_, n) =>
        // bucket ids of the build side's keys — the same hash the write
        // path assigned, so every matching row's file survives
        val dt = logicalSchema.fields
          .find(f => colMap.getOrElse(f.name, f.name) == phys).map(_.dataType)
        dt.foreach { t =>
          val wanted = GraftBucketFunctionHelpers.bucketIdsOf(values, t, n)
            .map(_.toString)
          kept = kept.filter(e => !validUnderSpec(e) ||
            GraftScan.pvOfPath(e.relPath).forall(wanted.contains))
        }
      }
    }
    // an empty kept-set under key-grouped output would hand Spark's
    // group-alignment machinery zero groups; runtime pruning is an I/O
    // optimization, so keeping the files is always correct — the join
    // itself still produces no rows
    if (kept.isEmpty && spjKeys.isDefined) kept = currentEntries
    GraftScan.recordRuntimePrune(store, kept.size, total)
    if (kept.size < total) {
      currentEntries = kept
      currentParquet = rebuild.get(kept)
    }
  }

  // ---- key-grouped output: storage-partitioned joins -------------------

  /** Distinct partition values (path rendering) iff EVERY data file of
    * the scanned snapshot proves its value through the `_pv=` layout and
    * the session opted in (`spark.sql.sources.v2.bucketing.enabled`).
    * Computed once from the UNFILTERED entries — Spark regroups after
    * runtime filtering and fills pruned keys with empty partitions.
    */
  private lazy val spjKeys: Option[Seq[String]] = {
    val enabled = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (!enabled || aggPushed || rebuild.isEmpty || entries.isEmpty ||
        !(pathComparable || bucketSpec.isDefined) ||
        // mixed-spec snapshot: a pre-evolution file's _pv= means
        // something else — grouped claims decline until maintenance
        // rewrites the rows under the current spec
        !entries.forall(validUnderSpec)) None
    else {
      val pvs = entries.map(e => GraftScan.pvOfPath(e.relPath))
      if (pvs.exists(v => v.isEmpty || v.contains("__HIVE_DEFAULT_PARTITION__") ||
          !v.forall(pvJudgeable))) None
      else Some(pvs.flatten.distinct.sorted)
    }
  }

  private def keyRowOf(pv: String): InternalRow = {
    val v: Any =
      if (bucketSpec.isDefined) pv.toInt // the id IS the key (bucket transform)
      else partFieldType.get match {
        case LongType    => pv.toLong
        case IntegerType => pv.toInt
        case ShortType   => pv.toShort
        case ByteType    => pv.toByte
        case StringType  => UTF8String.fromString(pv)
        // inverse of the writer's ISO rendering: epoch days (internal)
        case DateType    => java.time.LocalDate.parse(pv).toEpochDay.toInt
        // inverse of the micros rendering: the internal long verbatim
        case TimestampType => pv.toLong
        case other => throw new IllegalStateException(
          s"unsupported key-grouped partition type $other") // unreachable: pathComparable gates
      }
    new GenericInternalRow(Array[Any](v))
  }

  /** Ordering proof for a sorted bucketed table: every data file in
    * every bucket carries the sort column's zone range, and within each
    * bucket the ranges are pairwise non-overlapping — then the files,
    * read lowest-range first, concatenate into an ascending partition
    * (each FILE is ascending by the sorted writer's contract; late
    * `sortcol` declarations refuse on non-empty tables, and every
    * unsorted write path lands files without a `_pv=` proof, which
    * already kills spjKeys). Overlapping appends DECLINE the claim —
    * the table stays correct, the merge join just pays its sorts until
    * an overwrite re-clusters.
    */
  private lazy val orderedGroups: Boolean =
    spjKeys.isDefined && sortColPhys.isDefined && {
      val sc = sortColPhys.get
      entries.groupBy(e => GraftScan.pvOfPath(e.relPath)).values.forall { es =>
        val zones = es.map(e => SnapshotPruning.zonesOf(e, statsCol).get(sc))
        zones.forall(_.isDefined) && {
          val rs = zones.flatten.sortBy(r => (r._1, r._2))
          rs.zip(rs.drop(1)).forall { case ((_, hi), (lo2, _)) => hi <= lo2 }
        }
      }
    }

  /** Zone low/high of one absolute file path (ordering the files of a
    * key group); MaxValue = unknown, sorts last (unreachable when
    * orderedGroups gated the call).
    */
  private lazy val rangeOfPath: Map[String, (Long, Long)] = entries.flatMap { e =>
    sortColPhys.flatMap(sc => SnapshotPruning.zonesOf(e, statsCol).get(sc))
      .map(r => store.resolve(e.relPath).toUri.getPath -> r)
  }.toMap

  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (!orderedGroups) Array.empty
    else Array(Expressions.sort(
      Expressions.column(logicalOf(sortColPhys.get)),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

  override def outputPartitioning(): Partitioning = spjKeys match {
    case Some(ks) =>
      val key = bucketSpec match {
        case Some((c, n)) => Expressions.bucket(n, logicalOf(c))
        case None         => Expressions.identity(logicalOf(partColPhys.get))
      }
      new KeyGroupedPartitioning(Array(key), ks.size)
    case None => new UnknownPartitioning(0)
  }

  override def toBatch: Batch = {
    val inner = currentParquet.toBatch
    if (spjKeys.isEmpty) inner
    else new Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        val files: Array[PartitionedFile] = inner.planInputPartitions().flatMap {
          case fp: FilePartition => fp.files
          case other => throw new IllegalStateException(
            s"parquet planned a non-file partition: $other")
        }
        // one HasPartitionKey group per partition value — Spark's
        // key-grouped exec merges/sorts these and aligns both join
        // sides. Parse the DECODED path (same rendering the manifest
        // and the runtime filter use), never SparkPath's url-encoded
        // string — an escaped partition value would double-decode.
        val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
        files.groupBy(f => GraftScan.pvOfPath(f.toPath.toUri.getPath).getOrElse(
            throw new IllegalStateException(s"no _pv= segment in ${f.filePath}")))
          .toSeq.sortBy(_._1).flatMap { case (pv, fs) =>
            if (orderedGroups)
              // when the ordering is claimed, the whole group is ONE
              // partition with its files (and a big file's splits) read
              // lowest-range first — the concatenation is what
              // outputOrdering promised, and Spark's within-key merge
              // order is not ours to rely on
              Seq((pv, fs.sortBy { f =>
                val (lo, hi) = rangeOfPath.getOrElse(f.toPath.toUri.getPath,
                  (Long.MaxValue, Long.MaxValue))
                (lo, hi, f.start)
              }))
            else {
              // size-bounded CHUNKS per key: plain grouping merges them
              // back (same plan as before), but a partially-clustered
              // join keeps them as separate tasks — a skewed bucket no
              // longer serializes on one core
              val chunks = scala.collection.mutable.ArrayBuffer(
                scala.collection.mutable.ArrayBuffer.empty[PartitionedFile])
              var bytes = 0L
              fs.foreach { f =>
                if (bytes + f.length > maxBytes && chunks.last.nonEmpty) {
                  chunks += scala.collection.mutable.ArrayBuffer.empty[PartitionedFile]
                  bytes = 0L
                }
                chunks.last += f; bytes += f.length
              }
              chunks.filter(_.nonEmpty).map(c => (pv, c.toArray)).toSeq
            }
          }.zipWithIndex.map { case ((pv, fs), i) =>
            new KeyedFilePartition(i, fs, keyRowOf(pv)): InputPartition
          }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        inner.createReaderFactory()
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val start = Option(options.get("startsnapshot")).map(_.toInt).getOrElse(0)
    val skipRewrites = Option(options.get("skiprewrites")).exists(_.toBoolean)
    // the stream reads FILES, so it wants the PHYSICAL read schema; its
    // rows are positionally identical to the logical readSchema() above
    new SnapshotMicroBatchStream(spark, store, currentParquet.readSchema(), statsCol,
      start, skipRewrites, options)
  }
}

/** A [[FilePartition]] that also declares the partition value all its
  * files share — the unit Spark's key-grouped (storage-partitioned) scan
  * execution groups and aligns across join sides. Reader factories see a
  * plain FilePartition (it IS one), so parquet's vectorized reader path
  * is untouched.
  */
private[sources] class KeyedFilePartition(
    idx: Int, fs: Array[PartitionedFile], key: InternalRow)
  extends FilePartition(idx, fs) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** [[ReadLimit]] in this source's own units: at most `maxSnapshots`
  * commits and `maxBytes` manifest-proven data bytes per micro-batch.
  * Spark treats a ReadLimit as an opaque token — it hands back whatever
  * `getDefaultReadLimit` returned — so a source whose admission atom is
  * a COMMIT (not a row or a file) is expected to define its own.
  */
private[sources] final case class SnapshotAdmission(maxSnapshots: Int, maxBytes: Long)
  extends ReadLimit

/** DSv2 micro-batch stream over a catalog table — the V1 snapshot
  * source's contract behind the connector API: OFFSETS ARE SNAPSHOT IDS
  * (`latestOffset` is one pointer read), a batch is the manifest diff
  * over `(from, to]` opened as an exact file list through Spark's own
  * DSv2 parquet machinery, and exactly-once composes end-to-end —
  * appends reuse files verbatim so each row appears in exactly one
  * diff, and replayed `planInputPartitions` calls over immutable
  * manifests reproduce bit-identical batches after a checkpointed
  * restart. Rewrite windows fail loudly (or are skipped whole with
  * `skiprewrites=true`), exactly like the V1 source — one shared
  * [[SnapshotDiff]] definition. Triggers admit work under
  * `maxsnapshotspertrigger` / `maxbytespertrigger` caps
  * ([[SupportsAdmissionControl]]; kernel shared with the V1 source via
  * [[SnapshotDiff.admit]]) and `Trigger.AvailableNow` runs drain the
  * backlog paced, pinned to the id current at start
  * ([[SupportsTriggerAvailableNow]]). Evolution replays conform: the read
  * schema is the TABLE schema, so pre-evolution files surface appended
  * columns as NULL straight from the vectorized reader.
  */
final class SnapshotMicroBatchStream(
    spark: SparkSession,
    store: JPath,
    schema: StructType,
    statsCol: Option[String],
    startExclusive: Int,
    skipRewrites: Boolean,
    options: CaseInsensitiveStringMap,
    changeFeed: Boolean = false) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private def parse(o: ConnectorOffset): Int = o match {
    case SnapshotOffset(id) => id
    case other              => other.json.trim.toInt
  }

  private def scanOver(entries: Seq[Snapshots.ManifestEntry], at: Int): ParquetScan =
    ParquetScanBuilder(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      new SnapshotV2FileIndex(spark, store, at, entries, Some(schema), statsCol),
      schema, schema, options).build()

  override def initialOffset(): ConnectorOffset = SnapshotOffset(startExclusive)

  override def latestOffset(): ConnectorOffset =
    SnapshotOffset(Snapshots.currentId(store).filter(_ > startExclusive)
      .getOrElse(startExclusive))

  override def deserializeOffset(json: String): ConnectorOffset =
    SnapshotOffset(json.trim.toInt)

  // --- Admission control (rate-limited triggers) -----------------------
  //
  // Without a cap, a stream that fell behind — or a fresh mirror started
  // against a table with months of commits — replays EVERYTHING pending
  // in one giant micro-batch: one batch's shuffle must fit the whole
  // backlog, and a mid-batch crash loses all of its progress. The caps
  // below bound a trigger the way maxFilesPerTrigger bounds the file
  // source, in this source's own units:
  //
  //  - `maxsnapshotspertrigger` — at most N COMMITS per micro-batch
  //    (a commit is this source's atom: windows are snapshot-id ranges,
  //    so capping commits also keeps changefeed windows small).
  //  - `maxbytespertrigger`    — manifest-proven data bytes per batch;
  //    the first pending commit is always admitted even when it alone
  //    exceeds the cap, so progress is guaranteed.
  //
  // Pacing is a PLANNING hint, never a correctness device: the capped
  // end offset feeds the same (from, to] window logic, whose rewrite /
  // tombstone guards still decide what a window may deliver.

  private val maxSnapshotsPerTrigger: Option[Int] =
    Option(options.get("maxsnapshotspertrigger")).map { v =>
      val n = v.toInt
      require(n >= 1, s"maxsnapshotspertrigger must be >= 1, got $n")
      n
    }
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxbytespertrigger")).map { v =>
      val n = v.toLong
      require(n >= 1L, s"maxbytespertrigger must be >= 1, got $n")
      n
    }

  /** Trigger.AvailableNow pin: the id current when the run STARTED.
    * Batches drain up to it (paced), then the query stops on its own;
    * commits landing mid-run wait for the next scheduled run.
    */
  @volatile private var availableNowCeiling: Option[Int] = None

  private def trueLatest: Int =
    Snapshots.currentId(store).filter(_ > startExclusive).getOrElse(startExclusive)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCeiling = Some(trueLatest)

  override def getDefaultReadLimit: ReadLimit =
    if (maxSnapshotsPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else SnapshotAdmission(maxSnapshotsPerTrigger.getOrElse(Int.MaxValue),
      maxBytesPerTrigger.getOrElse(Long.MaxValue))

  override def reportLatestOffset(): ConnectorOffset = SnapshotOffset(trueLatest)

  /** LAG observability ([[ReportsSourceMetrics]], surfaced per batch in
    * `StreamingQueryProgress.sources[i].metrics`): how far behind the
    * table's head this stream is, in the source's own units — pending
    * COMMITS and manifest-proven pending BYTES. The operational question
    * a paced mirror asks ("is the backlog shrinking?") answered from the
    * progress log alone, no table access needed. One manifest read per
    * progress event, O(#files) driver text parse — the same price the
    * batch's own planning already paid.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[ConnectorOffset]):
      java.util.Map[String, String] = {
    val consumed =
      if (latestConsumedOffset.isPresent) parse(latestConsumedOffset.get)
      else startExclusive
    val head = trueLatest
    val out = new java.util.HashMap[String, String]()
    if (head <= consumed) {
      out.put("pendingSnapshots", "0")
      out.put("pendingBytes", "0")
    } else {
      val pending = Snapshots.manifest(store, head)
        .filter(e => e.seq > consumed && e.seq <= head)
      out.put("pendingSnapshots",
        math.max(pending.map(_.seq).distinct.size.toLong, 0L).toString)
      out.put("pendingBytes", pending.map(_.bytes).sum.toString)
    }
    out
  }

  override def latestOffset(start: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    val from = parse(start)
    val ceiling = math.max(from, availableNowCeiling.getOrElse(trueLatest))
    val to = limit match {
      case SnapshotAdmission(maxSnaps, maxBytes) => admit(from, ceiling, maxSnaps, maxBytes)
      case _                                     => ceiling // ReadAllAvailable
    }
    SnapshotOffset(to)
  }

  private def admit(from: Int, ceiling: Int, maxSnaps: Int, maxBytes: Long): Int =
    SnapshotDiff.admit(store, from, ceiling, maxSnaps, maxBytes)

  /** CHANGE-FEED batch (`changeFeed = true`, `schema` then already ends
    * in `_change_type`): the window's materialized change-data files
    * ([[Snapshots.changeFeedFiles]] — computed on first touch,
    * re-served verbatim on replay), planned as a plain vectorized
    * parquet scan. Tombstone windows (MoR UPDATE/MERGE/DELETE, upserts)
    * stream as insert/delete pairs instead of refusing — the streaming
    * consumer of a MUTATING catalog table.
    */
  private def changeFeedPartitions(from: Int, to: Int): Array[InputPartition] = {
    val files = Snapshots.changeFeedFiles(spark, store, from, to, schema,
      skipRewrites)
    if (files.isEmpty) return Array.empty
    val entries = files.map(p => Snapshots.ManifestEntry(
      store.relativize(p).toString, "", java.nio.file.Files.size(p), None, seq = to))
    scanOver(entries, to).toBatch.planInputPartitions()
  }

  override def planInputPartitions(start: ConnectorOffset,
                                   end: ConnectorOffset): Array[InputPartition] = {
    val from = parse(start)
    val to = parse(end)
    // register at PLAN time too: `from` is the offset a killed-mid-batch
    // restart re-executes this batch from, i.e. the true replay floor
    // RIGHT NOW. The engine only invokes commit(end) while constructing
    // the NEXT batch, so plan-time registration is what keeps the floor
    // current for a stream that drains and stops.
    consumerName.foreach(n => Snapshots.registerConsumer(store, n, from))
    if (to <= from) return Array.empty
    if (changeFeed) return changeFeedPartitions(from, to)
    val added = SnapshotDiff.added(store, from, to, skipRewrites)
    if (added.isEmpty) Array.empty
    else scanOver(added, to).toBatch.planInputPartitions()
  }

  /** One factory serves every micro-batch: parquet's reader factory is a
    * function of (schema, conf), not of the file list — files arrive
    * inside each FilePartition.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    scanOver(Nil, startExclusive).toBatch.createReaderFactory()

  /** Retention contract: a read carrying `.option("consumer", name)`
    * registers its committed offset on every batch commit, and
    * [[Snapshots.expire]] then REFUSES to drop manifests below it — a
    * checkpointed restart can always replay. Opt-in: unregistered
    * streams keep the retention-outlives-lag convention.
    */
  private val consumerName: Option[String] = Option(options.get("consumer"))

  override def commit(end: ConnectorOffset): Unit =
    consumerName.foreach(n => Snapshots.registerConsumer(store, n, parse(end)))

  override def stop(): Unit = ()
  override def toString: String = s"SnapshotMicroBatchStream[$store > $startExclusive]"
}

/** ScanBuilder for `.option("changefeed", true).table(cat.ns.t)` — the
  * retraction-aware consumer of a MUTATING catalog table, both
  * surfaces. Read schema is the table's columns plus `_change_type`
  * (insert/delete), physically delivered from materialized change-data
  * files ([[Snapshots.changeFeedFiles]]), so tombstone windows (MoR
  * DML, upserts) surface as row-level insert/delete pairs instead of
  * refusing the way the append-only stream does.
  *
  *  - STREAMING: per-commit windows as micro-batches
  *    ([[SnapshotMicroBatchStream]] in changefeed mode).
  *  - BATCH: ONE pinned window `(startsnapshot, to]` where `to` is the
  *    table load's `VERSION AS OF` / `.option("versionAsOf", n)` pin
  *    (current when unpinned) — the TVF's semantics as a DSv2 relation,
  *    serving (and populating) the SAME `changefeeds/` window cache, so
  *    a batch audit and a streaming mirror never recompute each other's
  *    windows. Pinned + immutable ⇒ a re-read is bit-identical.
  *
  * No pushdown — the feed window is O(changed rows) and filters apply
  * above the scan.
  */
private[sources] final class GraftChangeFeedScanBuilder(
    spark: SparkSession,
    store: JPath,
    logicalSchema: StructType,
    physicalSchema: StructType,
    statsCol: Option[String],
    options: CaseInsensitiveStringMap,
    pin: Option[Int] = None) extends ScanBuilder {

  private val cfField = org.apache.spark.sql.types.StructField(
    "_change_type", StringType, nullable = false)

  private def startOf: Int = Option(options.get("startsnapshot")).map(_.toInt)
    .orElse(Option(options.get("starttimestamp")).map(ms =>
      Snapshots.idAsOfMillis(store, ms.toLong).getOrElse(0)))
    .getOrElse(0)

  private def skipRewrites: Boolean =
    Option(options.get("skiprewrites")).exists(_.toBoolean)

  override def build(): Scan = new Scan {
    override def readSchema(): StructType =
      StructType(logicalSchema.fields.toIndexedSeq :+ cfField)

    override def description(): String = s"GraftChangeFeedScan($store)"

    override def toBatch: Batch = {
      val from = startOf
      val to = pin.orElse(Snapshots.currentId(store)).getOrElse(
        throw new IllegalStateException(
          s"no published snapshot under $store: nothing to feed"))
      require(to >= from,
        s"changefeed window ($from, $to] is inverted (startsnapshot " +
          "beyond the pinned/current snapshot)")
      val physCf = StructType(physicalSchema.fields.toIndexedSeq :+ cfField)
      val entries =
        if (to == from) Nil // empty window: a valid, empty feed
        else Snapshots.changeFeedFiles(spark, store, from, to, physCf,
          skipRewrites).map(p => Snapshots.ManifestEntry(
          store.relativize(p).toString, "", java.nio.file.Files.size(p),
          None, seq = to))
      ParquetScanBuilder(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        new SnapshotV2FileIndex(spark, store, to, entries, Some(physCf),
          statsCol),
        physCf, physCf, options).build().toBatch
    }

    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      // the stream reads FILES (physical names + _change_type last);
      // rows are positionally identical to readSchema()
      new SnapshotMicroBatchStream(spark, store,
        StructType(physicalSchema.fields.toIndexedSeq :+ cfField),
        statsCol, startOf, skipRewrites, options, changeFeed = true)
  }
}
