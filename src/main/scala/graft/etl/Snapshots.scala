package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, StandardCopyOption}

import scala.collection.JavaConverters._

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A31: atomic release publish as a manifest-pointer snapshot layer.
  *
  * The reference publishes a release by staging into a DOT-directory and
  * renaming it live (Base.pm:123-144 `nfs_ftp_site_dir` — the prerelease
  * `.release-N` dir that A17 models); the rename IS the commit, and a
  * concurrent FTP reader either sees the old tree or the new one, never
  * half. This is the warehouse version of that contract, the
  * manifest-pointer pattern open table formats converge on:
  *
  *  - DATA files are immutable once written; a snapshot never mutates a
  *    file, it adds new ones (or reuses old ones verbatim).
  *  - Each snapshot N has a MANIFEST: the exact file list it comprises,
  *    with per-file MD5 + byte size (the E17 shard-manifest idea as the
  *    table's integrity record — `verify` replays A5's checksum pass).
  *  - ONE mutable object exists: the `_current` pointer, committed by
  *    write-temp + atomic rename. Publishing is: write data, write
  *    manifest, swap pointer — so a reader that resolves the pointer at
  *    ANY instant gets a fully-written manifest over fully-written
  *    immutable files. Readers never list directories (a directory scan
  *    WOULD see in-flight files — SnapshotSpec's negative control), and
  *    a reader holding manifest N keeps a stable view while any number
  *    of later snapshots publish: that is snapshot isolation by
  *    immutability, and `readAt(n)` is time travel for free (A26's
  *    release_diff across snapshot ids composes directly).
  *
  * Single writer by design (the reference's one load pipeline); at
  * 100 TB the pointer swap stays O(1) regardless of table size, and the
  * manifest read is one tiny file — no listing of a million-object
  * prefix on the read path.
  */
object Snapshots {

  /** One immutable data file of a snapshot. `stats` optionally carries
    * (min, max) of the snapshot's declared stats column for THIS file —
    * the manifest-level zone map that lets a reader skip files without
    * opening them (or listing anything). Absent stats mean "cannot
    * skip", never "skip": old manifests and stat-less publishes stay
    * fully readable and merely unpruned.
    *
    * `seq` is the snapshot id that ADDED the entry (Iceberg's sequence
    * number): a tombstone erases a key only from data files with a
    * strictly smaller seq, which is what lets one upsert commit carry
    * both the tombstone and the replacement rows without erasing
    * itself.
    */
  /** `multi` carries NAMED per-file (min, max) ranges — the
    * multi-column zone map a z-ordered layout needs (a single anonymous
    * range can only serve one clustering dimension). Serialized as
    * `name=lo:hi` manifest tokens; legacy 4/6-field lines parse
    * unchanged with `multi` empty, and old readers of new manifests
    * would merely not prune — absent stats always mean "cannot skip",
    * never "skip".
    */
  final case class ManifestEntry(relPath: String, md5: String, bytes: Long,
                                 stats: Option[(Long, Long)] = None, seq: Int = 0,
                                 multi: Seq[(String, Long, Long)] = Nil)

  private[graft] def md5hex(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  /** MD5 of many files CONCURRENTLY (guide §5 — keep the driver out of
    * serial data work): manifesting used to stream every freshly staged
    * byte through one thread, so a commit's wall time carried
    * O(staged bytes) single-threaded I/O on top of the write itself.
    * The files were written by N parallel tasks and are independent, so
    * hash them on a bounded pool — the bytes are page-cache-warm right
    * after the write and the hash is CPU-bound, which parallelizes
    * cleanly. One file (the common tiny-commit case) stays inline.
    */
  private[graft] def md5hexAll(files: Seq[Path]): Map[Path, String] =
    files.zip(parMap(files)(md5hex)).toMap

  /** `f` over `xs` on a bounded pool, inline for a single element. A
    * worker's failure is rethrown as itself (the exception the serial
    * path would throw), not wrapped in the pool's ExecutionException.
    */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val n = math.min(xs.size, Runtime.getRuntime.availableProcessors)
    if (n <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(x)
        })).map { fut =>
          try fut.get() catch {
            case e: java.util.concurrent.ExecutionException if e.getCause != null =>
              throw e.getCause
          }
        }
      finally pool.shutdown()
    }
  }

  /** ONE Hadoop conf per session for the driver's raw parquet FOOTER
    * reads (read-only use: opening local files). `newHadoopConf()`
    * re-copies the shared conf and re-applies every SQL conf entry per
    * call, and the copies were observed re-parsing the default XML
    * resources from the jars on the commit path (sampled ~14% of
    * catalog_dpp_ts's driver wall in Configuration.loadResources).
    * Never hand this to a WRITER path — prepareWrite mutates its conf.
    * Weak keys: the cache never keeps a session alive. The conf is
    * rebuilt when the session's SQL conf no longer equals the one it was
    * built from, so a key set after the first footer read is seen.
    * The parquet READER OPTIONS must come from this conf too, which is
    * what [[footer]] does: parquet's one-argument reader `open` builds
    * its options from a fresh `Configuration` and re-parses the same
    * XML resources on every open, whatever conf the input file carries.
    */
  private val footerConfCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      (Map[String, String], org.apache.hadoop.conf.Configuration)]())
  private[graft] def footerConf(s: SparkSession): org.apache.hadoop.conf.Configuration = {
    val sqlConf = s.sessionState.conf.getAllConfs
    footerConfCache.compute(s, (_, cached) =>
      if (cached != null && cached._1 == sqlConf) cached
      else (sqlConf, s.sessionState.newHadoopConf()))._2
  }

  /** The parquet footer of `p`, read on the driver with reader options
    * built from [[footerConf]] (Spark's own footer read, unfiltered:
    * every row group with its column statistics). The one way graft
    * code opens a footer.
    */
  private[graft] def footer(s: SparkSession, p: org.apache.hadoop.fs.Path)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, footerConf(s)),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)

  private def footer(s: SparkSession, root: Path, relPath: String)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    footer(s, new org.apache.hadoop.fs.Path(root.resolve(relPath).toUri))

  /** A footer's row count: the sum over its row groups. */
  private def rowCount(m: org.apache.parquet.hadoop.metadata.ParquetMetadata): Long =
    m.getBlocks.asScala.map(_.getRowCount).sum

  /** The schema a `mergeSchema=true` read of `es` infers, resolved on
    * the DRIVER from parquet footers with no Spark job. Files of one
    * commit share a schema (`seq` stamps the adding commit), so ONE
    * footer per distinct seq suffices, taken in manifest order (the
    * order the inferring read merged in). The merge is Spark's own
    * (writer row metadata first, parquet schema as fallback), and the
    * result is nullable like every file-source relation's schema.
    */
  private[graft] def footerSchema(s: SparkSession, root: Path,
                                  es: Seq[ManifestEntry]): StructType = {
    require(es.nonEmpty, s"no files to resolve a schema from under $root")
    val footers = parMap(es.distinctBy(_.seq)) { e =>
      val p = new org.apache.hadoop.fs.Path(root.resolve(e.relPath).toUri)
      new org.apache.parquet.hadoop.Footer(p, footer(s, p))
    }
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
      .readSchema(footers, s)
  }

  /** A MANIFEST-BACKED scan of `es` under `schema`: a HadoopFsRelation
    * over a [[graft.sources.SnapshotFileIndex]], so the manifest IS the
    * listing (no listing job ever runs) and pushed data filters prune
    * whole files through the zone maps / bloom sidecars at plan time.
    * Files missing a schema column surface it as NULL. Without a
    * schema, [[footerSchema]] supplies the inferred one. `seqCol` adds
    * each row's file commit seq as an int column of that name.
    */
  private[graft] def scan(s: SparkSession, root: Path, es: Seq[ManifestEntry],
                          schema: StructType,
                          pruneCol: Option[String] = None,
                          seqCol: Option[String] = None): DataFrame = {
    val index = new graft.sources.SnapshotFileIndex(root, es.map(_.seq).max, es, pruneCol, seqCol)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    org.apache.spark.sql.GraftBridge.ofRows(s,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
  }

  private[graft] def scan(s: SparkSession, root: Path, es: Seq[ManifestEntry]): DataFrame =
    scan(s, root, es, footerSchema(s, root, es))

  /** Exact per-file `(col, min, max)` zone maps read from the parquet
    * FOOTERS of freshly-staged files, replacing the scan JOB the stats
    * gather used to pay (guide §1.2: never re-compute what storage
    * already recorded — staging re-read every written byte just to
    * learn min/max the writer had already footered). Returns None — and
    * the caller falls back to the exact one-job scan — unless EVERY
    * file yields decisive evidence for every column:
    *
    *  - the column is physical INT32/INT64 with no, or a signed-int,
    *    logical annotation (the exact cases where footer min/max equals
    *    the scan's `min(col).cast("long")`; DATE/DECIMAL/unsigned
    *    annotations have different cast semantics and decline), and
    *  - every row group either carries real min/max or proves itself
    *    all-null (`numNulls == rowCount`); absent or ambiguous
    *    statistics decline.
    *
    * A file whose column is entirely NULL gets no entry for it — the
    * same "no zone, cannot skip" the scan produced. Behavior is thus
    * bit-identical to the job on every accepted input; everything else
    * still pays the job.
    */
  private def footerZones(s: SparkSession, files: Seq[Path], cols: Seq[String])
      : Option[Map[Path, Seq[(String, Long, Long)]]] = {
    if (cols.isEmpty) return Some(files.map(f => f -> Seq.empty[(String, Long, Long)]).toMap)
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    // one footer open per file, CONCURRENT like md5hexAll (guide §5): a
    // partitioned commit stages O(partitions) small files and a serial
    // footer loop put O(files) driver round-trips on the commit path —
    // measured ~1-1.5 s of the dpp appends' 3 s driver gap at 84 files
    def zonesOf(p: Path): Option[Seq[(String, Long, Long)]] =
        try {
          val ft = footer(s, new org.apache.hadoop.fs.Path(p.toUri))
          val sch = ft.getFileMetaData.getSchema
          val blocks = ft.getBlocks.asScala.toSeq
          val perCol: Seq[Option[Seq[(String, Long, Long)]]] = cols.map { c =>
            val idx = (0 until sch.getFieldCount)
              .find(i => sch.getFields.get(i).getName == c)
            idx.flatMap { i =>
              val fld = sch.getFields.get(i)
              val eligible = fld.isPrimitive && {
                val pt = fld.asPrimitiveType()
                (pt.getPrimitiveTypeName == INT64 || pt.getPrimitiveTypeName == INT32) &&
                  (pt.getLogicalTypeAnnotation match {
                    case null => true
                    case ann: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                      ann.isSigned
                    case _ => false
                  })
              }
              if (!eligible) None
              else {
                // Column chunks are in LEAF order, not top-level field
                // order: with any group field in the schema the field
                // index would address the wrong chunk and silently
                // accept a different column's min/max into the zone
                // map. Match the chunk by its dotted path instead; a
                // top-level primitive's path is exactly [name].
                val cpath = org.apache.parquet.hadoop.metadata.ColumnPath.get(c)
                val chunks = blocks.map(_.getColumns.asScala.find(_.getPath == cpath))
                if (chunks.exists(_.isEmpty)) None
                else {
                val sts = chunks.zip(blocks).map { case (ch, b) =>
                  (Option(ch.get.getStatistics), b.getRowCount) }
                val decisive = sts.forall { case (st, rows) =>
                  st.exists(x => x.hasNonNullValue ||
                    (x.isNumNullsSet && x.getNumNulls == rows))
                }
                if (!decisive) None
                else {
                  val vals = sts.flatMap(_._1).filter(_.hasNonNullValue)
                  if (vals.isEmpty) Some(Nil) // all-null: no zone, decisively
                  else Some(Seq((c,
                    vals.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
                    vals.map(_.genericGetMax.asInstanceOf[Number].longValue).max)))
                }
                }
              }
            }
          }
          if (perCol.exists(_.isEmpty)) None else Some(perCol.flatMap(_.get))
        } catch { case scala.util.control.NonFatal(_) => None }
    val perFile = files.zip(parMap(files)(zonesOf))
    // any indecisive file declines the WHOLE fast path (the caller pays
    // the exact one-job scan), exactly as the serial loop did
    if (perFile.exists(_._2.isEmpty)) None
    else Some(perFile.map { case (p, z) => p -> z.get }.toMap)
  }

  /** Write-temp + atomic rename. The temp name is DOT-prefixed so a
    * crash between write and rename leaves a crumb no directory scan
    * mistakes for a real manifest/version/ref (every scan below also
    * pattern-filters — belt and braces; a crumb must never brick the
    * store). Shared with [[TxnCatalog]].
    */
  private[etl] def atomicWrite(target: Path, content: String): Unit = {
    val tmp = target.getParent.resolve("." + target.getFileName.toString + ".tmp." +
      java.util.UUID.randomUUID().toString)
    Files.write(tmp, content.getBytes(UTF_8))
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Parse `name` as `<prefix><number>` — anything else (crash crumbs,
    * editor droppings) is None, never an exception.
    */
  private[etl] def numericSuffix(name: String, prefix: String): Option[Int] =
    if (name.startsWith(prefix) && name.length > prefix.length &&
      name.drop(prefix.length).forall(_.isDigit))
      Some(name.drop(prefix.length).toInt)
    else None

  /** Pointer format: `snapshotId` or `snapshotId\tbatchId` — the second
    * field records the streaming micro-batch that committed the
    * snapshot, ATOMICALLY with it (same rename), which is what makes
    * [[publishBatch]] replay-idempotent. Plain-`id` pointers from
    * non-streaming publishes parse fine (no batch watermark).
    */
  private def pointer(root: Path): Option[(Int, Option[Long])] = {
    val p = root.resolve("_current")
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), UTF_8).trim.split('\t') match {
      case Array(id)      => Some((id.toInt, None))
      case Array(id, bid) => Some((id.toInt, Some(bid.toLong)))
      case other => throw new IllegalStateException(
        s"malformed _current: ${other.mkString("\\t")}")
    }
  }

  def currentId(root: Path): Option[Int] = pointer(root).map(_._1)

  /** Highest streaming micro-batch id ever committed (None before the
    * first streaming publish or after a plain publish).
    */
  def lastBatchId(root: Path): Option[Long] = pointer(root).flatMap(_._2)

  def manifest(root: Path, n: Int): Seq[ManifestEntry] =
    Files.readAllLines(root.resolve("manifests").resolve(s"manifest-$n")).asScala.toSeq
      .filter(_.nonEmpty)
      .filterNot(_.startsWith("#")) // versioned header lines (manifestMeta)
      .map { line =>
        val f = line.split('\t')
        if (f.length < 4) throw new IllegalStateException(
          s"malformed manifest-$n line: ${f.mkString("\\t")}")
        // fields past seq: `name=lo:hi` tokens are named zone maps; a
        // bare (lo, hi) pair is the legacy single anonymous range
        val (named, positional) = f.drop(4).toSeq.partition(_.contains('='))
        val stats = positional match {
          case Seq()       => None
          case Seq(lo, hi) => Some((lo.toLong, hi.toLong))
          case other => throw new IllegalStateException(
            s"malformed manifest-$n stats in line: ${other.mkString("\\t")}")
        }
        val multi = named.map { t =>
          val Array(name, range) = t.split('=')
          val Array(lo, hi) = range.split(':')
          (name, lo.toLong, hi.toLong)
        }
        ManifestEntry(f(0), f(1), f(2).toLong, stats, f(3).toInt, multi)
      }

  /** SNAPSHOT-CARRIED METADATA: `#meta\t<key>\t<base64(value)>` header
    * lines at the top of a manifest. Because the manifest is published
    * by the SAME pointer rename as its file list, metadata stamped here
    * commits atomically WITH the rows — the mechanism the catalog uses
    * to make a schema-changing REPLACE TABLE crash-atomic (rows and
    * declared schema can never be seen apart) and to give time travel
    * each snapshot's own shape. Values are base64 so arbitrary payloads
    * (schema JSON with newlines) stay line-safe; legacy manifests have
    * no header and parse unchanged; legacy readers skip nothing they
    * understand (the entry parser ignores `#` lines).
    *
    * Every manifest writer CARRIES the base manifest's meta forward
    * unless given an explicit override, so a table's metadata survives
    * appends/compactions/deletes without each path knowing what's in it.
    */
  def manifestMeta(root: Path, n: Int): Map[String, String] = {
    val p = root.resolve("manifests").resolve(s"manifest-$n")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.toSeq
      .filter(_.startsWith("#meta\t"))
      .map { l =>
        val f = l.split('\t')
        f(1) -> new String(java.util.Base64.getDecoder.decode(f(2)), UTF_8)
      }.toMap
  }

  private def metaLines(meta: Map[String, String]): Seq[String] =
    meta.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!k.contains('\t') && !k.contains('\n') && !k.contains('\r'),
        s"manifest meta key '$k' must be tab/newline-free")
      s"#meta\t$k\t${java.util.Base64.getEncoder.encodeToString(v.getBytes(UTF_8))}"
    }

  /** One definition of "write manifest `id`": header lines first, then
    * entry lines. `meta` is the snapshot's carried metadata — callers
    * pass the base manifest's meta (possibly overridden).
    *
    * Every manifest is stamped with a `#ts` header (epoch millis) at
    * write time — the basis for `TIMESTAMP AS OF` time travel. The
    * stamp rides the same atomic write as the file list, is NOT
    * carried forward (each snapshot gets its own instant, unlike
    * `#meta` keys), and the entry parser already skips `#` lines, so
    * legacy readers parse stamped manifests unchanged.
    */
  private def writeManifestFile(root: Path, id: Int, entries: Seq[ManifestEntry],
                                meta: Map[String, String]): Unit = {
    Files.createDirectories(root.resolve("manifests"))
    atomicWrite(root.resolve("manifests").resolve(s"manifest-$id"),
      (s"#ts\t${System.currentTimeMillis()}" +: (metaLines(meta) ++
        entries.map(manifestLine))).mkString("\n"))
  }

  /** Commit instant of snapshot `n`, epoch millis — the `#ts` header
    * stamped when the manifest was written. Manifests predating the
    * header fall back to the file's mtime: manifests are immutable
    * once written (the pointer moves, the files never change), so the
    * mtime IS the write instant. Strictly the stamp is the STAGING
    * instant; every publish path writes the manifest under the same
    * lock (or immediately before the pointer rename), so the skew to
    * the commit is sub-statement and the stamps stay monotone along
    * the `_current` chain of a single-writer store.
    */
  def commitTsMillis(root: Path, n: Int): Long = {
    val p = root.resolve("manifests").resolve(s"manifest-$n")
    Files.readAllLines(p).asScala
      .find(_.startsWith("#ts\t"))
      .map(_.split('\t')(1).toLong)
      .getOrElse(Files.getLastModifiedTime(p).toMillis)
  }

  /** `TIMESTAMP AS OF` resolution: the LATEST snapshot at or below the
    * current head whose commit instant is <= `tMillis`, or None when
    * the table has no snapshot that old. Only ids up to `_current` are
    * considered — branch heads and crashed stagings above the head are
    * not main-line history (read a branch by name via `VERSION AS OF
    * 'ref'`); ids pruned by retention simply drop out of the scan.
    * O(#manifests) tiny header reads, driver-side, no data file opened.
    */
  def idAsOfMillis(root: Path, tMillis: Long): Option[Int] = {
    val cur = currentId(root).getOrElse(return None)
    (1 to cur)
      .filter(n => Files.exists(root.resolve("manifests").resolve(s"manifest-$n")))
      .filter(n => commitTsMillis(root, n) <= tMillis)
      .maxOption
  }

  private def manifestLine(e: ManifestEntry): String = {
    e.multi.foreach { case (name, _, _) =>
      require(!name.exists(c => c == '=' || c == ':' || c == '\t' || c == '\n'),
        s"stats column name '$name' would corrupt the manifest encoding")
    }
    s"${e.relPath}\t${e.md5}\t${e.bytes}\t${e.seq}" +
      e.stats.map { case (lo, hi) => s"\t$lo\t$hi" }.getOrElse("") +
      e.multi.map { case (name, lo, hi) => s"\t$name=$lo:$hi" }.mkString
  }

  /** Stage `df` as immutable data files for the NEXT snapshot id and
    * write that snapshot's manifest — everything EXCEPT the pointer
    * swap. Exposed separately so SnapshotSpec can hold a fully-staged,
    * unpublished release and prove readers cannot see it; [[publish]] =
    * stage + [[commit]]. With `append = true` the new manifest reuses
    * the previous snapshot's entries verbatim (shared immutable files)
    * and adds only the new data — the incremental-release shape.
    */
  def stage(s: SparkSession, root: Path, df: DataFrame, append: Boolean,
            statsCol: Option[String] = None): Int = {
    val prev = currentId(root)
    // allocate PAST any manifest already on disk (a branch head, an
    // uncommitted staging, a crashed OCC commit) — never overwrite one
    val id = nextManifestId(root)
    val dataDir = root.resolve("data").resolve(f"snap-$id%05d")
    Files.createDirectories(dataDir)
    df.write.mode("overwrite").parquet(dataDir.toString)
    val listing = Files.list(dataDir)
    val freshFiles = try listing.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    finally listing.close()
    // Per-file (min, max) of the stats column: from the parquet FOOTERS
    // when they are decisive (zero jobs, O(#files) driver reads), else
    // gathered in ONE job over the freshly-written files (grouped by
    // file, not a job per file) — identical values either way.
    val statsByFile: Map[String, (Long, Long)] = statsCol match {
      case None => Map.empty
      case Some(c) =>
        footerZones(s, freshFiles, Seq(c)) match {
          case Some(zones) =>
            zones.flatMap { case (p, z) =>
              z.headOption.map { case (_, lo, hi) =>
                p.getFileName.toString -> (lo, hi) }
            }
          case None =>
            s.read.parquet(dataDir.toString)
              .groupBy(input_file_name().as("f"))
              .agg(min(col(c)).cast("long").as("lo"), max(col(c)).cast("long").as("hi"))
              .collect()
              // a file whose stats column is entirely NULL has no zone
              // (min/max come back null): stage it with NO range — the
              // same "cannot skip" the footer path emits, never a
              // fabricated (0,0) that could wrongly prune
              .flatMap(r =>
                if (r.isNullAt(1) || r.isNullAt(2)) None
                else Some(java.nio.file.Paths.get(new java.net.URI(r.getString(0)).getPath)
                  .getFileName.toString -> (r.getLong(1), r.getLong(2))))
              .toMap
        }
    }
    val md5s = md5hexAll(freshFiles)
    val fresh = freshFiles
      .map(p => ManifestEntry(root.relativize(p).toString, md5s(p), Files.size(p),
        statsByFile.get(p.getFileName.toString), seq = id))
    val carried =
      if (append) prev.map(manifest(root, _)).getOrElse(Nil) else Nil
    // meta carries across append AND rewrite: a compaction/overwrite
    // changes the file list, never the table's carried metadata
    writeManifestFile(root, id, carried ++ fresh,
      prev.map(manifestMeta(root, _)).getOrElse(Map.empty))
    id
  }

  /** The commit: one atomic pointer rename. After this returns, every
    * reader resolves snapshot `id`; before it, none can. `batchId`
    * rides in the same rename when a streaming micro-batch commits.
    */
  def commit(root: Path, id: Int, batchId: Option[Long] = None): Unit =
    atomicWrite(root.resolve("_current"),
      batchId.fold(id.toString)(b => s"$id\t$b"))

  /** Exactly-once streaming ingestion: commit one micro-batch as one
    * appended snapshot, idempotently. Structured Streaming's foreachBatch
    * contract is at-least-once — after a crash between sink commit and
    * checkpoint write, the SAME batch id is re-delivered with the SAME
    * data. The batch id is committed atomically WITH the snapshot (one
    * pointer rename), so the replay check (`lastBatchId >= batchId` ⇒
    * no-op) and the data it guards can never disagree: every micro-batch
    * lands in the table exactly once, whatever the crash point. Returns
    * whether this call committed (false = replay skipped). Composes with
    * everything downstream: per-batch CDC (`readChanges(n-1, n)` = that
    * batch's rows), pinned readers mid-ingest, compaction after churn.
    */
  def publishBatch(s: SparkSession, root: Path, df: DataFrame, batchId: Long): Boolean = {
    if (lastBatchId(root).exists(_ >= batchId)) false
    // an empty batch cannot FOUND the table — it would commit an empty
    // manifest with no schema to read back; skipping leaves the replay
    // contract intact (the batch stays re-deliverable, and stays empty).
    // On an existing table an empty batch commits normally: it advances
    // the batch watermark with the manifest carried forward unchanged.
    else if (currentId(root).isEmpty && df.isEmpty) false
    else {
      val id = stage(s, root, df, append = currentId(root).isDefined)
      commit(root, id, Some(batchId))
      true
    }
  }

  private def writeTombstone(s: SparkSession, root: Path, keys: DataFrame,
                             id: Int, baseId: Int): Seq[ManifestEntry] = {
    require(keys.columns.nonEmpty, "tombstone needs at least one key column")
    // ONE delete-key column SET per TABLE: a second tombstone under a
    // different column set would schema-merge into a wider frame whose
    // null-padded anti-join silently deletes nothing (or the wrong
    // thing) — reject it at write time instead. Composite keys (a
    // multi-column tombstone, the MySQL composite-PRIMARY-KEY mirror
    // shape) are one SET; every later tombstone must carry the same.
    manifest(root, baseId).find(isDelete).foreach { prior =>
      require(!isPosDelete(prior),
        s"store $root carries POSITION tombstones; an equality tombstone " +
          "cannot coexist with them — compact first")
      val priorCols = footerSchema(s, root, Seq(prior)).fieldNames.toSeq
      require(priorCols.toSet == keys.columns.toSet,
        s"tombstone key columns '${keys.columns.mkString(",")}' conflict with " +
          s"existing '${priorCols.mkString(",")}'")
    }
    val delDir = root.resolve("deletes").resolve(f"snap-$id%05d")
    Files.createDirectories(delDir)
    // SIZE-BOUNDED staging, not coalesce(1): distinct() is already a
    // shuffle and AQE coalesces its output partitions to the advisory
    // size, so a 100-key delete still lands one file while a 100M-key
    // whole-partition purge writes N ~64MB files from N tasks instead
    // of funneling every key through one core. The manifest carries a
    // list and the read-side anti-join unions tombstone files, so N is
    // free semantically.
    keys.distinct().write.mode("overwrite").parquet(delDir.toString)
    val listing = Files.list(delDir)
    val tombFiles = try listing.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    finally listing.close()
    val md5s = md5hexAll(tombFiles)
    tombFiles.map(p => ManifestEntry(root.relativize(p).toString, md5s(p), Files.size(p),
      None, seq = id))
  }

  /** Row-level delete as a snapshot commit (merge-on-read): write the
    * distinct keys as ONE tombstone file under `deletes/`, publish a
    * manifest = previous entries + the tombstone. O(deleted keys) I/O
    * regardless of table size — no data file is opened, let alone
    * rewritten; the anti-join cost moves to readers until the next
    * compaction folds the tombstones in physically. `keys` must be a
    * single column whose NAME is the key column (the tombstone's schema
    * carries the join key, so reads need no out-of-band declaration),
    * and it must match any tombstones already in the manifest.
    */
  def publishDeletes(s: SparkSession, root: Path, keys: DataFrame): Int = {
    val prev = currentId(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    val id = stageDeletesOnto(s, root, keys, prev)
    commit(root, id, lastBatchId(root))
    id
  }

  /** Row-level DELETE for a KEY-LESS table (no NOT NULL key to address
    * rows by): POSITION tombstones — (`__file` store-relative path,
    * `__pos` parquet row ordinal) pairs under `deletes/pos-`, the other
    * half of the open formats' delete-file pair. One scan of the base
    * snapshot computes the matching rows' coordinates via the file
    * source's generated `_metadata.file_path` / `row_index` columns
    * (no shuffle — the ordinals come straight from the reader), the
    * pairs stage size-bounded, and ONE surgical commit carries the
    * entire base manifest verbatim: O(matched rows) I/O, zero data
    * files rewritten, exactly the equality path's cost shape without
    * requiring a key. Positions are computed against snapshot `base`,
    * so any concurrent advance conflicts loudly (a row ordinal proven
    * against N is meaningless against N+1). Mutually exclusive with
    * equality tombstones per store; compaction folds positions like any
    * tombstone (the merged read is the fold).
    */
  def publishPositionDeletes(s: SparkSession, root: Path, cond: org.apache.spark.sql.Column): Int = {
    val base = currentId(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    val fresh = stagePositionTombstone(s, root, base, cond)
    if (fresh.isEmpty) return base // nothing matched: no-op, no commit
    try commitOcc(root, fresh, OccSurgical(base, manifest(root, base)))
    catch { case e: Throwable => discardStaged(root, fresh); throw e }
  }

  /** The data half of [[publishPositionDeletes]]: pairs staged (not
    * committed) under `deletes/pos-occ-*`, computed OUTSIDE any lock.
    */
  private[graft] def stagePositionTombstone(s: SparkSession, root: Path,
                                            baseId: Int,
                                            cond: org.apache.spark.sql.Column): Seq[ManifestEntry] = {
    val (datas, dels) = dataAndDeletes(root, baseId)
    require(dels.forall(isPosDelete),
      s"store $root carries equality tombstones; position deletes cannot " +
        "coexist with them — compact first")
    require(datas.nonEmpty, s"snapshot $baseId of $root lists no data files")
    // the SAME rendering both here and at merge-read time: hadoop Path
    // over the store URI ("file:/..." single-slash form, what
    // _metadata.file_path emits), plus exactly one separator
    val prefix = posPrefix(root)
    // raw base files, not the merged view: a pair for an already-deleted
    // row is harmless (the anti-join is idempotent), and skipping the
    // merge keeps this one cheap scan
    val pairs = scan(s, root, datas)
      .select(col("*"), col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__pos"))
      .filter(cond)
      .select(substring_index_safe(col("__fp"), prefix).as("__file"), col("__pos"))
    val delDir = root.resolve("deletes").resolve(
      "pos-occ-" + java.util.UUID.randomUUID().toString)
    Files.createDirectories(delDir)
    // COMPRESSED position tombstones: one run-optimized Roaring64 of
    // ordinals per named file (`__file`, `__bitmap`) instead of a row
    // per ordinal — a 10M-ordinal purge drops from ~40 MB of pairs to a
    // few hundred KB, and the merged read's probe becomes a broadcast
    // bitmap test instead of a 10M-row anti-join. Pre-bitmap PAIR files
    // (`__file`, `__pos`) stay readable forever: the read side converts
    // them on first touch ([[posFileBitmaps]]).
    pairs.groupBy("__file")
      .agg(graft.functions.BitmapBuild.column(col("__pos")).as("__bitmap"))
      .write.mode("overwrite").parquet(delDir.toString)
    val listing = Files.list(delDir)
    val posFiles = try listing.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    finally listing.close()
    val md5s = md5hexAll(posFiles)
    val entries = posFiles
      .map(p => ManifestEntry(root.relativize(p).toString, md5s(p), Files.size(p)))
    if (entries.nonEmpty && stagedRows(s, root, entries) == 0) {
      discardStaged(root, entries)
      Nil
    } else entries
  }

  /** Strip `prefix` from the head of `c` (the store-URI → relPath
    * translation for position pairs). substring is 1-based.
    */
  private def substring_index_safe(c: org.apache.spark.sql.Column, prefix: String): org.apache.spark.sql.Column =
    substring(c, prefix.length + 1, Int.MaxValue)

  /** Per-store memo of position-tombstone bitmaps: store → delete-file
    * relPath → that file's per-data-file bitmaps, for the delete files
    * the store's last driver-side merge applied. Each merge reuses the
    * entries of files still present, converts the missing ones, and
    * replaces the slot with exactly its own delete-file set (the
    * [[tombRangeCache]] discipline), so a slot never outgrows the
    * manifest it came from: compaction drops the files it retired.
    */
  private val posBitmapCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Map[String, Array[Byte]]]]()

  /** The delete-file relPaths [[posBitmapCache]] holds for `root`. */
  private[graft] def posBitmapsCached(root: Path): Set[String] =
    Option(posBitmapCache.get(root.toAbsolutePath.normalize.toString))
      .fold(Set.empty[String])(_.keySet)

  /** Per-file ordinal BITMAPS of one immutable position-tombstone file.
    * Two wire shapes, one result: the compressed (`__file`, `__bitmap`)
    * rows collect directly; a PRE-BITMAP pair file (`__file`, `__pos`)
    * converts through the same Roaring aggregate on first touch — old
    * tombstones stay readable with no migration step, they just pay
    * their conversion once per cached slot.
    */
  private def posFileBitmaps(s: SparkSession, root: Path,
                             e: ManifestEntry): Map[String, Array[Byte]] = {
    val df = s.read.parquet(root.resolve(e.relPath).toString)
    val rows =
      if (df.columns.contains("__bitmap")) df.collect()
      else df.groupBy("__file")
        .agg(graft.functions.BitmapBuild.column(col("__pos")).as("__bitmap"))
        .collect()
    rows.map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
  }

  /** Manifest-proven tombstone size above which the per-file bitmap
    * merge moves EXECUTOR-side ([[posBitmapsDistributed]]): below it the
    * driver fold is a handful of small byte-array unions; above it the
    * driver must not deserialize-union O(sum of inputs) when the final
    * broadcast only needs O(merged bytes).
    */
  private val PosMergeDriverBytes: Long = 64L << 20

  /** The merged per-file bitmaps of a delete-file SET: overlapping
    * names OR together (two purges may kill different rows of one
    * file). Driver memory is O(FINAL bitmap bytes) — the broadcast
    * probe's irreducible cost: small sets fold on the driver (memoized
    * per immutable file in the store's [[posBitmapCache]] slot, which
    * afterwards holds `dels` plus the prior entries named in `live`, the
    * rest of the delete set the same read applies); a set whose
    * manifest-proven bytes exceed
    * [[PosMergeDriverBytes]] unions in the executors and the driver
    * collects only the merged result.
    */
  private[graft] def posBitmaps(s: SparkSession, root: Path, dels: Seq[ManifestEntry],
                                live: Seq[ManifestEntry] = Nil): Map[String, Array[Byte]] =
    if (dels.map(_.bytes).sum > PosMergeDriverBytes) posBitmapsDistributed(s, root, dels)
    else {
      val slot = root.toAbsolutePath.normalize.toString
      val prior = Option(posBitmapCache.get(slot)).getOrElse(Map.empty)
      val mine = dels.distinctBy(_.relPath)
        .map(e => e.relPath -> prior.getOrElse(e.relPath, posFileBitmaps(s, root, e))).toMap
      val keep = live.map(_.relPath).toSet
      posBitmapCache.put(slot, prior.filter { case (p, _) => keep(p) } ++ mine)
      mine.values.foldLeft(Map.empty[String, Array[Byte]]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (f, b)) =>
          a.updatedWith(f) {
            case Some(prev) => Some(graft.functions.PosBitmaps.union(prev, b))
            case None       => Some(b)
          }
        }
      }
    }

  /** Single-slot per-store memo of the DISTRIBUTED merge result, keyed
    * by the exact delete-file set (relPath+md5 — immutable files, so
    * set identity IS content identity). One slot, replace-on-change:
    * the set readers hit repeatedly is the CURRENT snapshot's; a
    * compaction or new purge mints a new set and evicts the old one,
    * so the cache holds O(one final bitmap map) per store — the same
    * bytes the live broadcast needs anyway, never a history of them.
    */
  private val posDistributedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Map[String, Array[Byte]])]()

  /** Executor-side merge of a LARGE tombstone set (the buildBlooms
    * sidecar shape): every delete file — compressed `__bitmap` rows and
    * legacy `__pos` pair rows alike — feeds one shuffle keyed by named
    * data file, the Roaring unions run in the executors
    * ([[graft.functions.BitmapOr]] / BitmapBuild), and the driver
    * collects only the final per-file bytes. One Spark job on first
    * touch, then memoized per store for the life of the tombstone SET
    * ([[posDistributedCache]]) — a read-hot table above the driver
    * threshold pays the merge once, not per statement.
    */
  private[graft] def posBitmapsDistributed(s: SparkSession, root: Path,
                                           dels: Seq[ManifestEntry]): Map[String, Array[Byte]] = {
    val setKey = dels.map(e => e.relPath + "@" + e.md5).sorted.mkString("\n")
    val storeKey = root.toAbsolutePath.normalize.toString
    val hit = posDistributedCache.get(storeKey)
    if (hit != null && hit._1 == setKey) return hit._2
    val computed = posBitmapsDistributedCompute(s, root, dels)
    posDistributedCache.put(storeKey, (setKey, computed))
    computed
  }

  private def posBitmapsDistributedCompute(s: SparkSession, root: Path,
                                           dels: Seq[ManifestEntry]): Map[String, Array[Byte]] = {
    def aggOf(df: DataFrame): DataFrame =
      if (df.columns.contains("__bitmap"))
        df.groupBy("__file").agg(org.apache.spark.sql.GraftBridge.column(
          graft.functions.BitmapOr(
            org.apache.spark.sql.GraftBridge.expression(col("__bitmap")))
            .toAggregateExpression()).as("__bitmap"))
      else
        df.groupBy("__file").agg(graft.functions.BitmapBuild.column(col("__pos")).as("__bitmap"))
    // the two wire shapes cannot share one parquet read (different
    // schemas); each shape reads as one multi-file scan, pre-aggregates,
    // and the shapes' outputs union into the final per-file OR.
    // Classification is a RAW FOOTER read per file (microseconds), not a
    // spark.read per file — a set large enough to take this path has
    // many files, and N sequential DataFrame set-ups on the driver were
    // seconds of latency for a one-bit question
    def isBitmapShaped(e: ManifestEntry): Boolean =
      footer(s, root, e.relPath).getFileMetaData.getSchema.getFields.asScala
        .exists(_.getName == "__bitmap")
    val (bmFiles, pairFiles) = dels.partition(isBitmapShaped)
    val legs = Seq(
      bmFiles -> true,
      pairFiles -> false
    ).collect { case (es, _) if es.nonEmpty =>
      aggOf(s.read.parquet(es.map(e => root.resolve(e.relPath).toString): _*))
    }
    val merged = legs.reduceLeft(_ unionByName _)
    (if (legs.size > 1) aggOf(merged) else merged)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
  }

  /** The store-root prefix of `_metadata.file_path` values — hadoop Path
    * rendering (what the file source emits), normalized to EXACTLY one
    * trailing slash: a Path built from a directory URI may keep the
    * URI's trailing slash, and a doubled slash shifted the stripped
    * relPaths by one character (pairs named 'ata/...' files).
    */
  private[graft] def posPrefix(root: Path): String = {
    val p0 = new org.apache.hadoop.fs.Path(root.toUri).toString
    if (p0.endsWith("/")) p0 else p0 + "/"
  }

  /** Stage a tombstone commit ONTO an explicit base manifest — manifest
    * written, no pointer moved. The delete half of a cross-table
    * transaction: [[TxnCatalog]] makes the staged id visible atomically
    * with the other tables' staged ids.
    */
  def stageDeletesOnto(s: SparkSession, root: Path, keys: DataFrame,
                       baseId: Int): Int = withWriterLock(root) {
    // id allocation + manifest write under the TABLE's lock: two
    // transactions staging onto the same table concurrently must get
    // distinct manifests, or the catalog commit's existence check would
    // bless one transaction's id pointing at the OTHER's content
    // (tombstone writes are O(deleted keys) — cheap enough to hold)
    val id = nextManifestId(root)
    val fresh = writeTombstone(s, root, keys, id, baseId)
    writeManifestFile(root, id, manifest(root, baseId) ++ fresh,
      manifestMeta(root, baseId))
    id
  }

  /** Stage a data append ONTO an explicit base manifest — manifest
    * written, no pointer moved; the insert half of a cross-table
    * transaction. `baseId = None` founds the table.
    */
  def stageOnto(s: SparkSession, root: Path, df: DataFrame, baseId: Option[Int],
                statsCol: Option[String] = None): Int = {
    // the DATA write stays outside any lock (writer-unique occ dir);
    // only id allocation + manifest write serialize per table, so two
    // transactions staging onto the same table can never claim the
    // same manifest id and silently swap contents
    val fresh = stageOcc(s, root, df, statsCol)
    withWriterLock(root) {
      val id = nextManifestId(root)
      val carried = baseId.map(manifest(root, _)).getOrElse(Nil)
      require(carried.nonEmpty || fresh.nonEmpty,
        s"refusing to stage an empty founding manifest under $root")
      writeManifestFile(root, id, carried ++ fresh.map(_.copy(seq = id)),
        baseId.map(manifestMeta(root, _)).getOrElse(Map.empty))
      id
    }
  }

  /** Upsert as ONE atomic commit: a tombstone of the upserted keys AND
    * the replacement rows land in the same manifest, published by one
    * pointer rename. The sequence rule makes it sound: the tombstone
    * (seq = id) erases the keys from every EARLIER file, while the new
    * rows (also seq = id) are untouched by it — a reader at any instant
    * sees either the old rows or the new ones, never both and never
    * neither. Inserts ride free (a key absent from history is just
    * appended). This is the MERGE INTO shape: O(changed rows) I/O, no
    * data file rewritten, read cost folded away by the next compaction.
    */
  def publishUpsert(s: SparkSession, root: Path, rows: DataFrame, keyCol: String,
                    statsCol: Option[String]): Int =
    publishUpsert(s, root, rows, Seq(keyCol), statsCol)

  def publishUpsert(s: SparkSession, root: Path, rows: DataFrame,
                    keyCol: String): Int =
    publishUpsert(s, root, rows, Seq(keyCol), None)

  /** COMPOSITE-key form: the tombstone carries every key column and the
    * merged read anti-joins on the full set — the streaming mirror of a
    * MySQL table whose PRIMARY KEY is multi-column.
    */
  def publishUpsert(s: SparkSession, root: Path, rows: DataFrame,
                    keyCols: Seq[String],
                    statsCol: Option[String]): Int = {
    val prev = currentId(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    // allocate globally (past branch/staged manifests), like stage() will
    val id = nextManifestId(root)
    val delEntries = writeTombstone(s, root,
      rows.select(keyCols.map(col): _*), id, prev)
    val staged = stage(s, root, rows, append = true, statsCol)
    require(staged == id, s"concurrent publish raced the upsert: $staged != $id")
    // fold the tombstone into the staged manifest BEFORE the commit —
    // pre-commit manifests are invisible, so this is still one atomic publish
    writeManifestFile(root, id, manifest(root, id) ++ delEntries,
      manifestMeta(root, id))
    commit(root, id, lastBatchId(root))
    id
  }

  /** Stage distinct `keys` as tombstone files under a WRITER-UNIQUE
    * `deletes/occ-<uuid>` dir — [[publishDeletes]]'s write shape behind
    * the OCC split, so concurrent stagers can never collide on a dir
    * and [[commitOcc]] stamps the real seq at commit time. Same
    * coexistence gates as [[publishDeletes]]: one key column per store,
    * never alongside position tombstones. Size-bounded like every
    * tombstone write (AQE coalesces the distinct's output).
    */
  def stageTombstoneOcc(s: SparkSession, root: Path, keys: DataFrame): Seq[ManifestEntry] = {
    require(keys.columns.nonEmpty, "tombstone needs at least one key column")
    currentId(root).map(manifest(root, _)).getOrElse(Nil).find(isDelete).foreach { prior =>
      require(!isPosDelete(prior),
        s"store $root carries POSITION tombstones; an equality tombstone " +
          "cannot coexist with them — compact first")
      val priorCols = footerSchema(s, root, Seq(prior)).fieldNames.toSeq
      require(priorCols.toSet == keys.columns.toSet,
        s"tombstone key columns '${keys.columns.mkString(",")}' conflict with " +
          s"existing '${priorCols.mkString(",")}'")
    }
    val delDir = root.resolve("deletes").resolve(
      "occ-" + java.util.UUID.randomUUID().toString)
    Files.createDirectories(delDir)
    keys.distinct().write.mode("overwrite").parquet(delDir.toString)
    val l = Files.list(delDir)
    val occFiles = try l.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    finally l.close()
    val md5s = md5hexAll(occFiles)
    occFiles.map(p => ManifestEntry(root.relativize(p).toString, md5s(p), Files.size(p),
      None, seq = 0))
  }

  /** Exactly-once streaming UPSERT: one micro-batch applied as ONE
    * atomic merge-on-read commit — a tombstone of every key the batch
    * touches plus the batch's replacement rows, with the micro-batch id
    * riding the same pointer rename that publishes them (the
    * [[publishBatch]] replay contract on the [[publishUpsert]] shape).
    * `rows` must carry AT MOST ONE row per key: both rows would land
    * with the same seq and the sequence-visibility rule could not order
    * them — refused loudly rather than landing a nondeterministic
    * duplicate. (Update-mode aggregation output and the change feed's
    * net-per-window form both satisfy this by construction.)
    * `deleteKeys` are keys the batch deletes: they join the tombstone
    * (a key that also has a row in `rows` is tombstoned once, as the
    * tombstone is distinct) and nothing lands for them beyond `rows` —
    * the changefeed-mirror shape. O(changed rows) I/O per batch regardless
    * of table size; read cost folds away at the next compaction.
    *
    * MAINTENANCE-SAFE: staging goes to writer-unique OCC dirs and the
    * commit is [[commitOcc]]([[OccAppend]]), which REBASES under the
    * writer lock — a compaction landing mid-batch is carried forward
    * (the rebased tombstone still erases older copies; the new rows
    * take the new commit's seq), and a compaction landing after us
    * conflicts ITS OccRewrite and retries. A long-lived mirror stream
    * and `CALL system.compact` can therefore interleave freely — the
    * operational reality of any table that is both written and
    * maintained. Returns whether this call committed (false = replay
    * skipped).
    */
  def publishUpsertBatch(s: SparkSession, root: Path, rows: DataFrame, keyCol: String,
                         batchId: Long, deleteKeys: Option[DataFrame],
                         statsCol: Option[String]): Boolean =
    publishUpsertBatch(s, root, rows, Seq(keyCol), batchId, deleteKeys, statsCol)

  def publishUpsertBatch(s: SparkSession, root: Path, rows: DataFrame,
                         keyCol: String, batchId: Long): Boolean =
    publishUpsertBatch(s, root, rows, Seq(keyCol), batchId, None, None)

  /** COMPOSITE-key form — one row per key TUPLE per batch; delete keys
    * carry all key columns.
    */
  def publishUpsertBatch(s: SparkSession, root: Path, rows: DataFrame,
                         keyCols: Seq[String],
                         batchId: Long, deleteKeys: Option[DataFrame] = None,
                         statsCol: Option[String] = None): Boolean = {
    if (lastBatchId(root).exists(_ >= batchId)) return false
    val delKeys = deleteKeys.map(_.toDF(keyCols: _*))
    val founding = currentId(root).isEmpty
    if (founding) {
      // an all-empty founding batch cannot found the table (no schema to
      // read back): skip, leaving the batch re-deliverable and still
      // empty — checked FIRST, so a source that starts empty and
      // re-delivers its founding batch never pays the duplicate-gate job
      if (rows.isEmpty) return false
      // A founding batch has nothing to erase, so no tombstone — but the
      // one-row-per-key contract still binds: a key duplicated HERE and
      // never upserted again would live as two rows forever (the "next
      // batch's tombstone erases it" argument only covers keys that are
      // touched again). The gate is one extra tiny job, paid ONCE per
      // table lifetime — the founding batch — where the non-founding
      // path folds it into the tombstone staging's observed metrics.
      val dup = rows.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .limit(1).collect()
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"upsert batch $batchId carries a key more than once " +
          s"(${dup.head.getLong(dup.head.length - 1)} times): one row per " +
          "key per batch (emit Update-mode or net-per-window changes)")
      val fresh = stageOcc(s, root, rows, statsCol)
      try { commitOcc(root, fresh, OccAppend, batchIdOverride = Some(batchId)); true }
      catch { case e: Throwable => discardStaged(root, fresh); throw e }
    } else {
      // ONE pass validates AND stages the tombstone: the per-key counts
      // feed an OBSERVED max (the one-row-per-key refusal contract) and
      // an observed sum (= the batch's row count), both riding the
      // staging write itself — where separate count()/limit(1) checks
      // were two extra Spark jobs on this latency-sensitive per-batch
      // path. Delete-only keys join with __n = 0 (exempt from the
      // duplicate gate — deleting a key twice is idempotent).
      val obs = new org.apache.spark.sql.Observation()
      val keyed = rows.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      val tombFrame = (delKeys match {
        case Some(dk) => keyed.unionByName(dk.withColumn("__n", lit(0L)))
        case None     => keyed
      }).observe(obs, max(col("__n")).as("__maxn"), sum(col("__n")).as("__rows"),
        count(lit(1)).as("__keys"))
        .select(keyCols.map(col): _*)
      val tombEntries = stageTombstoneOcc(s, root, tombFrame)
      val observed = obs.get // blocks on the staging write (already done)
      def longOf(name: String): Long = observed.get(name).flatMap(Option(_))
        .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
      val maxPerKey = longOf("__maxn")
      val nRows = longOf("__rows")
      val nKeys = longOf("__keys")
      if (maxPerKey > 1) {
        discardStaged(root, tombEntries)
        throw new IllegalArgumentException(
          s"upsert batch $batchId carries a key more than once ($maxPerKey " +
            "times): one row per key per batch (emit Update-mode or " +
            "net-per-window changes)")
      }
      if (nKeys == 0) {
        // empty batch on an existing table: advance the replay watermark
        // only — re-point the CURRENT manifest (re-read under the lock)
        // with the new batch id; reclaim any schema-only staging crumbs
        discardStaged(root, tombEntries)
        withWriterLock(root) { commit(root, currentId(root).get, Some(batchId)) }
        return true
      }
      val insertEntries =
        try { if (nRows == 0) Nil else stageOcc(s, root, rows, statsCol) }
        catch { case e: Throwable => discardStaged(root, tombEntries); throw e }
      val fresh = insertEntries ++ tombEntries
      try { commitOcc(root, fresh, OccAppend, batchIdOverride = Some(batchId)); true }
      catch { case e: Throwable => discardStaged(root, fresh); throw e }
    }
  }

  /** Advance the micro-batch replay watermark WITHOUT new rows: re-point
    * the current manifest with `batchId` riding the same rename — how an
    * EMPTY epoch commits on an existing table (the manifest is carried
    * forward unchanged; a replayed empty epoch then no-ops like any
    * other). False (and a no-op) when the table is unfounded — an empty
    * batch cannot found a table (no schema to read back) — or when the
    * watermark already covers `batchId`.
    */
  def advanceBatchWatermark(root: Path, batchId: Long): Boolean =
    withWriterLock(root) {
      currentId(root) match {
        case Some(id) if !lastBatchId(root).exists(_ >= batchId) =>
          commit(root, id, Some(batchId)); true
        case _ => false
      }
    }

  /** [[publishUpsertBatch]] over PRE-STAGED row files — the DSv2
    * streaming-write twin ([[graft.sources]]' `GraftStreamingWrite`):
    * executors already landed the epoch's rows as staged parquet (layout
    * included, when the table is partitioned/bucketed — staged `_pv=`
    * dirs ride `entries` verbatim), so this stages ONLY the tombstone of
    * every key the batch touches and commits both atomically with the
    * batch id riding the pointer. Zero re-write of the batch's rows —
    * the V1 sink's publishUpsertBatch stages the frame itself; here the
    * staging already happened inside the engine-planned write pipeline.
    *
    * `keyCols` are PHYSICAL names (what the staged files carry). The
    * one-row-per-key gate binds exactly as in the frame form; a refusal
    * discards the tombstone staging and throws — the CALLER owns the
    * pre-staged row files (its epoch dir) and must reclaim them.
    */
  def publishUpsertStagedBatch(s: SparkSession, root: Path,
                               entries: Seq[ManifestEntry], keyCols: Seq[String],
                               batchId: Long): Boolean = {
    require(entries.nonEmpty, "empty staged upsert batch: advance the watermark instead")
    if (lastBatchId(root).exists(_ >= batchId)) return false
    val rows = s.read.parquet(entries.map(e => root.resolve(e.relPath).toString): _*)
    if (currentId(root).isEmpty) {
      // founding batch: nothing to erase, no tombstone — but the
      // one-row-per-key contract still binds (same gate, same reason as
      // the frame form's founding path)
      val dup = rows.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .limit(1).collect()
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"upsert batch $batchId carries a key more than once " +
          s"(${dup.head.getLong(dup.head.length - 1)} times): one row per " +
          "key per batch (emit Update-mode or net-per-window changes)")
      commitOcc(root, entries, OccAppend, batchIdOverride = Some(batchId))
      true
    } else {
      val obs = new org.apache.spark.sql.Observation()
      val tombFrame = rows.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .observe(obs, max(col("__n")).as("__maxn"))
        .select(keyCols.map(col): _*)
      val tombEntries = stageTombstoneOcc(s, root, tombFrame)
      val maxPerKey = obs.get.get("__maxn").flatMap(Option(_))
        .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
      if (maxPerKey > 1) {
        discardStaged(root, tombEntries)
        throw new IllegalArgumentException(
          s"upsert batch $batchId carries a key more than once ($maxPerKey " +
            "times): one row per key per batch (emit Update-mode or " +
            "net-per-window changes)")
      }
      try { commitOcc(root, entries ++ tombEntries, OccAppend,
        batchIdOverride = Some(batchId)); true }
      catch { case e: Throwable => discardStaged(root, tombEntries); throw e }
    }
  }

  def publish(s: SparkSession, root: Path, df: DataFrame, append: Boolean = false,
              statsCol: Option[String] = None): Int = {
    val id = stage(s, root, df, append, statsCol)
    // carry any streaming batch watermark forward: a plain publish (or
    // compaction) on a streamed table must NOT reopen the door to a
    // micro-batch replay double-ingesting after maintenance
    commit(root, id, lastBatchId(root))
    id
  }

  private val writerMutex = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Writer serialization for when the single-writer contract meets
    * reality. The layer is single-writer by design (the reference runs
    * ONE load pipeline); if two pipelines share a store anyway, naive
    * concurrent publishes corrupt silently — both stagers read the same
    * `currentId`, pick the same next snapshot id, and overwrite each
    * other's staging dir and manifest. This wraps stage+commit in a
    * per-store JVM monitor plus an OS file lock (`_writer.lock`), so
    * concurrent publishes SERIALIZE: every writer gets its own id, every
    * append chains off the actual latest manifest. Single-host mutual
    * exclusion; an object-store deployment swaps the lock for the
    * store's compare-and-swap on the pointer — the commit is already a
    * single atomic rename precisely so that swap is mechanical.
    */
  def publishLocked(s: SparkSession, root: Path, df: DataFrame,
                    append: Boolean = false, statsCol: Option[String] = None): Int =
    withWriterLock(root)(publish(s, root, df, append, statsCol))

  /** Per-directory JVM monitor + OS file lock, the mutual-exclusion
    * kernel shared by [[publishLocked]] (which holds it across a whole
    * publish), [[commitOcc]] (which holds it only for the metadata
    * commit), and [[TxnCatalog]]'s version commits.
    */
  private[etl] def withDirLock[T](dir: Path)(f: => T): T = {
    val mon = writerMutex.computeIfAbsent(
      dir.toAbsolutePath.toString, _ => new Object)
    mon.synchronized {
      Files.createDirectories(dir)
      val ch = java.nio.channels.FileChannel.open(dir.resolve("_writer.lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try f finally lock.release()
      } finally ch.close()
    }
  }

  private def withWriterLock[T](root: Path)(f: => T): T = withDirLock(root)(f)

  /** The store's writer lock, for EXTERNAL metadata read-modify-writes
    * that must serialize against each other (e.g. the catalog's
    * `_table` marker updates). NOT re-entrant — never call a committing
    * path (commitOcc/publish*) from inside `f`.
    */
  def withStoreLock[T](root: Path)(f: => T): T = withDirLock(root)(f)

  /** A concurrent commit invalidated an optimistic writer's base
    * snapshot. Appends never see this (they rebase); rewrites must
    * re-run from the new base — see [[commitOcc]].
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** What an optimistic commit claims about its relationship to table
    * history, which decides how it behaves when the table moved while
    * its data was being written.
    */
  sealed trait OccKind
  /** New rows only: the truth of the commit does not depend on WHICH
    * snapshot it lands on, so it rebases onto whatever is latest.
    */
  case object OccAppend extends OccKind
  /** The fresh files REPLACE everything the writer read at `baseId`
    * (compaction, full overwrite). Sound only if nothing changed since:
    * a concurrent append would be silently dropped by the replacement,
    * and a concurrent tombstone would be silently UNDELETED — rewritten
    * files take the new commit's seq, which is greater than the
    * tombstone's, so the sequence-visibility rule stops applying it.
    * Any advance of the base is therefore a conflict, never a rebase.
    */
  final case class OccRewrite(baseId: Int) extends OccKind
  /** A SURGICAL rewrite: the fresh files replace only the base files NOT
    * listed in `kept`; `kept` entries are carried verbatim WITH THEIR
    * ORIGINAL seq stamps (they are the same bytes from the same commits,
    * so re-stamping them would corrupt both the sequence-visibility rule
    * and the one-footer-per-seq schema-inference bound). The conflict
    * discipline is [[OccRewrite]]'s: any base advance conflicts, because
    * the untouched set was computed against that exact base. This is the
    * commit shape of a copy-on-write DELETE/UPDATE — O(affected files)
    * staged, everything else pure manifest carry.
    */
  final case class OccSurgical(baseId: Int, kept: Seq[ManifestEntry]) extends OccKind

  /** Optimistic concurrency, phase 1 — stage data files WITHOUT
    * claiming a snapshot id or touching any shared metadata. The files
    * land under a writer-unique `data/occ-<uuid>/` dir, so any number
    * of writers stage simultaneously with zero coordination; this is
    * where all the expensive work (the Spark write, per-file stats, the
    * MD5 pass) happens, entirely outside the writer lock. The returned
    * entries carry seq = 0 placeholders — [[commitOcc]] stamps the
    * real id at commit time, when it is finally known.
    *
    * Contrast [[publishLocked]], which holds the lock across the whole
    * publish: correct, but writers serialize on their DATA writes. At
    * 100 TB the data write is minutes-to-hours while the metadata
    * commit is one manifest + one rename — OCC shrinks the critical
    * section to the latter, which is how every open table format
    * (and the reference's one-rename release publish) scales writers.
    */
  def stageOcc(s: SparkSession, root: Path, df: DataFrame,
               statsCol: Option[String] = None): Seq[ManifestEntry] =
    // one staging kernel (stageOccMulti); the single anonymous stats
    // range is just its named form folded back into the legacy slot
    stageOccMulti(s, root, df, statsCol.toSeq).map(foldLegacyStats(_, statsCol))

  /** Fold a single named zone range back into the legacy anonymous
    * `stats` slot — the ONE definition of how a declared `statsCol`
    * lands on an entry, shared by [[stageOcc]] and external stagers
    * (the catalog's row-level BatchWrite).
    */
  def foldLegacyStats(e: ManifestEntry, statsCol: Option[String]): ManifestEntry =
    statsCol match {
      case Some(c) => e.copy(
        stats = e.multi.find(_._1 == c).map { case (_, lo, hi) => (lo, hi) },
        multi = Nil)
      case None => e
    }

  /** Optimistic concurrency, phase 2 — the metadata commit, under the
    * writer lock for milliseconds regardless of data volume: allocate
    * the next id, validate `kind` against the CURRENT table state (not
    * the state the writer staged against), stamp the fresh entries,
    * write the manifest, swap the pointer.
    *
    *  - [[OccAppend]] rebases: carried = the latest manifest at commit
    *    time, whatever committed while this writer was staging. The
    *    fresh rows take the new id as their seq, so a tombstone that
    *    landed mid-stage does NOT erase them — exactly the serial
    *    history "delete, then append".
    *  - [[OccRewrite]] validates: if the current id is not the claimed
    *    base, throws [[CommitConflictException]] and commits NOTHING —
    *    the caller re-runs from the new base ([[compactOcc]] does).
    *
    * Id allocation scans the manifests dir rather than trusting the
    * pointer: a crash between manifest write and pointer swap leaves an
    * abandoned manifest, and the next committer must step OVER it, not
    * overwrite it. (Abandoned ids were never current, are never read,
    * and age out with [[expire]].)
    */
  def commitOcc(root: Path, fresh: Seq[ManifestEntry], kind: OccKind,
                metaOverride: Option[Map[String, String]] = None,
                seedMeta: Map[String, String] = Map.empty,
                batchIdOverride: Option[Long] = None): Int =
    withWriterLock(root) {
      val cur = currentId(root)
      val carried = kind match {
        case OccAppend => cur.map(manifest(root, _)).getOrElse(Nil)
        case OccRewrite(base) =>
          if (!cur.contains(base)) throw new CommitConflictException(
            s"rewrite staged against snapshot $base but current is " +
              s"${cur.getOrElse("<none>")}: concurrent commit(s) landed mid-rewrite")
          Nil
        case OccSurgical(base, kept) =>
          if (!cur.contains(base)) throw new CommitConflictException(
            s"surgical rewrite staged against snapshot $base but current is " +
              s"${cur.getOrElse("<none>")}: concurrent commit(s) landed mid-rewrite")
          val baseSet = manifest(root, base).map(_.relPath).toSet
          val stray = kept.filterNot(e => baseSet(e.relPath))
          require(stray.isEmpty,
            s"surgical rewrite carries ${stray.size} file(s) not in base $base: " +
              stray.take(3).map(_.relPath).mkString(", "))
          kept
      }
      require(carried.nonEmpty || fresh.nonEmpty,
        s"refusing to commit an empty founding manifest under $root")
      val id = nextManifestId(root)
      val stamped = fresh.map(_.copy(seq = id))
      // metadata commits atomically WITH the rows (same pointer rename):
      // an explicit override is how a schema-changing RTAS/ALTER lands
      // rows+schema in one publish; otherwise carry the base's meta.
      // seedMeta is resolved HERE, under the writer lock, against the
      // re-read base: it fills only keys the base lacks, so a seed
      // computed before a retry loop can never resurrect a stale shape
      // over a concurrent ALTER's marker-carrying commit (the base wins
      // on every conflicting key)
      val meta = metaOverride.getOrElse(
        seedMeta ++ cur.map(manifestMeta(root, _)).getOrElse(Map.empty))
      writeManifestFile(root, id, carried ++ stamped, meta)
      // a streaming committer rides its micro-batch id in the same
      // rename (the publishBatch replay contract); everyone else
      // carries the existing watermark forward
      commit(root, id, batchIdOverride.orElse(lastBatchId(root)))
      id
    }

  private def manifestIdsOnDisk(root: Path): Seq[Int] = {
    val dir = root.resolve("manifests")
    if (!Files.exists(dir)) Nil
    else {
      val l = Files.list(dir)
      try l.iterator().asScala
        .flatMap(p => numericSuffix(p.getFileName.toString, "manifest-"))
        .toSeq.sorted
      finally l.close()
    }
  }

  private def nextManifestId(root: Path): Int =
    math.max(manifestIdsOnDisk(root).foldLeft(0)(math.max),
      currentId(root).getOrElse(0)) + 1

  /** Re-point `_current` at an EXISTING manifest — rollback (or
    * roll-forward) as pure metadata, the reference's re-adopt-an-old-
    * release move. Runs under the writer lock like every pointer move:
    * an unlocked rewrite could silently erase a commit that landed
    * between a pointer read and the rename, or rewind the streaming
    * batch watermark and double-ingest a replayed micro-batch.
    */
  def rollback(root: Path, id: Int): Int = withWriterLock(root) {
    manifest(root, id) // throws loudly if the manifest does not exist
    commit(root, id, lastBatchId(root))
    id
  }

  /** ZERO-COPY SHALLOW CLONE kernel: materialize snapshot `atId` of
    * `srcRoot` as snapshot 1 of a brand-new store at `dstRoot` — the
    * dev/test-on-100-TB shape (Delta's SHALLOW CLONE; the reference's
    * per-release copied staging dirs, minus the copy). Data files are
    * referenced IN PLACE through sibling-relative manifest paths
    * (`../<src>/data/...`) with md5/bytes/zone stats/seq carried
    * verbatim, so the clone costs O(metadata) regardless of table size
    * and every reader capability (pruning, SPJ, statistics, time
    * travel going forward) works unchanged. Equality tombstones are
    * PHYSICALLY copied (O(delta) — their `deletes/` prefix is what
    * marks them as tombstones, and their keys address rows by VALUE,
    * so copies stay correct); position tombstones refuse (they address
    * rows by source-relative file path + ordinal — a clone would
    * mis-resolve them; compact first). The snapshot's `#meta`-carried
    * marker rides along, so the clone is born with the source's
    * declared shape AT THAT SNAPSHOT, not the source's current one.
    *
    * Contracts, each spec-pinned: the two tables diverge independently
    * after the clone (writes to either never surface in the other);
    * the clone's OWN GC never reaches through a foreign reference
    * (see [[expire]]'s root-containment guard); `compact` on the clone
    * rewrites into its own dir, making it self-contained. The honest
    * edge — shared with every shallow-clone design: `expire` on the
    * SOURCE can reclaim files a clone still references (the clone's
    * refs are invisible to the source's GC by design); compact the
    * clone to detach it before expiring the source.
    *
    * Returns (referenced data files, copied tombstone files).
    */
  def cloneSnapshot(srcRoot: Path, dstRoot: Path, atId: Int): (Int, Int) = {
    require(!Files.exists(dstRoot.resolve("_current")) &&
      manifestIdsOnDisk(dstRoot).isEmpty,
      s"clone destination $dstRoot already holds a store")
    val entries = manifest(srcRoot, atId) // throws loudly if missing
    val (dels, datas) = entries.partition(isDelete)
    require(!dels.exists(isPosDelete),
      "clone: source snapshot carries POSITION tombstones, which address " +
        "rows by source-relative file path + ordinal and would mis-resolve " +
        "through a clone's foreign references — CALL system.compact first")
    val rel = "../" + srcRoot.getFileName.toString + "/"
    Files.createDirectories(dstRoot)
    dels.foreach { e =>
      val target = dstRoot.resolve(e.relPath)
      Files.createDirectories(target.getParent)
      Files.copy(srcRoot.resolve(e.relPath), target)
    }
    val cloned = datas.map(e => e.copy(relPath = rel + e.relPath)) ++ dels
    writeManifestFile(dstRoot, 1, cloned, manifestMeta(srcRoot, atId))
    commit(dstRoot, 1)
    (datas.size, dels.size)
  }

  /** stage + commit, optimistically: concurrent callers overlap their
    * entire data-write phase and serialize only on the tiny metadata
    * commit. Appends never conflict — every interleaving commits every
    * writer's rows exactly once (SnapshotOccSpec storms this).
    */
  def publishOcc(s: SparkSession, root: Path, df: DataFrame,
                 statsCol: Option[String] = None): Int = {
    val fresh = stageOcc(s, root, df, statsCol)
    try commitOcc(root, fresh, OccAppend)
    catch { case e: Throwable => discardStaged(root, fresh); throw e }
  }

  /** Compaction under optimistic concurrency: rewrite the merged view
    * of the CURRENT snapshot outside the lock, then attempt an
    * [[OccRewrite]] commit. A concurrent append or delete invalidates
    * the rewrite (see [[OccRewrite]] for why a rebase would corrupt);
    * on conflict the staged files are reclaimed and the whole rewrite
    * re-runs from the new base. Returns (committed id, conflicts
    * survived). Row-count parity is verified against the staged files
    * BEFORE the commit is attempted — a drifting rewrite never reaches
    * the pointer, conflict or not.
    */
  def compactOcc(s: SparkSession, root: Path, targetFiles: Int,
                 statsCol: Option[String] = None, maxAttempts: Int = 5): (Int, Int) =
    rewriteOcc(s, root, maxAttempts) { baseDf =>
      val rewritten = statsCol match {
        case Some(c) => baseDf.repartitionByRange(targetFiles, col(c))
        case None    => baseDf.repartition(targetFiles)
      }
      stageOcc(s, root, rewritten, statsCol)
    }

  /** The stage-validate-commit-retry kernel shared by every optimistic
    * rewrite — public because it is the extension point for custom
    * OPTIMIZE shapes: `stageFn` rewrites the CURRENT merged view however
    * it likes (re-cluster, z-order, fold tombstones); the loop verifies
    * row-count parity against the staged files BEFORE attempting the
    * commit, reclaims staging and re-runs from the new base on
    * conflict. Returns (committed id, conflicts survived).
    */
  def rewriteOcc(s: SparkSession, root: Path, maxAttempts: Int = 5)(
      stageFn: DataFrame => Seq[ManifestEntry]): (Int, Int) = {
    var attempt = 0
    while (true) {
      val base = currentId(root).getOrElse(
        throw new IllegalStateException(s"no published snapshot under $root"))
      val baseDf = readAt(s, root, base)
      val before = baseDf.count()
      val fresh = stageFn(baseDf)
      // a failed rewrite must never leak its staged table copy: parity
      // failure, I/O error, anything — only a committed rewrite keeps
      // its files; only a CONFLICT retries
      try {
        require(fresh.nonEmpty, s"rewrite staged no files under $root; NOT committed")
        val after = stagedRows(s, root, fresh)
        require(after == before,
          s"rewrite row-count drift: $before -> $after; NOT committed")
        return (commitOcc(root, fresh, OccRewrite(base)), attempt)
      } catch {
        case _: CommitConflictException =>
          attempt += 1
          discardStaged(root, fresh)
          if (attempt >= maxAttempts) throw new CommitConflictException(
            s"rewrite lost the commit race $maxAttempts times under $root")
        case e: Throwable =>
          discardStaged(root, fresh)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stage with NAMED per-file zone maps over several columns — the
    * multi-column counterpart of [[stageOcc]]'s single anonymous stats
    * range. All columns' (min, max) are gathered in ONE job over the
    * freshly-written files, grouped by file. Columns must be integral
    * (or integrally-castable): zone maps here are long ranges.
    */
  def stageOccMulti(s: SparkSession, root: Path, df: DataFrame,
                    statsCols: Seq[String]): Seq[ManifestEntry] = {
    val dataDir = root.resolve("data").resolve(
      "occ-" + java.util.UUID.randomUUID().toString)
    Files.createDirectories(dataDir)
    df.write.mode("overwrite").parquet(dataDir.toString)
    entriesForStagedDir(s, root, dataDir, statsCols)
  }

  /** Manifest entries (MD5, size, optional named zone maps) for parquet
    * files ALREADY staged under `dataDir` — the listing half of
    * [[stageOccMulti]], public so external writers that land files
    * through Spark's own write machinery (the catalog's row-level
    * BatchWrite) can join the commit protocol without re-writing data.
    *
    * `only` (dataDir-relative paths) restricts BOTH the manifested set
    * and the stats read to an explicit allowlist — the clustered DSv2
    * writers pass the paths their COMMITTED task attempts reported, so
    * a straggling speculative attempt's file (complete or mid-write)
    * can neither be manifested nor crash the stats scan. None keeps the
    * historical everything-in-the-dir contract for single-writer
    * stagings.
    */
  def entriesForStagedDir(s: SparkSession, root: Path, dataDir: Path,
                          statsCols: Seq[String],
                          only: Option[Set[String]] = None): Seq[ManifestEntry] = {
    def relOf(p: Path): String =
      dataDir.toAbsolutePath.relativize(p.toAbsolutePath).toString
    val files = only match {
      case Some(allow) => listParquetRecursive(dataDir).filter(p => allow(relOf(p)))
      case None        => listParquetRecursive(dataDir)
    }
    // an EMPTY staging (a filter selected no rows) writes only _SUCCESS;
    // reading it back for stats would die on schema inference — there is
    // nothing to manifest, return so before touching the reader
    if (files.isEmpty) return Nil
    val byFile: Map[String, Seq[(String, Long, Long)]] =
      if (statsCols.isEmpty) Map.empty
      else footerZones(s, files, statsCols) match {
        // footer fast path: same named zones, zero jobs (guide §1.2) —
        // keyed by the staging-relative path exactly like the scan path
        case Some(zones) =>
          zones.map { case (p, z) => relOf(p) -> z }
        case None =>
        val aggs = statsCols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"lo_$c"), max(col(c)).cast("long").as(s"hi_$c")))
        // allowlisted mode reads the explicit files, never the dir: the
        // dir listing could race a straggler's partial file
        (only match {
          case Some(_) => s.read.parquet(files.map(_.toString): _*)
          case None    => s.read.parquet(dataDir.toString)
        })
          .groupBy(input_file_name().as("f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            // keyed by the path RELATIVE TO the staging dir, never the
            // bare file name: a partitioned staging repeats part-file
            // names across its _pv= dirs, and name-keyed stats would
            // attach one file's zone map to another — silently wrong
            // pruning (rows dropped), caught by GraftPartitionedSpec
            val full = java.nio.file.Paths.get(new java.net.URI(r.getString(0)).getPath)
            dataDir.toAbsolutePath.relativize(full.toAbsolutePath).toString ->
              // a file whose stats column is entirely NULL has no zone
              // (min/max come back null): stage it with NO range —
              // absent stats mean "cannot skip", never a fabricated one
              statsCols.flatMap(c =>
                if (r.isNullAt(r.fieldIndex(s"lo_$c")) ||
                    r.isNullAt(r.fieldIndex(s"hi_$c"))) None
                else Some(
                  (c, r.getLong(r.fieldIndex(s"lo_$c")), r.getLong(r.fieldIndex(s"hi_$c")))))
          }.toMap
      }
    // recursive: a value-pure partitioned staging (stageOccPartitioned)
    // nests files under _pv=<value>/ dirs; flat stagings walk identically
    val md5s = md5hexAll(files)
    files
      .map(p => ManifestEntry(root.relativize(p).toString, md5s(p), Files.size(p),
        None, seq = 0, multi = byFile.getOrElse(relOf(p), Nil)))
  }

  /** Z-ORDER compaction: rewrite the current merged view in Morton-curve
    * order over two columns, so every file is a small RECTANGLE in
    * (c1, c2) space and the manifest's named zone maps prune on EITHER
    * dimension — single-column range clustering serves one predicate
    * dimension and leaves the other full-range per file (B33's audit,
    * now landed physically in the snapshot layer). Keys are
    * scale-normalized to 16 bits via their broadcast max (exact
    * integers, SF-independent), interleaved with the codegen'd mask
    * ladder, range-partitioned AND sorted by the z value, written
    * without the helper columns. Commits through the optimistic rewrite
    * loop — a concurrent append/delete conflicts and re-runs, exactly
    * like [[compactOcc]]. Requires non-negative integral c1/c2.
    */
  def compactZOrder(s: SparkSession, root: Path, targetFiles: Int,
                    c1: String, c2: String, maxAttempts: Int = 5): (Int, Int) =
    rewriteOcc(s, root, maxAttempts) { baseDf =>
      val maxes = baseDf.agg(max(col(c1)).as("zmax1"), max(col(c2)).as("zmax2"))
      val z = baseDf.crossJoin(broadcast(maxes))
        .withColumn("zn1", expr(s"CAST($c1 AS BIGINT) * 65536 DIV (zmax1 + 1)"))
        .withColumn("zn2", expr(s"CAST($c2 AS BIGINT) * 65536 DIV (zmax2 + 1)"))
        .withColumn("zv", graft.relational.ZOrder.morton(col("zn1"), col("zn2")))
        .repartitionByRange(targetFiles, col("zv"))
        .sortWithinPartitions("zv")
        .drop("zmax1", "zmax2", "zn1", "zn2", "zv")
      stageOccMulti(s, root, z, Seq(c1, c2))
    }

  private[graft] def partValueOf(relPath: String): Option[String] =
    relPath.split('/').find(_.startsWith("_pv=")).map(_.stripPrefix("_pv="))

  /** OCC staging in the VALUE-PURE partitioned layout ([[publishOverwrite]]'s
    * `_pv=<value>` scheme: the partition column duplicated into a
    * directory key AND kept as a data column, so no file ever mixes
    * partitions and explicit-file-list reads need no discovery). The
    * integral stats columns land as named zone maps — for the partition
    * column itself that is a degenerate `v:v` range, which is what lets
    * every zone-aware reader prune partitions with zero new machinery.
    * Commit with [[commitOcc]] like any staged write; the entries'
    * `_pv=` segments are what a later dynamic partition overwrite keys
    * its carried set on.
    */
  def stageOccPartitioned(s: SparkSession, root: Path, df: DataFrame,
                          partCol: String,
                          statsCols: Seq[String] = Nil): Seq[ManifestEntry] = {
    val dataDir = root.resolve("data").resolve(
      "occ-" + java.util.UUID.randomUUID().toString)
    Files.createDirectories(dataDir)
    // TIMESTAMP partition columns render as UTC epoch-MICROS (the
    // catalyst internal long) — Spark's own partitionBy rendering goes
    // through the session timezone, so the same instant would name
    // different dirs across sessions and no claim could ever trust the
    // path. The micros form round-trips exactly, timezone-free, and is
    // what the engine-clustered writer ([[graft.sources]]'
    // GraftClusterKey) renders — every write path agrees byte-for-byte.
    val pvCol = df.schema.fields.find(_.name == partCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) => unix_micros(col(partCol))
      case _ => col(partCol)
    }
    df.withColumn("_pv", pvCol)
      .write.partitionBy("_pv").mode("overwrite").parquet(dataDir.toString)
    entriesForStagedDir(s, root, dataDir, statsCols)
  }

  /** OCC staging in the BUCKETED value-pure layout: `_pv=<bucket id>`
    * where the id is `pmod(hash(col), n)` — catalyst Murmur3 (seed 42),
    * the SAME function the catalog serves as `bucket(n, col)` for
    * storage-partitioned-join identity matching ([[graft.sources]]'
    * GraftBucketFunction). No file ever mixes buckets, so a scan can
    * report key-grouped output and two same-bucketed tables join
    * exchange-free on the SOURCE column.
    */
  def stageOccBucketed(s: SparkSession, root: Path, df: DataFrame,
                       bucketCol: String, n: Int,
                       statsCols: Seq[String] = Nil,
                       sortCol: Option[String] = None,
                       cluster: Boolean = false): Seq[ManifestEntry] = {
    require(n > 0, s"bucket count must be positive, got $n")
    val dataDir = root.resolve("data").resolve(
      "occ-" + java.util.UUID.randomUUID().toString)
    Files.createDirectories(dataDir)
    val keyed = df.withColumn("_pv", pmod(hash(col(bucketCol)), lit(n)))
    // sorted layout: one shuffle clusters each bucket into one task and
    // the within-task sort makes EVERY written file ascending in the
    // sort column — with its zone range recorded, a reader can prove a
    // whole bucket ordered (disjoint file ranges) and report the
    // ordering to Spark: the co-located MERGE join then needs neither
    // exchanges nor sorts. The shuffle is the declared price of a
    // clustered write, paid once at write time instead of per join.
    // `cluster` forces the same one-task-per-bucket shuffle without a
    // sort — compaction's fold-to-one-file-per-bucket shape.
    // (The CATALOG writer no longer stages through here: its DSv2 write
    // declares the distribution/ordering and writes clustered files
    // executor-side — GraftBucketedBatchWrite.)
    val ordered = (sortCol, cluster) match {
      case (Some(sc), _) => keyed.repartition(col("_pv"))
        .sortWithinPartitions(col("_pv"), col(sc))
      case (None, true) => keyed.repartition(col("_pv"))
      case (None, false) => keyed
    }
    ordered.write.partitionBy("_pv").mode("overwrite").parquet(dataDir.toString)
    entriesForStagedDir(s, root, dataDir, statsCols)
  }

  /** ADOPT pre-existing parquet files into the table as ONE appended
    * snapshot with ZERO data bytes rewritten — the reference's actual
    * load shape (files produced by another system, registered; cf.
    * LoadFiles.pm's bulk registration of externally-built dumps).
    * `srcDir`'s parquet files MOVE (filesystem rename when possible)
    * into a writer-unique `data/adopt-<uuid>` dir; manifest entries
    * (md5/size integrity + optional zone maps) are built by the SAME
    * kernel as a staged write; [[commitOcc]]([[OccAppend]]) publishes,
    * rebasing like any append. Returns (files, bytes, snapshot id).
    * Schema compatibility is the CALLER's contract (the catalog's
    * `add_files` procedure validates footers against the declared
    * shape); nested/partitioned sources refuse — adopted files cannot
    * prove value-purity for a `_pv=` layout.
    */
  def adoptFiles(s: SparkSession, root: Path, srcDir: Path,
                 statsCol: Option[String] = None): (Int, Long, Int) = {
    val srcs = {
      val l = Files.list(srcDir)
      try l.iterator().asScala.toSeq finally l.close()
    }
    require(srcs.exists(_.getFileName.toString.endsWith(".parquet")),
      s"no parquet files to adopt under $srcDir")
    require(!srcs.exists(Files.isDirectory(_)),
      s"adopt source must be a FLAT dir of parquet files; $srcDir nests " +
        "directories (partitioned layouts cannot be adopted)")
    val dataDir = root.resolve("data").resolve(
      "adopt-" + java.util.UUID.randomUUID().toString)
    Files.createDirectories(dataDir)
    srcs.filter(_.getFileName.toString.endsWith(".parquet")).foreach { p =>
      Files.move(p, dataDir.resolve(p.getFileName))
    }
    val entries = entriesForStagedDir(s, root, dataDir, statsCol.toSeq)
      .map(foldLegacyStats(_, statsCol))
    try {
      val id = commitOcc(root, entries, OccAppend)
      (entries.size, entries.map(_.bytes).sum, id)
    } catch { case e: Throwable => discardStaged(root, entries); throw e }
  }

  /** Reclaim files under `data/` and `deletes/` referenced by NO
    * manifest on disk and older than `cutoffMillis` — crash leftovers
    * (a staging whose writer died before its manifest was written).
    * "Referenced" means listed by ANY manifest present: committed,
    * branch heads, TxnCatalog-staged, abandoned-but-unexpired — all
    * keep their files (those age out via [[expire]], never here). The
    * age cutoff is the in-flight-writer guard: pick it beyond any
    * write that could still commit, the same contract as the open
    * formats' orphan sweeps. Bloom sidecars die with their data file.
    * Returns (files deleted, bytes reclaimed).
    */
  def removeOrphans(root: Path, cutoffMillis: Long): (Int, Long) = {
    val referenced: Set[String] = manifestIdsOnDisk(root)
      .flatMap(manifest(root, _)).map(_.relPath).toSet
    var n = 0
    var bytes = 0L
    val parents = scala.collection.mutable.LinkedHashSet[Path]()
    Seq(root.resolve("data"), root.resolve("deletes"))
      .filter(Files.exists(_)).foreach { top =>
        listParquetRecursive(top).foreach { p =>
          val rel = root.relativize(p).toString
          if (!referenced(rel) && Files.getLastModifiedTime(p).toMillis < cutoffMillis) {
            bytes += Files.size(p); Files.delete(p); n += 1; parents += p.getParent
            val b = bloomPath(root, rel)
            if (Files.exists(b)) { bytes += Files.size(b); Files.delete(b) }
          }
        }
      }
    // crumb sweep, as in expire: a dir whose last parquet just went
    // holds only writer droppings — verified parquet-free RECURSIVELY
    // before anything goes (shared/still-staged dirs are untouched)
    parents.foreach { dir =>
      if (Files.exists(dir) && listParquetRecursive(dir).isEmpty) {
        val walk = Files.walk(dir)
        try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
    }
    // the changefeed cache ([[changeFeedFiles]]) is DERIVED data, never
    // manifest-referenced: age whole window dirs out by mtime — a
    // replay that loses its cache recomputes identically from the
    // (still-retained) manifests. The serve path refreshes a window's
    // mtime on every read, so "old" means UNREAD for the cutoff — a
    // live stream lagging on an old window keeps it alive. Crash-leaked
    // .tmp-* stagings are ordinary children here and age out the same.
    val cfRoot = root.resolve("changefeeds")
    if (Files.exists(cfRoot)) {
      val l = Files.list(cfRoot)
      val old = try l.iterator().asScala.toSeq.filter(d =>
        Files.getLastModifiedTime(d).toMillis < cutoffMillis)
      finally l.close()
      old.foreach { d =>
        val walk = Files.walk(d)
        val all = try walk.iterator().asScala.toSeq.reverse finally walk.close()
        all.foreach { p =>
          if (!Files.isDirectory(p)) { bytes += Files.size(p); n += 1 }
          Files.deleteIfExists(p)
        }
      }
    }
    (n, bytes)
  }

  private def listParquetRecursive(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.toString)
    finally walk.close()
  }

  /** Dynamic partition overwrite as ONE atomic commit: replace exactly
    * the partitions `df` carries rows for, reuse every other
    * partition's files verbatim. The table is laid out value-pure — the
    * partition column is duplicated into a `_pv=<value>` directory key
    * at write time (and kept as a normal data column, so reads through
    * explicit file lists need no partition discovery) — which is what
    * makes "drop the replaced partition's files from the manifest" a
    * pure metadata operation: no file ever mixes touched and untouched
    * partitions. I/O is O(replaced partitions); untouched partitions
    * are carried as the SAME manifest entries (same files, same MD5s),
    * and time travel to the pre-overwrite snapshot still sees the old
    * partition. The reference's per-database re-release (a new release
    * replaces one database's dumps, the FTP tree keeps the rest) is
    * exactly this shape. Founding call on an empty store publishes the
    * initial partitioned layout. Partition values must be path-safe
    * scalars (they become directory names); tombstones carry through —
    * new files outrank old tombstone seqs, so replaced rows are never
    * erased by pre-overwrite deletes while untouched partitions keep
    * theirs applying. NOTE: [[compact]]/[[compactZOrder]] rewrite to an
    * UNPARTITIONED layout — the next publishOverwrite then refuses
    * loudly; re-found the partitioned layout by overwriting with the
    * full table (one publishOverwrite of the whole current view).
    */
  def publishOverwrite(s: SparkSession, root: Path, df: DataFrame,
                       partCol: String): Int = {
    val prev = currentId(root)
    // global allocation, like every other path: never overwrite a
    // branch head, a staged release, or a crashed commit's manifest
    val id = nextManifestId(root)
    val dataDir = root.resolve("data").resolve(f"snap-$id%05d")
    Files.createDirectories(dataDir)
    df.withColumn("_pv", col(partCol))
      .write.partitionBy("_pv").mode("overwrite").parquet(dataDir.toString)
    val ovFiles = listParquetRecursive(dataDir)
    val md5s = md5hexAll(ovFiles)
    val fresh = ovFiles
      .map(p => ManifestEntry(root.relativize(p).toString, md5s(p), Files.size(p),
        None, seq = id))
    require(fresh.nonEmpty, "refusing an empty overwrite: no partitions to replace")
    val touched = fresh.flatMap(e => partValueOf(e.relPath)).toSet
    val carried = prev.map(manifest(root, _)).getOrElse(Nil).filter { e =>
      if (isDelete(e)) true
      else partValueOf(e.relPath) match {
        case Some(v) => !touched(v)
        case None => throw new IllegalStateException(
          s"non-partitioned data file ${e.relPath}: partition overwrite needs a " +
            "table founded by publishOverwrite (value-pure _pv= layout)")
      }
    }
    writeManifestFile(root, id, carried ++ fresh,
      prev.map(manifestMeta(root, _)).getOrElse(Map.empty))
    commit(root, id, lastBatchId(root))
    id
  }

  private def refPath(root: Path, name: String, tag: Boolean): Path = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"ref name '$name' must be [A-Za-z0-9_-]")
    root.resolve("refs").resolve(if (tag) "tags" else "heads").resolve(name)
  }

  private def readRef(p: Path): Option[Int] =
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), UTF_8).trim.toInt)

  /** A BRANCH: a named mutable pointer, exactly `_current`'s mechanism
    * under a name — it starts at an existing snapshot and advances
    * independently as [[publishToBranch]] commits to it, sharing every
    * file it doesn't change with the lineage it forked from (snapshot
    * ids are allocated globally, so branch and main manifests never
    * collide). This is the reference's prerelease world as a ref: build
    * a release on `dev` over many commits while `_current` keeps
    * serving, then [[adoptBranch]] swaps it live in one rename.
    */
  def createBranch(root: Path, name: String, atId: Int): Unit = {
    val p = refPath(root, name, tag = false)
    // names are unique across KINDS too: a branch shadowing a tag (or
    // vice versa) would make refId('name') silently change snapshots
    // when one of them is dropped
    require(refId(root, name).isEmpty, s"ref '$name' already exists")
    require(Files.exists(root.resolve("manifests").resolve(s"manifest-$atId")),
      s"cannot branch at snapshot $atId: no such manifest")
    Files.createDirectories(p.getParent)
    atomicWrite(p, atId.toString)
  }

  /** A TAG: an immutable named pointer — same file format, refused by
    * [[publishToBranch]]. Tags pin history against [[expire]] (a
    * ref'd manifest and its files are never reclaimed).
    */
  def createTag(root: Path, name: String, atId: Int): Unit = {
    val p = refPath(root, name, tag = true)
    require(refId(root, name).isEmpty, s"ref '$name' already exists")
    require(Files.exists(root.resolve("manifests").resolve(s"manifest-$atId")),
      s"cannot tag snapshot $atId: no such manifest")
    Files.createDirectories(p.getParent)
    atomicWrite(p, atId.toString)
  }

  /** Snapshot id a ref names — branch heads move, tags never do. */
  def refId(root: Path, name: String): Option[Int] =
    readRef(refPath(root, name, tag = false))
      .orElse(readRef(refPath(root, name, tag = true)))

  /** Append (or replace, `append = false`) on a BRANCH: carried entries
    * come from the branch's own head, never from `_current` — the two
    * lineages evolve independently over shared immutable files. Data
    * write + manifest + ref swap under the writer lock; tags refuse.
    */
  def publishToBranch(s: SparkSession, root: Path, name: String, df: DataFrame,
                      append: Boolean = true, statsCol: Option[String] = None): Int =
    withWriterLock(root) {
      require(!Files.exists(refPath(root, name, tag = true)),
        s"'$name' is a tag: tags are immutable")
      val head = readRef(refPath(root, name, tag = false)).getOrElse(
        throw new IllegalStateException(s"no branch '$name' under $root"))
      val fresh = stageOcc(s, root, df, statsCol)
      val id = nextManifestId(root)
      val carried = if (append) manifest(root, head) else Nil
      writeManifestFile(root, id, carried ++ fresh.map(_.copy(seq = id)),
        manifestMeta(root, head))
      atomicWrite(refPath(root, name, tag = false), id.toString)
      id
    }

  /** Commit ALREADY-STAGED entries onto a branch head — the branch twin
    * of [[commitOcc]], for writers that stage outside the lock (the
    * engine-clustered DSv2 writes, the value-pure V1 partitioned legs):
    * only the manifest write + ref advance serialize. `append` extends
    * the branch head; `!append` replaces it. Tags refuse (immutable);
    * a missing branch refuses loudly (create it first). The head's
    * `#meta` marker carries, so the branch keeps the schema it was
    * forked with until an ALTER lands on the MAIN line and a new fork
    * picks it up — branch adoption re-serves whatever meta the branch
    * head carries, exactly like every other snapshot.
    */
  def commitStagedToBranch(root: Path, fresh: Seq[ManifestEntry], name: String,
                           append: Boolean): Int = withWriterLock(root) {
    require(!Files.exists(refPath(root, name, tag = true)),
      s"'$name' is a tag: tags are immutable")
    val head = readRef(refPath(root, name, tag = false)).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root"))
    val id = nextManifestId(root)
    val carried = if (append) manifest(root, head) else Nil
    require(carried.nonEmpty || fresh.nonEmpty,
      s"refusing to commit an empty branch manifest under $root")
    writeManifestFile(root, id, carried ++ fresh.map(_.copy(seq = id)),
      manifestMeta(root, head))
    atomicWrite(refPath(root, name, tag = false), id.toString)
    id
  }

  /** Read a branch or tag head through its manifest. */
  def readRefAt(s: SparkSession, root: Path, name: String): DataFrame =
    readAt(s, root, refId(root, name).getOrElse(
      throw new IllegalStateException(s"no ref '$name' under $root")))

  /** Make a branch's head THE current snapshot — one pointer rename, so
    * a months-long branch build goes live atomically (and an adoption
    * of an older head is an equally-atomic rollback). The streaming
    * batch watermark is carried, as with every maintenance commit.
    */
  def adoptBranch(root: Path, name: String): Int = withWriterLock(root) {
    val head = readRef(refPath(root, name, tag = false)).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root"))
    commit(root, head, lastBatchId(root))
    head
  }

  /** WRITE-AUDIT-PUBLISH: stage `df` as an append on a throwaway audit
    * branch, run `audit` over the branch's WHOLE post-append view, and
    * only then swap it live — readers of `_current` can never see
    * unaudited rows, because until the final pointer rename the new
    * data exists only behind the branch ref. This is A27's declarative
    * audit joined to the snapshot layer, and the reference's
    * prerelease-verify-rename release discipline (checksum the staged
    * dot-dir, THEN rename it live) as a table operation.
    *
    * A rejected publish is erased completely — manifest, data files,
    * ref — so it needs no GC and leaves no abandoned tip. An accepted
    * publish re-validates under the writer lock that `_current` still
    * equals the audited base (a concurrent commit would otherwise be
    * silently rolled back by the adoption) and conflicts loudly if not,
    * after the same cleanup; the caller re-runs, exactly like a
    * [[compactOcc]] retry. Returns whether the release went live.
    */
  def publishAudited(s: SparkSession, root: Path, df: DataFrame,
                     audit: DataFrame => Boolean, branch: String = "wap"): Boolean = {
    val base = currentId(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    require(refId(root, branch).isEmpty, s"audit branch '$branch' already in flight")
    createBranch(root, branch, base)
    val id = publishToBranch(s, root, branch, df)
    def cleanup(): Unit = {
      val baseEntries = manifest(root, base).toSet
      val fresh = manifest(root, id).filterNot(baseEntries)
      dropRef(root, branch)
      Files.delete(root.resolve("manifests").resolve(s"manifest-$id"))
      discardStaged(root, fresh)
    }
    val ok =
      try audit(readRefAt(s, root, branch))
      catch { case e: Throwable => cleanup(); throw e }
    if (!ok) { cleanup(); false }
    else withWriterLock(root) {
      if (!currentId(root).contains(base)) {
        cleanup()
        throw new CommitConflictException(
          s"audited release staged against $base but current moved to " +
            s"${currentId(root).getOrElse("<none>")}")
      }
      commit(root, id, lastBatchId(root))
      dropRef(root, branch)
      true
    }
  }

  /** Delete a branch or tag ref. The history it pinned becomes
    * reclaimable by the NEXT [[expire]] — dropping a ref never deletes
    * data itself.
    */
  def dropRef(root: Path, name: String): Boolean =
    Files.deleteIfExists(refPath(root, name, tag = false)) ||
      Files.deleteIfExists(refPath(root, name, tag = true))

  private def allRefIds(root: Path): Set[Int] = {
    val refsDir = root.resolve("refs")
    if (!Files.exists(refsDir)) Set.empty
    else {
      val walk = Files.walk(refsDir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")) // crash crumbs
        .flatMap(readRef).toSet
      finally walk.close()
    }
  }

  /** Metadata relation over snapshot HISTORY — one row per manifest on
    * disk, derived purely from metadata (no data file is opened): the
    * introspection surface open table formats expose as `.snapshots`.
    * O(#manifests) tiny reads; at a million-file table this never lists
    * a data directory. Columns: snapshot_id, n_data_files,
    * n_delete_files, n_fresh (entries this snapshot added), is_current.
    */
  def metaSnapshots(s: SparkSession, root: Path): DataFrame = {
    val cur = currentId(root)
    val ids = manifestIdsOnDisk(root)
    val rows = ids.map { n =>
      val es = manifest(root, n)
      val (dels, datas) = es.partition(isDelete)
      Row(n.toLong, datas.size.toLong, dels.size.toLong,
        es.count(_.seq == n).toLong, if (cur.contains(n)) 1L else 0L,
        commitTsMillis(root, n))
    }
    val schema = StructType(Seq(
      StructField("snapshot_id", LongType), StructField("n_data_files", LongType),
      StructField("n_delete_files", LongType), StructField("n_fresh", LongType),
      StructField("is_current", LongType),
      // the instant TIMESTAMP AS OF resolves against (epoch millis) —
      // trailing so positional consumers of the original five are safe
      StructField("committed_at", LongType)))
    // LocalRelation, NOT parallelize: collecting a metadata relation
    // must stay a driver-local read, never a Spark job
    s.createDataFrame(rows.asJava, schema)
  }

  /** Metadata relation over the table's ANALYZE state — the `.stats`
    * twin of [[metaSnapshots]]: one row per analyzed column of the
    * newest sidecar at-or-below the current snapshot (the exact map
    * the scan's reported column statistics serve), with the snapshot
    * id it was computed at — the operator's staleness check ("is a
    * re-analyze due?") in one zero-job read. Empty when never
    * analyzed.
    */
  def metaColStats(s: SparkSession, root: Path): DataFrame = {
    val rows = currentId(root).flatMap(colStats(root, _)) match {
      case Some((atId, m)) => m.toSeq.sortBy(_._1).map { case (c, st) =>
        Row(c, atId.toLong, st.ndv, st.nulls,
          st.avgLen.map(Long.box).orNull, st.maxLen.map(Long.box).orNull)
      }
      case None => Nil
    }
    val schema = StructType(Seq(
      StructField("col_name", StringType),
      StructField("computed_at_snapshot", LongType),
      StructField("ndv", LongType), StructField("nulls", LongType),
      StructField("avg_len", LongType, nullable = true),
      StructField("max_len", LongType, nullable = true)))
    // LocalRelation: collecting a metadata relation is a driver read
    s.createDataFrame(rows.asJava, schema)
  }

  /** Metadata relation over one snapshot's FILES — the `.files` twin of
    * [[metaSnapshots]]: rel_path, kind (data|delete), seq, bytes, md5,
    * the anonymous zone-map bounds if present, and how many named zone
    * maps the entry carries. Pure manifest read.
    */
  def metaFiles(s: SparkSession, root: Path, n: Int): DataFrame = {
    // n <= 0 = "no snapshot yet": an empty listing, not an error (the
    // catalog's `t.files` on a created-but-never-written table)
    val rows = (if (n <= 0) Nil else manifest(root, n)).map { e =>
      Row(e.relPath, if (isDelete(e)) "delete" else "data", e.seq.toLong, e.bytes,
        e.md5, e.stats.map(_._1).orNull, e.stats.map(_._2).orNull,
        e.multi.size.toLong)
    }
    val schema = StructType(Seq(
      StructField("rel_path", StringType), StructField("kind", StringType),
      StructField("seq", LongType), StructField("bytes", LongType),
      StructField("md5", StringType),
      StructField("stats_lo", LongType, nullable = true),
      StructField("stats_hi", LongType, nullable = true),
      StructField("n_named_stats", LongType)))
    s.createDataFrame(rows.asJava, schema)
  }

  /** Per-store memo of data-file row counts from the parquet FOOTERS
    * (one O(1) driver read per file, no Spark job), for the metadata
    * tables and scan-side planning (limit / top-N file pruning, row
    * estimates): store → relPath → rows. The [[tombRangeCache]]
    * discipline: [[fileRows]] cuts the store's slot to the manifest its
    * caller plans over, so a slot never outgrows a live manifest — the
    * files a compaction retired leave it at the next planned read.
    */
  private val footerRowsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()

  /** Footer row counts of the files of `live` (the manifest the caller
    * plans over) through the store's [[footerRowsCache]] slot: the slot
    * is cut to `live` here, and each count the returned function reads
    * lands in it.
    */
  private[graft] def fileRows(s: SparkSession, root: Path,
                              live: Seq[ManifestEntry]): ManifestEntry => Long = {
    val slot = root.toAbsolutePath.normalize.toString
    val keep = live.map(_.relPath).toSet
    footerRowsCache.computeIfPresent(slot,
      (_: String, m: Map[String, Long]) => m.filter { case (p, _) => keep(p) })
    e => footerRowsCache.getOrDefault(slot, Map.empty).getOrElse(e.relPath, {
      val n = rowCount(footer(s, root, e.relPath))
      footerRowsCache.merge(slot, Map(e.relPath -> n),
        (a: Map[String, Long], b: Map[String, Long]) => a ++ b)
      n
    })
  }

  /** The file relPaths [[footerRowsCache]] holds for `root`. */
  private[graft] def fileRowsCached(root: Path): Set[String] =
    Option(footerRowsCache.get(root.toAbsolutePath.normalize.toString))
      .fold(Set.empty[String])(_.keySet)

  /** Rows in freshly STAGED files, summed from their footers' row groups,
    * read concurrently on the driver: no Spark job, where a
    * `read.parquet(...).count()` read-back ran two (schema inference and
    * the count). Nothing is cached — staged files may yet be discarded.
    * A schema-only empty file has no row group, so it counts 0.
    */
  private[graft] def stagedRows(s: SparkSession, root: Path,
                                entries: Seq[ManifestEntry]): Long =
    parMap(entries)(e => rowCount(footer(s, root, e.relPath))).sum

  /** Per-(file, column) NULL count from the parquet FOOTER — `Some(n)`
    * only when EVERY row group of the file carries statistics with a
    * known null count for a top-level column named `col`; `None` means
    * "unprovable", which callers must treat as "cannot skip". One O(1)
    * driver read per file, memoized forever (files are immutable);
    * negative cache included (a file without stats stays without them).
    */
  private val footerNullsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()

  private[graft] def fileColNulls(s: SparkSession, root: Path, relPath: String,
      col: String): Option[Long] =
    footerNullsCache.computeIfAbsent(root.resolve(relPath).toString + "#" + col, { _ =>
      val blocks = footer(s, root, relPath).getBlocks
      var total = 0L
      var ok = blocks.size() > 0
      val it = blocks.iterator()
      while (ok && it.hasNext) {
        val chunk = it.next().getColumns.asScala
          .find(c => c.getPath.size() == 1 && c.getPath.toDotString == col)
        chunk.map(_.getStatistics) match {
          case Some(st) if st != null && st.isNumNullsSet => total += st.getNumNulls
          case _ => ok = false
        }
      }
      if (ok) Some(total) else None
    })

  /** Metadata relation over one snapshot's PARTITIONS — the operator's
    * per-partition view (`cat.ns.t.partitions`): for each `_pv=` value
    * (identity value or bucket id; NULL groups the layout-less files a
    * CoW rewrite/compaction/adoption landed), the file/row/byte counts
    * and the LIVE claim status: `sorted_disjoint` is the exact
    * per-group predicate the scan's `SupportsReportOrdering` proof uses
    * (every file carries the sort column's zone range AND the ranges
    * are pairwise non-overlapping) — an operator reads this table to
    * see whether a compact would restore elided-sort joins. Sources:
    * the manifest (files/bytes/zones) + one memoized O(1) footer read
    * per file for row counts. Built as a LOCAL relation: collecting it
    * runs ZERO Spark jobs.
    */
  def metaPartitions(s: SparkSession, root: Path, n: Int,
                     sortCol: Option[String],
                     statsCol: Option[String],
                     specFrom: Option[Int] = None,
                     specHistory: Seq[(Int, Int)] = Nil): DataFrame = {
    val es = (if (n <= 0) Nil else manifest(root, n)).filterNot(isDelete)
    val rowsOf = fileRows(s, root, es)
    def zoneOf(e: ManifestEntry, c: String): Option[(Long, Long)] =
      e.multi.find(_._1 == c).map(t => (t._2, t._3))
        .orElse(if (statsCol.contains(c)) e.stats else None)
    // spec id a file was WRITTEN under: the newest spec whose base
    // snapshot precedes the file's seq (spec 0 = the birth spec; the
    // history is `spechistory`'s "<id>@<base>" stamps, one per
    // spec-evolving ALTER). Replaces "was it current?" with "WHICH?" —
    // a twice-evolved table audits per slice, not as one boolean.
    def specOf(e: ManifestEntry): Int =
      specHistory.filter(_._2 < e.seq).map(_._1).maxOption.getOrElse(0)
    val rows: Seq[Row] = es.groupBy(e => partValueOf(e.relPath)).toSeq
      .sortBy(_._1.getOrElse(""))
      .map { case (pv, fs) =>
        val sortedDisjoint: Any = sortCol match {
          case None => null
          case Some(sc) =>
            val zones = fs.map(zoneOf(_, sc))
            if (zones.exists(_.isEmpty)) null // unprovable ≠ false
            else {
              val rs = zones.flatten.sortBy(r => (r._1, r._2))
              rs.zip(rs.drop(1)).forall { case ((_, hi), (lo2, _)) => hi <= lo2 }
            }
        }
        val specs = fs.map(specOf)
        Row(pv.orNull, fs.size.toLong,
          fs.map(rowsOf).sum,
          fs.map(_.bytes).sum, sortedDisjoint,
          // spec-evolution visibility: FALSE = this partition still holds
          // pre-evolution files (grouped claims decline; a compact is due)
          fs.forall(e => specFrom.forall(e.seq > _)),
          specs.min.toLong, specs.max.toLong)
      }
    val schema = StructType(Seq(
      StructField("partition", StringType, nullable = true),
      StructField("n_files", LongType), StructField("n_rows", LongType),
      StructField("bytes", LongType),
      StructField("sorted_disjoint", org.apache.spark.sql.types.BooleanType,
        nullable = true),
      StructField("under_current_spec", org.apache.spark.sql.types.BooleanType,
        nullable = false),
      StructField("spec_id_min", LongType), StructField("spec_id_max", LongType)))
    // LocalRelation, NOT parallelize: executeCollect stays driver-local
    s.createDataFrame(rows.asJava, schema)
  }

  /** Metadata relation over the CHANGEFEED CONSUMER REGISTRY: name and
    * registered replay-floor offset per consumer — the operator's view
    * of who blocks retention and from where ([[registerConsumer]] /
    * [[consumerFloor]]'s rows). LocalRelation: zero Spark jobs.
    */
  def metaConsumers(s: SparkSession, root: Path): DataFrame = {
    val dir = root.resolve("consumers")
    val rows: Seq[Row] =
      if (!Files.exists(dir)) Nil
      else {
        val l = Files.list(dir)
        try l.iterator().asScala.toSeq
          .filterNot(_.getFileName.toString.startsWith("."))
          .sortBy(_.getFileName.toString)
          .flatMap(p => consumerOffsetOf(p).map(o =>
            Row(p.getFileName.toString, o.toLong)))
        finally l.close()
      }
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("offset", LongType)))
    s.createDataFrame(rows.asJava, schema)
  }

  /** Metadata relation over REFS: name, kind (branch|tag), snapshot_id. */
  def metaRefs(s: SparkSession, root: Path): DataFrame = {
    def scan(kind: String): Seq[Row] = {
      val dir = root.resolve("refs").resolve(if (kind == "tag") "tags" else "heads")
      if (!Files.exists(dir)) Nil
      else {
        val l = Files.list(dir)
        try l.iterator().asScala.toSeq
          .filterNot(_.getFileName.toString.startsWith(".")) // crash crumbs
          .sortBy(_.getFileName.toString)
          .flatMap(p => readRef(p).map(id =>
            Row(p.getFileName.toString, kind, id.toLong)))
        finally l.close()
      }
    }
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("kind", StringType),
      StructField("snapshot_id", LongType)))
    s.createDataFrame((scan("branch") ++ scan("tag")).asJava, schema)
  }

  /** Raw manifest write, for encoding round-trip tests only. */
  private[etl] def writeManifestForTest(root: Path, id: Int,
                                        es: Seq[ManifestEntry]): Unit = {
    Files.createDirectories(root.resolve("manifests"))
    atomicWrite(root.resolve("manifests").resolve(s"manifest-$id"),
      es.map(manifestLine).mkString("\n"))
  }

  /** Manifest-pruned read on a NAMED zone-map column: open only files
    * whose `c` range intersects [lo, hi]; files without a `c` zone map
    * can never be skipped. The named complement of [[readPruned]] —
    * after [[compactZOrder]] both clustering dimensions prune.
    */
  def readPrunedOn(s: SparkSession, root: Path, n: Int, c: String,
                   lo: Long, hi: Long): DataFrame = {
    val (datas, dels) = dataAndDeletes(root, n)
    val picked = datas.filter { e =>
      e.multi.find(_._1 == c) match {
        case Some((_, fLo, fHi)) => fHi >= lo && fLo <= hi
        case None                => true // no zone map for c: must read
      }
    }
    if (picked.isEmpty) readAt(s, root, n).limit(0)
    else mergeRead(s, root, picked, dels, _.filter(col(c).between(lo, hi)))
  }

  /** Reclaim a staged-but-never-committed OCC write (its files are in
    * no manifest, so this is the ONLY reference to them).
    */
  def discardStaged(root: Path, fresh: Seq[ManifestEntry]): Unit = {
    val dirs = scala.collection.mutable.LinkedHashSet[Path]()
    fresh.foreach { e =>
      val p = root.resolve(e.relPath)
      Files.deleteIfExists(p)
      dirs += p.getParent
    }
    dirs.foreach { d =>
      if (Files.exists(d)) {
        val l = Files.list(d)
        val rest = try l.iterator().asScala.toSeq finally l.close()
        if (!rest.exists(_.getFileName.toString.endsWith(".parquet"))) {
          rest.foreach(Files.deleteIfExists(_))
          Files.deleteIfExists(d)
        }
      }
    }
  }

  /** Row-level deletes on immutable files are MERGE-ON-READ: a delete
    * commit adds a tombstone file (one key column — its schema names
    * the key) under `deletes/` to the manifest; every read path
    * anti-joins the union of the snapshot's tombstones before
    * returning. Data files are never touched, so pinned readers and
    * time travel see pre-delete history; compaction applies deletes
    * PHYSICALLY (it rewrites the merged view and its fresh manifest
    * carries no tombstones), after which GC can reclaim both the
    * superseded data and the tombstones.
    */
  private[graft] def isDelete(e: ManifestEntry): Boolean = e.relPath.startsWith("deletes/")

  /** POSITION tombstone (key-less merge-on-read DELETE): a two-column
    * (`__file` store-relative path, `__pos` parquet row ordinal) pair
    * file under `deletes/pos-`. Mutually exclusive with equality
    * tombstones per store — a mixed manifest would need two different
    * anti-join shapes against the same legs and the write paths refuse
    * it up front instead.
    */
  private[graft] def isPosDelete(e: ManifestEntry): Boolean =
    e.relPath.startsWith("deletes/pos-")

  private def dataAndDeletes(root: Path, n: Int): (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    val (dels, datas) = manifest(root, n).partition(isDelete)
    (datas, dels)
  }

  /** Seq-aware merged read, planned on the driver with no Spark job.
    * Iceberg's sequence-number rule for equality deletes
    * (https://iceberg.apache.org/spec/#scan-planning): a tombstone
    * erases a key only from files of an EARLIER commit (strictly
    * smaller seq), so an upsert's own rows are never erased by its own
    * tombstone. The plan is at most two legs, however many delete
    * commits the snapshot carries:
    *  - HOT files (some later tombstone could erase one of their rows)
    *    read in ONE scan and anti-join ONE scan of every applicable
    *    tombstone on the key columns plus `tomb.seq > data.seq`; both
    *    scans carry each file's manifest seq as a partition value, so
    *    no file path is ever matched;
    *  - every other file (the newest commit's, and files the zone maps
    *    prove clear of every later tombstone's key range) reads as one
    *    pure scan leg.
    * `shape` is a residual filter applied before the anti-join: filters
    * commute with both union and anti-join, so pruned/point reads reuse
    * this unchanged. Every scan is manifest-backed ([[scan]]); the read
    * shape is `knownSchema` when the caller knows it (the catalog's
    * declared schema), else [[footerSchema]] over the files read, one
    * footer per commit. Tombstones keep their own key-only shape.
    */
  private def mergeRead(s: SparkSession, root: Path, datas: Seq[ManifestEntry],
                        dels: Seq[ManifestEntry],
                        shape: DataFrame => DataFrame,
                        pruneCol: Option[String] = None,
                        knownSchema: Option[StructType] = None,
                        knownTombSchema: Option[StructType] = None): DataFrame = {
    val schema = knownSchema.getOrElse(footerSchema(s, root, datas))
    def read(es: Seq[ManifestEntry]) = scan(s, root, es, schema, pruneCol)
    if (dels.isEmpty) shape(read(datas))
    else if (dels.exists(isPosDelete)) {
      // POSITION tombstones (key-less DELETE): the tombstone NAMES its
      // target files, so applicability is the naming itself — no seq
      // rule. Files named by any tombstone filter per row against
      // the BROADCAST per-file ordinal bitmap (the ordinal comes from
      // the reader's own _metadata.row_index — no shuffle, no build
      // side); unnamed files read pure at full scan speed. The named
      // set is a plan-time driver read of the tombstones — O(bitmap
      // bytes), the compressed form's whole point.
      require(dels.forall(isPosDelete),
        s"store $root mixes equality and position tombstones — unsupported")
      val bms = posBitmaps(s, root, dels)
      val (hot, clear) = datas.partition(e => bms.contains(e.relPath))
      val prefix = posPrefix(root)
      val joined = if (hot.isEmpty) None else {
        val bc = s.sparkContext.broadcast(bms)
        val withPos = read(hot).select(col("*"),
          substring(col("_metadata.file_path"), prefix.length + 1, Int.MaxValue)
            .as("__file"),
          col("_metadata.row_index").as("__pos"))
        Some(shape(withPos)
          .filter(!org.apache.spark.sql.GraftBridge.column(
            graft.functions.PosDeleted(
              org.apache.spark.sql.GraftBridge.expression(col("__file")),
              org.apache.spark.sql.GraftBridge.expression(col("__pos")), bc)))
          .drop("__file", "__pos"))
      }
      val pure = if (clear.isEmpty) None else Some(shape(read(clear)))
      (joined.toSeq ++ pure.toSeq).reduce(_.unionByName(_))
    }
    else {
      // TOMBSTONE-RANGE PRUNING: when the store's zone-map column IS
      // the tombstone key column (pruneCol, declared by the caller and
      // verified against each tombstone's own footer schema), a file
      // whose [min,max] misses the key range of every LATER tombstone
      // provably holds no row a tombstone erases and reads PURE. On a
      // range-clustered store a 1k-key delete leaves one hot file; the
      // other 63 read at full scan speed. Absent stats on either side
      // mean "cannot prove clear" and keep the file hot. Only
      // tombstones LATER than some data file can erase a row.
      val minSeq = datas.map(_.seq).min
      val tombs = dels.filter(_.seq > minSeq)
      val tombRange: Map[String, Option[(Long, Long)]] =
        pruneCol.fold(Map.empty[String, Option[(Long, Long)]])(tombstoneRanges(s, root, tombs, _))
      // a file's zone for the prune column: the legacy anonymous range
      // (declared = pruneCol by the caller) OR the NAMED multi token —
      // partitioned stagings carry multi only
      def zoneOf(e: ManifestEntry): Option[(Long, Long)] =
        e.stats.orElse(pruneCol.flatMap(pc =>
          e.multi.find(_._1 == pc).map(t => (t._2, t._3))))
      def touchedBy(e: ManifestEntry, t: ManifestEntry): Boolean =
        t.seq > e.seq && ((zoneOf(e), tombRange.getOrElse(t.relPath, None)) match {
          case (Some((lo, hi)), Some((tLo, tHi))) => lo <= tHi && hi >= tLo
          case _ => true
        })
      val (hot, clear) = datas.partition(e => tombs.exists(touchedBy(e, _)))
      val joined = if (hot.isEmpty) None else {
        // no distinct(): each tombstone file is written distinct, and a
        // LEFT ANTI join is insensitive to build-side duplicates. The
        // join key is the tombstone's WHOLE column set: composite keys
        // (multi-column tombstones) anti-join on every column. Both
        // scans carry their file's commit seq as a partition value.
        val hotTombs = tombs.filter(_.seq > hot.map(_.seq).min)
        val tombSchema = knownTombSchema.getOrElse(footerSchema(s, root, hotTombs))
        def q(c: String) = col("`" + c.replace("`", "``") + "`")
        val keys = tombSchema.fieldNames.toIndexedSeq
        val tomb = scan(s, root, hotTombs, tombSchema, seqCol = Some("__tseq"))
          .select(keys.map(k => q(k).as("__t_" + k)) :+ col("__tseq"): _*)
        val data = scan(s, root, hot, schema, pruneCol, seqCol = Some("__seq"))
        val cond = keys.map(k => q(k) === q("__t_" + k)).reduce(_ && _) &&
          col("__tseq") > col("__seq")
        Some(shape(data).join(tomb, cond, "left_anti").drop("__seq"))
      }
      val pure = if (clear.isEmpty) None else Some(shape(read(clear)))
      (joined.toSeq ++ pure.toSeq).reduce(_.unionByName(_))
    }
  }

  /** Per-store memo of tombstone key ranges: store + key column → the
    * ranges of the tombstone files the store's last merged read
    * applied. Each read reuses the entries of files still present,
    * reads the missing footers in parallel, and replaces the slot with
    * exactly its own tombstone set, so a slot never outgrows the
    * manifest it came from: compaction drops its entries, and a
    * long-lived mirror stream pays one footer read per new tombstone.
    */
  private val tombRangeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Option[(Long, Long)]]]()

  /** Tombstone relPath → [min, max] of `keyCol` for `tombs`, through
    * [[tombRangeCache]].
    */
  private[graft] def tombstoneRanges(s: SparkSession, root: Path, tombs: Seq[ManifestEntry],
                                     keyCol: String): Map[String, Option[(Long, Long)]] = {
    val slot = root.toAbsolutePath.normalize.toString + "\u0000" + keyCol
    val prior = Option(tombRangeCache.get(slot)).getOrElse(Map.empty)
    val live = tombs.map(_.relPath).distinct
    val missing = live.filterNot(prior.contains)
    val ranges = live.filter(prior.contains).map(p => p -> prior(p)).toMap ++
      missing.zip(parMap(missing)(tombstoneRange(s, root, _, keyCol)))
    tombRangeCache.put(slot, ranges)
    ranges
  }

  /** A tombstone file's [min, max] of the key column, from its parquet
    * FOOTER statistics — one O(1) driver-side footer read. `Some` only
    * when the footer (a) carries the declared column as INT64 and (b)
    * has complete min/max stats on every row group; anything else is
    * None and the caller must not prune against this tombstone.
    */
  private def tombstoneRange(s: SparkSession, root: Path, relPath: String,
                             keyCol: String): Option[(Long, Long)] = {
    try {
      // the SESSION's hadoop conf, not a bare Configuration: a bare
      // one lacks object-store credentials/filesystem settings and
      // the footer read would silently fail into "no pruning"
      val ft = footer(s, root, relPath)
      // the declared column may sit anywhere in the tombstone's
      // schema: a COMPOSITE key lands a multi-column tombstone,
      // and range pruning stays sound on any ONE key column — a
      // data file whose [min,max] for that column misses every
      // tombstone's range cannot hold ANY deleted (k1,..,kn)
      val sch = ft.getFileMetaData.getSchema
      val idx = (0 until sch.getFieldCount).find(i =>
        sch.getFields.get(i).getName == keyCol)
      val int64 = idx.exists(i =>
        sch.getFields.get(i).isPrimitive &&
        sch.getFields.get(i).asPrimitiveType().getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
      if (!int64) None
      else {
        val i = idx.get
        val stats = ft.getBlocks.asScala
          .map(_.getColumns.get(i).getStatistics)
        if (stats.isEmpty || stats.exists(st => st == null || !st.hasNonNullValue)) None
        else Some((
          stats.map(_.genericGetMin.asInstanceOf[Long]).min,
          stats.map(_.genericGetMax.asInstanceOf[Long]).max))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Time travel: the exact immutable file set of snapshot `n`, with
    * the snapshot's tombstones applied.
    */
  def readAt(s: SparkSession, root: Path, n: Int): DataFrame =
    readAt(s, root, n, None, None)

  /** One analyzed column: exact NDV + null count, and for
    * string/binary columns the average (ceil) and max byte lengths —
    * CBO's row-width inputs, which default-size guesses get badly
    * wrong on a documents table.
    */
  final case class ColStat(ndv: Long, nulls: Long,
                           avgLen: Option[Long] = None, maxLen: Option[Long] = None)

  /** ANALYZE kernel: exact per-column (distinct count, null count) of
    * snapshot `id`'s MERGED view, computed by one aggregate and written
    * as a `stats/colstats-<id>` sidecar (write-temp + atomic rename;
    * re-analyzing merges column-wise, newest wins). The sidecar is
    * ADVISORY metadata for the scan's reported column statistics —
    * Spark's CBO turns NDV into post-filter cardinality and with it
    * broadcast decisions a raw size estimate can never make. Column
    * names are PHYSICAL (the store's own); callers translate. Never
    * read by any correctness path, never GC'd (tiny), and staleness is
    * by contract: [[colStats]] serves the NEWEST sidecar at-or-below
    * the read snapshot, stamped with the id it was computed at —
    * estimates, not facts, exactly like every ANALYZE-based optimizer.
    *
    * The one-task rule: a ONE-column analyze of a snapshot whose
    * manifest bytes (data files and tombstones) are at most
    * [[AnalyzeOneTaskBytes]] reads it in one partition, whatever number
    * of splits the scan planned. The aggregate then runs as one Spark
    * job with no exchange: a single partition satisfies the distinct
    * count's clustering. Several columns keep the parallel plan, because
    * Spark expands each row once per distinct column, the expansion
    * drops the single partition and both exchanges come back anyway.
    * Otherwise the aggregate runs in parallel, and under AQE every
    * shuffle stage is its own job.
    */
  def analyzeColumns(s: SparkSession, root: Path, id: Int,
                     cols: Seq[String]): Seq[(String, Long, Long)] =
    analyzeColumns(s, root, id, cols, AnalyzeOneTaskBytes)

  /** Snapshot size up to which a one-column analyze reads in one task
    * instead of a parallel scan and two shuffle jobs. Measured on
    * 4 vCPU with one int and one string column, alternating pairs: at
    * about 2 MiB the one task was faster in 11 or 12 of 12 pairs for 2,
    * 8 and 32 files, at local[4] and local[8]; at about 4 MB it was
    * slower.
    */
  private val AnalyzeOneTaskBytes: Long = 2L << 20

  private[etl] def analyzeColumns(s: SparkSession, root: Path, id: Int, cols: Seq[String],
                                  oneTaskBytes: Long): Seq[(String, Long, Long)] = {
    require(cols.nonEmpty, "analyze: no columns named")
    val (datas, dels) = dataAndDeletes(root, id)
    require(datas.nonEmpty, s"snapshot $id of $root lists no data files")
    val merged = mergeRead(s, root, datas, dels, identity)
    val oneTask = cols.size == 1 &&
      (datas ++ dels).map(_.bytes).sum <= oneTaskBytes
    val df = if (oneTask) merged.coalesce(1) else merged
    cols.foreach(c => require(df.columns.contains(c),
      s"analyze: no column '$c' in snapshot $id (have: ${df.columns.mkString(", ")})"))
    val sized = cols.filter(c => df.schema(c).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }).toSet
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c => Seq(
        count_distinct(col(c)).as(s"__ndv_$c"),
        count(col(c)).as(s"__nn_$c")) ++
        (if (sized(c)) Seq(
          ceil(avg(length(col(c)))).cast("long").as(s"__al_$c"),
          max(length(col(c))).cast("long").as(s"__ml_$c")) else Nil))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    def g(name: String): Option[Long] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.getLong(i))
    }
    val fresh = cols.map { c =>
      c -> ColStat(g(s"__ndv_$c").getOrElse(0L),
        n - g(s"__nn_$c").getOrElse(0L),
        if (sized(c)) g(s"__al_$c") else None,
        if (sized(c)) g(s"__ml_$c") else None)
    }
    val dir = root.resolve("stats")
    Files.createDirectories(dir)
    val target = dir.resolve(s"colstats-$id")
    val existing: Map[String, ColStat] =
      if (Files.exists(target)) parseColStats(target) else Map.empty
    atomicWrite(target, (existing ++ fresh).toSeq.sortBy(_._1).map { case (c, st) =>
      (Seq(c, st.ndv.toString, st.nulls.toString) ++
        st.avgLen.map(_.toString).toSeq ++ st.maxLen.map(_.toString).toSeq)
        .mkString("\t")
    }.mkString("\n"))
    fresh.map { case (c, st) => (c, st.ndv, st.nulls) }
  }

  /** SKETCH-MODE ANALYZE — the incremental path a 100 TB table needs:
    * NDV via per-FILE KMV (bottom-k) sketches, each persisted as a
    * sidecar keyed by the data file's md5 (`stats/kmv/<md5>-<col>`).
    * Data files are immutable, so a sketch is computed ONCE per file
    * ever: a re-analyze after an append scans ONLY the files without
    * sidecars (one job over just them), then merges all sidecars
    * driver-side with a k-capped ordered set — O(k) memory however
    * many files. Estimator = B11b's (k−1)·2⁶³/h_k bottom-k form
    * (σ ≈ 1/√(k−2) ≈ 6.3% at k=256); when the merged sample holds
    * fewer than k distinct hashes every file's sample was complete and
    * the count is EXACT. Null counts are exact (summed per-file).
    * Tombstone-bearing snapshots refuse — raw-file sketches would
    * count deleted rows; compact first (the clone/selective-compact
    * contract shape). Results land in the same `colstats-<id>` sidecar
    * the scan's reported statistics serve, merged column-wise with any
    * exact-mode entries.
    */
  def analyzeSketch(s: SparkSession, root: Path, id: Int,
                    cols: Seq[String], k: Int = 256): Seq[(String, Long, Long)] = {
    require(cols.nonEmpty, "analyze: no columns named")
    val (datas, dels) = dataAndDeletes(root, id)
    require(dels.isEmpty,
      "sketch-mode analyze on a tombstoned snapshot would count deleted " +
        "rows (sketches are per raw file) — CALL system.compact first, or " +
        "use exact mode")
    require(datas.nonEmpty, s"snapshot $id of $root lists no data files")
    val dir = root.resolve("stats").resolve("kmv")
    Files.createDirectories(dir)
    def sidecar(e: ManifestEntry, c: String): Path = dir.resolve(s"${e.md5}-$c")
    // one job per column over ONLY the sidecar-less files
    cols.foreach { c =>
      val missing = datas.filterNot(e => Files.exists(sidecar(e, c)))
      if (missing.nonEmpty) {
        val df = s.read.parquet(missing.map(e => root.resolve(e.relPath).toString): _*)
        require(df.columns.contains(c),
          s"analyze: no column '$c' (have: ${df.columns.mkString(", ")})")
        import org.apache.spark.sql.expressions.Window
        val hashed = df
          .select(input_file_name().as("__f"), col(c).as("__c"))
          .select(col("__f"),
            when(col("__c").isNull, lit(null))
              .otherwise(graft.ops.TextKernels.fnv64mix(col("__c").cast("string")))
              .as("__h"))
        val nullsPer = hashed.groupBy("__f")
          .agg(count(lit(1)).as("__n"), count(col("__h")).as("__nn"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val sample = hashed.filter(col("__h").isNotNull).distinct()
          .withColumn("__rk",
            dense_rank().over(Window.partitionBy("__f").orderBy("__h")))
          .filter(col("__rk") <= k)
          .select("__f", "__h")
          .collect().groupBy(_.getString(0))
          .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted }
        // input_file_name renders file:// URIs — normalize once
        val uriOf: Map[String, String] = (nullsPer.keys ++ sample.keys)
          .toSeq.distinct.map(u =>
            java.nio.file.Paths.get(new java.net.URI(u).getPath)
              .toAbsolutePath.normalize.toString -> u).toMap
        missing.foreach { e =>
          val key = root.resolve(e.relPath).toAbsolutePath.normalize.toString
          val norm = uriOf.get(key)
          val (n, nn) = norm.flatMap(nullsPer.get).getOrElse((0L, 0L))
          val hs = norm.flatMap(sample.get).getOrElse(Array.empty[Long])
          atomicWrite(sidecar(e, c),
            (s"${n - nn}" +: hs.map(_.toString)).mkString("\n"))
        }
      }
    }
    // driver-side merge: k-capped ordered distinct set + exact null sum
    val fresh = cols.map { c =>
      var nulls = 0L
      val set = new java.util.TreeSet[java.lang.Long]()
      datas.foreach { e =>
        val lines = Files.readAllLines(sidecar(e, c)).asScala
        nulls += lines.head.toLong
        lines.tail.foreach { h =>
          set.add(h.toLong)
          if (set.size > k) set.remove(set.last())
        }
      }
      val ndv =
        if (set.size < k) set.size.toLong
        else {
          val kth = set.last().longValue()
          ((BigInt(k - 1) * (BigInt(1) << 63)) / BigInt(kth)).toLong
        }
      (c, ndv, nulls)
    }
    // merge into the same colstats sidecar exact mode writes
    val statsDir = root.resolve("stats")
    val target = statsDir.resolve(s"colstats-$id")
    val existing: Map[String, ColStat] =
      if (Files.exists(target)) parseColStats(target) else Map.empty
    val merged = existing ++ fresh.map { case (c, d, u) => c -> ColStat(d, u) }
    atomicWrite(target, merged.toSeq.sortBy(_._1).map { case (c, st) =>
      (Seq(c, st.ndv.toString, st.nulls.toString) ++
        st.avgLen.map(_.toString).toSeq ++ st.maxLen.map(_.toString).toSeq)
        .mkString("\t")
    }.mkString("\n"))
    fresh
  }

  private def parseColStats(p: Path): Map[String, ColStat] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      f(0) -> ColStat(f(1).toLong, f(2).toLong,
        if (f.length > 3) Some(f(3).toLong) else None,
        if (f.length > 4) Some(f(4).toLong) else None)
    }.toMap

  /** The newest analyze sidecar at-or-below snapshot `atId`:
    * (computed-at id, physical column -> stats). Empty when the table
    * was never analyzed that far back.
    */
  def colStats(root: Path, atId: Int): Option[(Int, Map[String, ColStat])] = {
    val dir = root.resolve("stats")
    if (!Files.exists(dir)) return None
    val l = Files.list(dir)
    val ids = try l.iterator().asScala
      .flatMap(p => numericSuffix(p.getFileName.toString, "colstats-")).toSeq
    finally l.close()
    ids.filter(_ <= atId).sorted.lastOption
      .map(i => (i, parseColStats(dir.resolve(s"colstats-$i"))))
  }

  /** [[readAt]] with the reader's extra knowledge: `pruneCol` declares
    * that the store's zone-map stats column is ALSO the tombstone key
    * column (enabling tombstone-range pruning of the merged read's
    * anti-join), and `knownSchema` pins the read shape in place of the
    * footer-resolved one (the catalog's declared schema is
    * authoritative: it also covers type widening).
    */
  def readAt(s: SparkSession, root: Path, n: Int, pruneCol: Option[String],
             knownSchema: Option[StructType],
             knownTombSchema: Option[StructType] = None): DataFrame = {
    val (datas, dels) = dataAndDeletes(root, n)
    // loud, named failure instead of Spark's opaque "path not specified":
    // an all-empty manifest (e.g. a first-ever micro-batch that carried
    // zero rows) has no files to derive even a schema from
    require(datas.nonEmpty, s"snapshot $n of $root lists no data files")
    mergeRead(s, root, datas, dels, identity, pruneCol, knownSchema, knownTombSchema)
  }

  /** Manifest-pruned range read: open ONLY the files whose zone map
    * ([min, max] of the snapshot's stats column) intersects [lo, hi] —
    * plus any file without stats, which can never be skipped. This is
    * the 100 TB read path: predicate → tiny manifest scan → exact file
    * list, no directory listing, no footer fetches for skipped files;
    * with range-clustered publishes (repartitionByRange on the stats
    * column) a point/range query opens O(range / file-span) files of a
    * million-file table. The residual filter still applies row-level —
    * pruning is an I/O optimization, never a semantics change.
    */
  def readPruned(s: SparkSession, root: Path, n: Int, statsCol: String,
                 lo: Long, hi: Long): DataFrame = {
    val (datas, dels) = dataAndDeletes(root, n)
    val picked = datas.filter(_.stats match {
      case Some((fLo, fHi)) => fHi >= lo && fLo <= hi
      case None             => true // unknown stats: must read
    })
    if (picked.isEmpty) readAt(s, root, n).limit(0)
    else mergeRead(s, root, picked, dels, _.filter(col(statsCol).between(lo, hi)))
  }

  private[graft] def bloomPath(root: Path, relPath: String): Path =
    root.resolve("blooms").resolve(relPath + ".bloom")

  private[graft] def bloomColumnPath(root: Path): Path =
    root.resolve("blooms").resolve("_column")

  /** The single declared key column this store's bloom sidecars were
    * built over, recorded by [[buildBlooms]] in `blooms/_column`. Bloom
    * skipping is only sound for point constraints on THIS column — a
    * k-bloom probed with another column's value can wrongly skip a file.
    * Absent marker (no blooms ever built, or a pre-marker store) means
    * "unknown" and every reader must treat sidecars as unusable.
    */
  def bloomColumn(root: Path): Option[String] = {
    val p = bloomColumnPath(root)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** Decoupled metadata maintenance: build a per-file Bloom filter over
    * `keyCol` for every data file of snapshot `n` that lacks one — the
    * POINT-lookup complement to the zone maps (a hash-distributed key
    * visits every file's [min, max], so range stats prune nothing; the
    * bloom answers "might this file hold key k" per file). One Spark job
    * for all missing files (grouped by file), blooms written as
    * immutable SIDECARS next to the layer's data (`blooms/<relPath>
    * .bloom`) rather than inline in the manifest — a million-file
    * table's manifest stays a listing, not a gigabyte of filters.
    * Sidecars are keyed by data-file path, so they stay valid for every
    * manifest that references the file and die with it at GC.
    */
  def buildBlooms(s: SparkSession, root: Path, n: Int, keyCol: String,
                  estItems: Long = 0): Int = {
    // one declared key column per store, recorded in blooms/_column so
    // readers can key bloom skipping the way zone skipping is keyed by
    // the constraint's column — probing a k-bloom with another column's
    // value would wrongly skip files
    bloomColumn(root) match {
      case Some(existing) if existing != keyCol =>
        throw new IllegalArgumentException(
          s"bloom sidecars under $root are keyed by '$existing'; " +
          s"rebuilding over '$keyCol' would mix keys — expire sidecars first")
      case Some(_) => ()
      case None =>
        Files.createDirectories(bloomColumnPath(root).getParent)
        Files.write(bloomColumnPath(root), keyCol.getBytes("UTF-8"))
    }
    val missing = manifest(root, n).filterNot(isDelete)
      .filterNot(e => Files.exists(bloomPath(root, e.relPath)))
    if (missing.isEmpty) return 0
    // AUTO-SIZING (estItems = 0): a fixed-size bloom saturates
    // silently when files outgrow it (FPP → 1, skipping → none — the
    // self-run sf10 sweep caught exactly that), so size from the TRUE
    // per-file cardinality ceiling: parquet footer row counts, one
    // O(1) footer read per missing file (the build scans those files
    // whole right after, so this adds a seek, not a pass). 16 bits per
    // item ≈ 0.05% FPP — tight enough that a point probe against a
    // whole table's sidecars (8-64 files) still expects ZERO false
    // opens — capped at 2^26 bits (Spark's aggregate cap), beyond
    // which FPP degrades gracefully rather than erroring. A caller's
    // estItems replaces the footer-derived ceiling.
    val effItems =
      if (estItems > 0) estItems
      else {
        val maxRows = missing.map(e => rowCount(footer(s, root, e.relPath))).max
        math.max(1024L, maxRows)
      }
    val effBits = math.min(1L << 26, math.max(1L << 16, effItems * 16L))
    // sidecars are written EXECUTOR-side: each aggregated (file → bloom)
    // row lands as a file from the task that holds it, so a 10^6-file
    // backfill never funnels 10^5 MiB of filter bytes through the driver
    // — the driver ships only the relPath dictionary (strings)
    val rootStr = root.toString
    // keyed by ROOT-RELATIVE path, not bare file name: value-pure
    // partitioned layouts (_pv=...) repeat identical part-file basenames
    // across partition dirs, and a name-keyed map collapses them — one
    // file's bloom lands under another's sidecar path and skipping then
    // silently drops matching rows (same collision entriesForStagedDir
    // fixed for zone maps)
    val relSet = missing.map(_.relPath).toSet
    s.read.parquet(missing.map(e => root.resolve(e.relPath).toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(graft.ops.Dedup.bloomAgg(col(keyCol).cast("long"), effItems, effBits).as("bf"))
      .foreach { r =>
        val full = java.nio.file.Paths.get(new java.net.URI(r.getString(0)).getPath)
        val rel = java.nio.file.Paths.get(rootStr).relativize(full).toString
        Some(rel).filter(relSet.contains).foreach { rel =>
          val p = java.nio.file.Paths.get(rootStr).resolve("blooms")
            .resolve(rel + ".bloom")
          Files.createDirectories(p.getParent)
          // write-tmp + atomic rename keeps retried tasks idempotent:
          // the sidecar appears whole or not at all, never truncated
          val tmp = p.resolveSibling(
            p.getFileName.toString + "." + java.util.UUID.randomUUID + ".tmp")
          Files.write(tmp, r.getAs[Array[Byte]](1))
          Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    missing.size
  }

  /** Point lookup through the bloom sidecars: open ONLY the files whose
    * bloom admits at least one probe key — plus files without a bloom,
    * which can never be skipped. False positives cost a doomed file
    * read, never a wrong row (the exact `isin` filter still applies);
    * false negatives don't exist, so a missing row is a true absence.
    */
  def readPoint(s: SparkSession, root: Path, n: Int, keyCol: String,
                keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "readPoint needs at least one probe key")
    val (datas, dels) = dataAndDeletes(root, n)
    // sidecars answer membership for their DECLARED column only: a probe
    // on any other column must not consult them (k-bloom probed with v's
    // value can wrongly skip), and an unmarked store is unusable
    val bloomsUsable = bloomColumn(root).contains(keyCol)
    val picked = datas.filter { e =>
      val p = bloomPath(root, e.relPath)
      if (!bloomsUsable || !Files.exists(p)) true // unknown: must read
      else {
        val in = Files.newInputStream(p)
        val bloom = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
        keys.exists(bloom.mightContainLong)
      }
    }
    // tombstones apply here too: a bloom admits a DELETED key (blooms
    // are immutable per data file), the seq-aware anti-join removes it
    if (picked.isEmpty) readAt(s, root, n).limit(0)
    else mergeRead(s, root, picked, dels, _.filter(col(keyCol).isin(keys: _*)))
  }

  /** CHANGE DATA FEED over `(from, to]`: the NET row-level changes
    * between two snapshots, with retractions — each row tagged
    * `_change_type` = 'insert' (visible at `to`, absent at `from`) or
    * 'delete' (the OLD image of a row that existed at `from` and was
    * erased in the window). An UPDATE (upsert/MoR delta) appears as its
    * delete+insert pair; a row both inserted and erased INSIDE the
    * window appears as neither (it existed at neither boundary).
    *
    * Resolution is manifest-driven and O(increment):
    *  - inserts = the window's ADDED data files, with the window's own
    *    tombstones applied under the sequence rule (a later tombstone in
    *    the window erases an earlier add; pre-window tombstones never
    *    touch window-added files — their seq is smaller);
    *  - deletes = the `from` state SEMI-JOINED to the window's tombstone
    *    keys (only rows that really existed get retracted), reading only
    *    the files whose zone maps/blooms the keys cannot skip is the
    *    caller's pruning opportunity; the join itself broadcasts the
    *    O(deleted keys) tombstone relation.
    *
    * REWRITE windows (dropped data files — compaction/overwrite) refuse
    * loudly, exactly like [[graft.sources.SnapshotDiff]]: a rewrite is
    * not a row-level change and would surface every rewritten row as
    * churn. This is the retraction-aware complement of [[readChanges]]
    * — the consumer shape an incremental curation pipeline (E22) needs
    * when upstream mutates rather than only appends.
    */
  def readChangeFeed(s: SparkSession, root: Path, from: Int, to: Int): DataFrame = {
    require(to > from && from >= 0, s"need 0 <= from < to, got ($from, $to]")
    val beforeAll = if (from == 0) Nil else manifest(root, from)
    val beforePaths = beforeAll.filterNot(isDelete).map(_.relPath).toSet
    val (afterDels, afterDatas) = manifest(root, to).partition(isDelete)
    val dropped = beforePaths.diff(afterDatas.map(_.relPath).toSet)
    require(dropped.isEmpty,
      s"snapshot window ($from, $to] of $root rewrote ${dropped.size} data file(s) " +
        "(compaction/overwrite): a rewrite is not a row-level change — read the " +
        "feed across windows that do not straddle maintenance")
    val addedDatas = afterDatas.filterNot(e => beforePaths(e.relPath))
    val windowDels = afterDels.filter(e => e.seq > from && e.seq <= to)
    val inserts: Option[DataFrame] =
      if (addedDatas.isEmpty) None
      else Some(mergeRead(s, root, addedDatas, windowDels, identity)
        .withColumn("_change_type", lit("insert")))
    val deletes: Option[DataFrame] =
      if (windowDels.isEmpty || from == 0) None
      else if (windowDels.exists(isPosDelete)) {
        // POSITION-tombstone window (key-less deletes; the store is
        // pos-only — mixing is refused at write): a retraction is a row
        // that was VISIBLE at `from` and is killed by a window
        // tombstone. Read only the from-files the window tombstones
        // NAME, with the reader's own (file, ordinal) coordinates;
        // subtract the ordinals already dead at `from` (a row dead at
        // `from` was never visible, and the tombstone writer may
        // re-name dead rows — its scan is raw by design); then keep
        // exactly the window-bitmap hits. Both probes are broadcast
        // bitmap tests — no anti/semi joins.
        val priorDels = beforeAll.filter(isDelete)
        // both sets stay in the store's bitmap slot: this read applies both
        def bitmaps(dels2: Seq[ManifestEntry]) = posBitmaps(s, root, dels2, priorDels ++ windowDels)
        def deleted(dels2: Seq[ManifestEntry]): org.apache.spark.sql.Column = {
          val bc = s.sparkContext.broadcast(bitmaps(dels2))
          org.apache.spark.sql.GraftBridge.column(
            graft.functions.PosDeleted(
              org.apache.spark.sql.GraftBridge.expression(col("__file")),
              org.apache.spark.sql.GraftBridge.expression(col("__pos")), bc))
        }
        val named = bitmaps(windowDels).keySet
        val targets = beforeAll.filterNot(isDelete).filter(e => named(e.relPath))
        if (targets.isEmpty) None
        else {
          val prefix = posPrefix(root)
          val withPos = scan(s, root, targets)
            .select(col("*"),
              substring(col("_metadata.file_path"), prefix.length + 1, Int.MaxValue)
                .as("__file"),
              col("_metadata.row_index").as("__pos"))
          val visible =
            if (priorDels.isEmpty) withPos
            else withPos.filter(!deleted(priorDels))
          Some(visible.filter(deleted(windowDels))
            .drop("__file", "__pos")
            .withColumn("_change_type", lit("delete")))
        }
      } else {
        val keys = scan(s, root, windowDels).distinct()
        // broadcast only when the manifest proves the window's tombstones
        // small; a 100M-key retraction window drops the hint and lets
        // AQE pick the join (the semi-join is correct either way) instead
        // of OOMing the driver on a forced broadcast build
        val hinted =
          if (windowDels.map(_.bytes).sum <= (64L << 20)) broadcast(keys) else keys
        Some(readAt(s, root, from)
          .join(hinted, keys.columns.toIndexedSeq, "left_semi")
          .withColumn("_change_type", lit("delete")))
      }
    (inserts, deletes) match {
      case (Some(i), Some(d)) => i.unionByName(d, allowMissingColumns = true)
      case (Some(i), None)    => i
      case (None, Some(d))    => d
      case (None, None)       => readAt(s, root, to).limit(0)
        .withColumn("_change_type", lit(""))
    }
  }

  /** MATERIALIZED change-feed window — the catalog streaming path's
    * batch unit. The DSv2 [[org.apache.spark.sql.connector.read
    * .streaming.MicroBatchStream]] contract plans FILE partitions, but a
    * change-feed window is a JOIN plan ([[readChangeFeed]]); the bridge
    * is the open formats' own answer — CHANGE DATA FILES: compute the
    * window's feed once, write it under `changefeeds/<from>-<to>/`
    * (shaped to `schemaWithCf`: the table's physical columns +
    * `_change_type` last), and serve every read of that window as a
    * plain vectorized parquet scan of the staged files.
    *
    * Idempotent and replay-stable: staging goes to a temp dir and
    * ATOMIC-RENAMES into place (a racing second materializer loses the
    * rename and reuses the winner's files); a checkpointed restart
    * re-serves the identical immutable files, and if maintenance GC'd
    * the cache ([[removeOrphans]] ages it out) the recompute from
    * immutable manifests reproduces the same rows. Cost is
    * O(changed rows) per window — the size of the feed itself — paid
    * once and amortized over replays, against Delta-CDF-style
    * write-time materialization which pays it on every commit whether
    * or not anyone streams.
    */
  def changeFeedFiles(s: SparkSession, root: Path, from: Int, to: Int,
                      schemaWithCf: StructType,
                      skipRewrites: Boolean = false): Seq[Path] = {
    val dir = root.resolve("changefeeds").resolve(s"$from-$to")
    if (!Files.exists(dir)) {
      if (skipRewrites) {
        // skip the window WHOLE (never partially), like the V1 source:
        // a rewrite window materializes as an empty feed
        val before: Set[String] =
          if (from <= 0) Set.empty
          else manifest(root, from).filterNot(isDelete).map(_.relPath).toSet
        val after = manifest(root, to).filterNot(isDelete).map(_.relPath).toSet
        if (before.diff(after).nonEmpty) {
          Files.createDirectories(dir)
          return Nil
        }
      }
      val feed = readChangeFeed(s, root, from, to)
      val have = feed.columns.toSet
      val shaped = feed.select(schemaWithCf.fields.toIndexedSeq.map { f =>
        if (have(f.name)) col(f.name)
        else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      }: _*)
      val tmp = root.resolve("changefeeds").resolve(
        ".tmp-" + java.util.UUID.randomUUID().toString)
      Files.createDirectories(tmp.getParent)
      shaped.write.mode("overwrite").parquet(tmp.toString)
      var moved = false
      try {
        Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        moved = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.FileSystemException if Files.exists(dir) =>
          // lost the race: the winner's files are the batch
      } finally {
        // any unmoved staging is garbage NOW — the lost race above, and
        // equally a move that failed for any other reason (the caller
        // sees the rethrow; the bytes must not wait for the mtime GC).
        // A crash between write and rename still leaves a .tmp-* dir,
        // which removeOrphans' changefeed sweep ages out like any
        // window dir.
        if (!moved && Files.exists(tmp)) {
          val walk = Files.walk(tmp)
          try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
          finally walk.close()
        }
      }
    } else {
      // SERVING an existing window refreshes its mtime: removeOrphans
      // ages window dirs by mtime, and a LIVE stream replaying an old
      // window (checkpoint lag) must not have its planned files swept
      // between plan and execution. Age now means "unread for the
      // cutoff", not "computed long ago". Best-effort (read-only FS ok).
      try Files.setLastModifiedTime(dir,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () }
    }
    listParquetRecursive(dir)
  }

  def readCurrent(s: SparkSession, root: Path): DataFrame =
    readAt(s, root, currentId(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root")))

  /** A5-style integrity replay over snapshot `n`'s manifest: recompute
    * every file's MD5 and size, return the mismatches (empty = intact).
    */
  def verify(root: Path, n: Int): Seq[(String, String, String)] = {
    val entries = manifest(root, n)
    val present = entries.filter(e => Files.exists(root.resolve(e.relPath)))
    val md5s = md5hexAll(present.map(e => root.resolve(e.relPath)))
    entries.flatMap { e =>
      val p = root.resolve(e.relPath)
      if (!Files.exists(p)) Seq((e.relPath, e.md5, "MISSING"))
      else {
        val actual = md5s(p)
        if (actual != e.md5 || Files.size(p) != e.bytes) Seq((e.relPath, e.md5, actual))
        else Nil
      }
    }
  }

  /** Incremental (CDC-style) read between snapshots: the rows ADDED
    * after `from` as of `to`, resolved by MANIFEST DIFF — only files
    * present in `to`'s manifest and absent from `from`'s are opened.
    * Because appends reuse prior files verbatim and never rewrite them,
    * the file-set difference IS the row-set difference: a consumer that
    * processes `readChanges(n-1, n)` per release sees every row exactly
    * once, with I/O proportional to the increment, never the table —
    * the consumption pattern a training-data pipeline runs per release.
    */
  def readChanges(s: SparkSession, root: Path, from: Int, to: Int): DataFrame = {
    val before = manifest(root, from).map(_.relPath).toSet
    // additions only — a delete commit's tombstone file is not row data;
    // consume deletions via readDeleteChanges
    val added = manifest(root, to).filterNot(isDelete).filterNot(e => before(e.relPath))
    if (added.isEmpty) readAt(s, root, to).limit(0)
    else scan(s, root, added)
  }

  /** The deletion half of CDC: keys tombstoned between `from` and `to`
    * (the delete files added in that interval). A downstream consumer
    * applies `readChanges` as upserts and these as deletes and tracks
    * the table exactly.
    */
  def readDeleteChanges(s: SparkSession, root: Path, from: Int, to: Int): DataFrame = {
    val before = manifest(root, from).map(_.relPath).toSet
    val added = manifest(root, to).filter(isDelete).filterNot(e => before(e.relPath))
    if (added.isEmpty)
      throw new IllegalArgumentException(s"no delete commits between $from and $to")
    scan(s, root, added).distinct()
  }

  /** Compaction as a snapshot commit — the small-files cure that append
    * publishing (and every incremental load at 100 TB) eventually needs,
    * run under the SAME isolation contract as any release: rewrite the
    * current snapshot's row set into `targetFiles` larger immutable
    * files, publish as the next id (append = false ⇒ its manifest
    * references ONLY the rewritten files). Readers pinned to any earlier
    * snapshot keep their exact small-file view — compaction is invisible
    * to them by immutability — and the superseded files stay on disk
    * until retention GC [[expire]] proves no retained manifest
    * references them. A row-count parity gate runs BEFORE the pointer
    * swap (the staged rewrite is re-read from its own files), so a lost
    * or duplicated row aborts with the store still on the old snapshot —
    * the load-then-verify discipline (A5/A18) applied to maintenance.
    */
  def compact(s: SparkSession, root: Path, targetFiles: Int,
              statsCol: Option[String] = None): Int = {
    val curId = currentId(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    val before = readAt(s, root, curId).count()
    val cur = readAt(s, root, curId)
    // with a stats column, compaction doubles as RE-CLUSTERING: range
    // partitioning makes the rewritten files' zone maps disjoint, which
    // is what turns readPruned into an O(range) scan
    val rewritten = statsCol match {
      case Some(c) => cur.repartitionByRange(targetFiles, col(c))
      case None    => cur.repartition(targetFiles)
    }
    val id = stage(s, root, rewritten, append = false, statsCol)
    val after = readAt(s, root, id).count()
    require(after == before,
      s"compaction row-count drift: $before -> $after; snapshot $id NOT committed")
    commit(root, id, lastBatchId(root)) // keep the streaming batch watermark
    id
  }

  /** Retention GC — the layer's ONLY deletion: drop every snapshot id
    * below `keepFrom`, deleting (a) their manifest files and (b) every
    * data file referenced by an expired manifest and by NO retained one.
    * Retained snapshots are untouched byte-for-byte (readers pinned to
    * them never notice), files shared into retained manifests survive,
    * and in-flight staged-but-uncommitted data is never swept (only
    * expired-manifest-listed files are candidates). Writer-side
    * operation by the layer's single-writer contract — never run
    * concurrently with [[stage]]. Returns (files deleted, bytes freed).
    */
  /** AGE-based retention on top of [[expire]]: reclaim every snapshot
    * whose commit instant (`#ts` stamp — the same one `TIMESTAMP AS
    * OF` resolves) is strictly older than `cutoffMillis`. The current
    * snapshot survives unconditionally (a table must stay readable
    * whatever the cutoff) and refs pin history exactly as in
    * [[expire]]. Stamps are monotone along a single-writer chain, so
    * the cutoff resolves to one keep-from boundary.
    */
  def expireOlderThan(root: Path, cutoffMillis: Long): (Int, Long) = {
    val cur = currentId(root).getOrElse(return (0, 0L))
    val keepFrom = (1 to cur)
      .filter(n => Files.exists(root.resolve("manifests").resolve(s"manifest-$n")))
      .find(n => commitTsMillis(root, n) >= cutoffMillis)
      .getOrElse(cur)
    expire(root, math.min(keepFrom, cur))
  }

  /** CHANGEFEED CONSUMER REGISTRY — the retention floor that turns the
    * documented unreplayable-window hazard into a refusal. A streaming
    * consumer registers under `consumers/<name>` with the snapshot id
    * of its last COMMITTED offset (the DSv2 stream writes it on every
    * `commit(end)` when the read carries `.option("consumer", name)`);
    * [[expire]] then declines to drop any manifest a registered
    * consumer could still replay from — a checkpointed restart resumes
    * at that offset and needs manifest(offset) for the window's before
    * state. The registry is advisory-by-opt-in (an unregistered stream
    * keeps today's retention-outlives-lag convention) but CONTRACTUAL
    * once registered: retention cannot silently strand it. Names are
    * path-safe by construction; offsets only ever advance (a replayed
    * commit never lowers the floor).
    */
  def registerConsumer(root: Path, name: String, offset: Int): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"consumer name '$name' is not path-safe ([A-Za-z0-9._-] only)")
    val dir = root.resolve("consumers")
    Files.createDirectories(dir)
    val f = dir.resolve(name)
    // monotone: a racing replay of an older batch must not lower the
    // floor below what a newer commit already claimed safe to drop
    val prior = consumerOffsetOf(f)
    if (!prior.exists(_ >= offset)) atomicWrite(f, offset.toString)
  }

  def unregisterConsumer(root: Path, name: String): Boolean =
    Files.deleteIfExists(root.resolve("consumers").resolve(name))

  private def consumerOffsetOf(f: Path): Option[Int] =
    if (!Files.exists(f)) None
    else scala.util.Try(new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt).toOption

  /** The lowest registered consumer offset (and who holds it). */
  def consumerFloor(root: Path): Option[(String, Int)] = {
    val dir = root.resolve("consumers")
    if (!Files.exists(dir)) None
    else {
      val l = Files.list(dir)
      val offs = try l.iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(p => consumerOffsetOf(p).map(o => (p.getFileName.toString, o)))
      finally l.close()
      offs.minByOption(_._2)
    }
  }

  def expire(root: Path, keepFrom: Int,
             allowNoPointer: Boolean = false): (Int, Long) = {
    // the consumer floor: a registered changefeed consumer checkpointed
    // at offset X resumes its next window as (X, latest] and needs
    // manifest(X) for the before state — keepFrom may not exceed it
    // (max(X, 1): an offset-0 consumer has consumed nothing; keepFrom=1
    // expires nothing and stays legal)
    consumerFloor(root).foreach { case (cname, off) =>
      val needed = math.max(off, 1)
      if (keepFrom > needed) throw new IllegalStateException(
        s"expire(keepFrom=$keepFrom) on $root would drop manifests the " +
          s"registered changefeed consumer '$cname' (offset $off) still " +
          "needs for replay — advance its checkpoint or unregister it first")
    }
    val manifestIds = manifestIdsOnDisk(root)
    if (manifestIds.isEmpty) return (0, 0L)
    // A store without a pointer is either (a) a standalone store whose
    // releases are all staged-but-uncommitted — the scaladoc promises
    // those are NEVER swept, so GC is a no-op — or (b) a catalog table,
    // whose commits live in TxnCatalog versions: only the catalog's own
    // expire may assert that (allowNoPointer) and bound by the newest
    // manifest instead.
    val floor = currentId(root).getOrElse {
      if (!allowNoPointer) return (0, 0L)
      manifestIds.max
    }
    require(keepFrom <= floor, s"keepFrom $keepFrom is beyond $floor")
    // a ref'd manifest (branch head or tag) is pinned history: neither
    // it nor its files are reclaimable while the ref exists
    val refIds = allRefIds(root)
    val (expired, retained) = manifestIds.partition(i => i < keepFrom && !refIds(i))
    val keepFiles = retained.flatMap(manifest(root, _)).map(_.relPath).toSet
    var n = 0
    var bytes = 0L
    val parents = scala.collection.mutable.LinkedHashSet[Path]()
    val rootNorm = root.toAbsolutePath.normalize
    expired.flatMap(manifest(root, _)).map(_.relPath).distinct
      .filterNot(keepFiles).foreach { rel =>
        val p = root.resolve(rel)
        // a shallow clone's FOREIGN reference (`../src/...`) is never
        // this store's to reclaim: its GC owns only paths inside its
        // own root — deleting through the relative ref would reach
        // into the SOURCE table's data
        if (p.toAbsolutePath.normalize.startsWith(rootNorm) && Files.exists(p)) {
          bytes += Files.size(p); Files.delete(p); n += 1; parents += p.getParent
          // a bloom sidecar is metadata OF the data file: it dies with
          // it (and shares its foreign-path protection)
          val b = bloomPath(root, rel)
          if (Files.exists(b)) { bytes += Files.size(b); Files.delete(b) }
        }
      }
    // crumb sweep: a staging dir whose LAST data file was just reclaimed
    // holds only writer crumbs (_SUCCESS, .crc) — remove them and the
    // dir itself. Dirs still holding any parquet (shared into retained
    // manifests, or staged-uncommitted) are untouched.
    parents.foreach { dir =>
      if (Files.exists(dir)) {
        val listing = Files.list(dir)
        val rest = try listing.iterator().asScala.toSeq finally listing.close()
        if (!rest.exists(_.getFileName.toString.endsWith(".parquet"))) {
          rest.foreach(Files.deleteIfExists(_))
          Files.deleteIfExists(dir)
        }
      }
    }
    // partitioned layouts nest one level deeper (snap-N/_pv=V/part-*);
    // a snap dir whose partition subdirs were all reclaimed holds only
    // crumbs — verified parquet-free RECURSIVELY before anything goes
    parents.toSeq.map(_.getParent).filter(p => p != null && p.getParent != null &&
        p.getParent.getFileName.toString == "data").distinct.foreach { dir =>
      if (Files.exists(dir) && listParquetRecursive(dir).isEmpty) {
        val walk = Files.walk(dir)
        try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
    }
    expired.foreach(i => Files.delete(root.resolve("manifests").resolve(s"manifest-$i")))
    (n, bytes)
  }

  /** A31 query `snapshot_read`: a two-release load published through the
    * snapshot layer — release 1 is a partial load (order keys ≢ 0 mod 3),
    * release 2 appends the remainder REUSING release 1's files via the
    * manifest — then both snapshots read back THROUGH their manifests
    * and aggregated. The oracle states each release's expected state
    * directly from the source table, so the hash gate proves
    * `readAt(n)` equals release n's state exactly (time travel is
    * lossless) and that the append shared, not rewrote, history. The
    * tiny per-status aggregate (8 rows) is collected and re-lifted so
    * the scratch store can be deleted before returning.
    */
  def snapshotRead(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snap")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.filter(col("o_orderkey") % 3 =!= 0))
      publish(s, root, orders.filter(col("o_orderkey") % 3 === 0), append = true)
      val out = (1 to 2).flatMap { n =>
        readAt(s, root, n)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(n.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("snapshot_id", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_changes`: the same two-release store, consumed
    * INCREMENTALLY — the release-2 increment read via manifest diff
    * (release 1's files are never opened). The oracle states the
    * remainder (keys ≡ 0 mod 3) directly, so the hash gate proves
    * exactly-once incremental consumption: the file-set diff delivers
    * precisely the appended rows.
    */
  def snapshotChanges(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapc")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.filter(col("o_orderkey") % 3 =!= 0))
      publish(s, root, orders.filter(col("o_orderkey") % 3 === 0), append = true)
      val out = readChanges(s, root, 1, 2)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
        .collect()
        .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_compact`: six incremental releases (each
    * published as 4 immutable files — 24 small files by snapshot 6, the
    * append-heavy shape that murders 100 TB scan planning) compacted
    * into 3 files as snapshot 7 under the atomic-commit contract.
    * Output states, for the pre- and post-compaction snapshots, the
    * manifest's FILE COUNT alongside the full per-status aggregate; the
    * oracle pins the file counts literally (24 → 3) and both aggregates
    * to the source table, so the hash gate proves compaction rewrote
    * the layout and nothing else — same rows, same money, fewer files,
    * and time travel to the small-file history intact (snapshot 6 is
    * read AFTER the compaction commit).
    */
  def snapshotCompact(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapk")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      (0 until 6).foreach { k =>
        publish(s, root, orders.filter(col("o_orderkey") % 6 === k).repartition(4),
          append = k > 0)
      }
      val compacted = compact(s, root, targetFiles = 3)
      val out = Seq(6, compacted).flatMap { n =>
        val nFiles = manifest(root, n).size.toLong
        readAt(s, root, n)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(n.toLong, nFiles, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("n_files", LongType),
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("snapshot_id", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_prune`: zone-map file skipping through the
    * manifest. Orders published range-clustered on `o_orderkey` into 8
    * files with per-file (min, max) stats; a key-range read resolves
    * pointer → manifest → zone maps and opens ONLY intersecting files
    * (a `require` proves strictly fewer than the manifest's total were
    * opened BEFORE the answer is trusted — at sf0.1 that is 1-2 of 8).
    * The oracle is the plain filtered aggregate over the source table,
    * so the hash gate proves pruning is pure I/O savings: same rows,
    * same money, a fraction of the files. At a million-file table this
    * read never lists a directory and never fetches a skipped footer.
    */
  def snapshotPrune(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapp")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.repartitionByRange(8, col("o_orderkey")),
        statsCol = Some("o_orderkey"))
      val pruned = readPruned(s, root, 1, "o_orderkey", 1000L, 2999L)
      val opened = pruned.inputFiles.length
      val total = manifest(root, 1).size
      require(opened < total, s"zone maps skipped nothing: opened $opened of $total")
      val out = pruned.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
        .collect()
        .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31×C query `stream_snapshot_ingest`: the lakehouse write path —
    * a REAL event stream (4 file-source micro-batches) lands in the
    * snapshot store through `foreachBatch(publishBatch)`, one atomic
    * appended snapshot per micro-batch. In-query proofs before the
    * answer: exactly 4 snapshots exist (one per batch), and re-delivering
    * the last batch id — foreachBatch's at-least-once replay after a
    * crash between sink commit and checkpoint write — is a no-op with
    * the pointer unmoved. The final table state then hash-matches the
    * batch aggregate of the whole source: every event exactly once
    * through the streaming commit protocol. Downstream, each batch is a
    * first-class release: time travel, per-batch CDC via readChanges,
    * compaction after ingest churn — pinned in SnapshotSpec.
    */
  def streamSnapshotIngest(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapi")
    try {
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      graft.streaming.StreamRun.toForeachBatch(s, ev, "ts", 4, df => df,
        (batch, bid) => { publishBatch(s, root, batch, bid); () })
      val nSnaps = currentId(root).getOrElse(0)
      require(nSnaps == 4, s"expected one snapshot per micro-batch, got $nSnaps")
      val last = lastBatchId(root).getOrElse(-1L)
      require(!publishBatch(s, root, readCurrent(s, root).limit(1), last),
        "replayed micro-batch must be skipped")
      require(currentId(root).contains(nSnaps), "replay must not move the pointer")
      val out = readCurrent(s, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .collect()
        .map(r => Row(nSnaps.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val schema = StructType(Seq(
        StructField("n_snapshots", LongType), StructField("event_type", StringType),
        StructField("n", LongType), StructField("sum_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("event_type")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_point`: bloom-sidecar point lookups where zone
    * maps are provably useless — orders HASH-distributed over 8 files
    * (every file's key range spans the whole table), then three probe
    * keys answered by opening only the files whose blooms admit them,
    * and one absent key (max + 12345) answered by opening ZERO files —
    * both facts `require`d in-query before the rows are trusted. The
    * oracle restates the probe via plain SQL (lowest three keys ≥ 1000,
    * a deterministic self-join the DuckDB side replays), so the hash
    * gate proves bloom skipping returns exactly the true rows: no
    * false-negative loss, FPs at most cost I/O. The point-read path a
    * feature store or dedup-by-id check runs against a 100 TB table.
    */
  def snapshotPoint(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapb")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.repartition(8, col("o_orderkey")))
      buildBlooms(s, root, 1, "o_orderkey")
      val probes = orders.filter(col("o_orderkey") >= 1000)
        .orderBy("o_orderkey").limit(3)
        .collect().map(_.getLong(0)).toSeq
      val absent = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 12345L
      val hit = readPoint(s, root, 1, "o_orderkey", probes)
      val total = manifest(root, 1).size
      require(hit.inputFiles.length < total,
        s"blooms skipped nothing: opened ${hit.inputFiles.length} of $total")
      require(readPoint(s, root, 1, "o_orderkey", Seq(absent)).inputFiles.isEmpty,
        "an absent key must open zero files")
      val out = hit.collect()
        .map(r => Row(r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("o_orderkey")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_delete`: the GDPR shape — row-level deletes on
    * immutable files. Snapshot 1 publishes orders; snapshot 2 deletes
    * every key ≡ 0 (mod 7) as ONE tombstone commit (no data file
    * touched); snapshot 3 is a compaction that applies the tombstones
    * physically. The output states, per snapshot, the manifest's
    * tombstone-file count and the full per-status aggregate; the oracle
    * pins tombstone counts literally (0 → 1 → 0) and the aggregates to
    * the source (full at 1, filtered at 2 AND 3), so the hash gate
    * proves: merge-on-read removes exactly the tombstoned rows,
    * pre-delete history stays time-travelable, and compaction folds the
    * deletes in without changing the visible table.
    */
  def snapshotDelete(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapd")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.repartition(4))
      publishDeletes(s, root,
        orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
      compact(s, root, targetFiles = 2)
      val out = (1 to 3).flatMap { n =>
        val nTombstones = manifest(root, n).count(isDelete).toLong
        readAt(s, root, n)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(n.toLong, nTombstones, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("n_tombstones", LongType),
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("snapshot_id", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_upsert`: MERGE INTO as one atomic commit.
    * Snapshot 1 publishes orders; snapshot 2 upserts every key ≡ 0
    * (mod 5) with its cents bumped by +7 — tombstone + replacement rows
    * in a single pointer rename. The oracle pins snapshot 1 to the
    * original aggregates and snapshot 2 to counts UNCHANGED (each
    * upserted key appears exactly once — no duplicate from old+new
    * files coexisting, no loss from the tombstone erasing its own
    * commit) with sums shifted by exactly 7 per upserted row.
    */
  def snapshotUpsert(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapu")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.repartition(4))
      publishUpsert(s, root,
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("cents", col("cents") + 7),
        "o_orderkey")
      val out = (1 to 2).flatMap { n =>
        readAt(s, root, n)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(n.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("snapshot_id", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_cdf`: the CHANGE DATA FEED with retractions —
    * snapshot 1 publishes orders; snapshot 2 UPSERTS (every key ≡ 0
    * mod 10 updated to status 'U' with cents+7, plus brand-new negative
    * keys for every key ≡ 0 mod 50); snapshot 3 DELETES every key ≡ 0
    * mod 7. `readChangeFeed(1, 3)` must emit exactly: a 'delete' OLD
    * image for every key that existed at 1 and was erased in the window
    * (upserted ∪ deleted, each once), and an 'insert' NEW image for
    * every window-added row STILL VISIBLE at 3 — an update whose key the
    * later delete erases (k ≡ 0 mod 70) appears as delete-only, its
    * short-lived new image as neither. The oracle restates the whole
    * feed from the source table; the hash gate proves net-change
    * semantics, retractions included — the consumer shape an
    * incremental pipeline needs when upstream MUTATES, where
    * `readChanges` (A31) only serves appends.
    */
  def snapshotCdf(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapcdf")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.repartition(4))
      val upserts = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("cents", col("cents") + 7)
        .unionByName(orders.filter(col("o_orderkey") % 50 === 0)
          .select((-col("o_orderkey") - 1).as("o_orderkey"),
            lit("I").as("o_orderstatus"), col("cents")))
      publishUpsert(s, root, upserts, "o_orderkey")
      publishDeletes(s, root,
        orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
      val feed = readChangeFeed(s, root, 1, 3)
      val out = feed.groupBy("_change_type", "o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"),
          sum(col("o_orderkey")).as("sum_keys"))
        .collect()
        .map(r => Row(r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .toSeq
      val schema = StructType(Seq(
        StructField("change_type", StringType),
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType),
        StructField("sum_keys", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("change_type", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  val snapshotCdfOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    feed AS (
      -- retractions: every key that existed at snapshot 1 and was
      -- erased in the window (upserted or deleted), OLD image, once
      SELECT 'delete' AS change_type, o_orderstatus, cents, k FROM b
      WHERE k % 10 = 0 OR k % 7 = 0
      UNION ALL
      -- inserts: window-added rows still visible at snapshot 3 — the
      -- updates the later delete did not erase, plus the new keys
      SELECT 'insert', 'U', cents + 7, k FROM b
      WHERE k % 10 = 0 AND NOT (k % 7 = 0)
      UNION ALL
      SELECT 'insert', 'I', cents, -k - 1 FROM b WHERE k % 50 = 0)
    SELECT change_type, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM feed GROUP BY change_type, o_orderstatus
    ORDER BY change_type, o_orderstatus"""

  /** A31 query `snapshot_evolve`: schema evolution by append — release
    * 2 carries an ADDED `priority` column the release-1 files never
    * heard of. The merged current read surfaces it with NULLs on the
    * pre-evolution rows (coalesced to 'none' for the oracle), while
    * time travel to snapshot 1 reads only old files and keeps the OLD
    * 3-column shape — evolution is forward-only and history is
    * untouched, both pinned via an n_cols column the oracle states
    * literally. No rewrite, no migration job: the manifest is the
    * schema boundary.
    */
  def snapshotEvolve(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snape")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.filter(col("o_orderkey") % 3 =!= 0))
      publish(s, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("priority",
            when(col("o_orderkey") % 2 === 0, "hi").otherwise("lo")),
        append = true)
      def agg(n: Int, withPriority: Boolean) = {
        val df = readAt(s, root, n)
        val nCols = df.columns.length.toLong
        val shaped =
          if (withPriority) df.withColumn("priority", coalesce(col("priority"), lit("none")))
          else df.withColumn("priority", lit("n/a"))
        shaped.groupBy("priority", "o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(n.toLong, nCols, r.getString(0), r.getString(1),
            r.getLong(2), r.getLong(3)))
      }
      val out = agg(1, withPriority = false) ++ agg(2, withPriority = true)
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("n_cols", LongType),
        StructField("priority", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("snapshot_id", "priority", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_occ`: the optimistic commit protocol's three
    * behaviors, choreographed deterministically and proven by the hash
    * gate.
    *
    *  1. REBASE — two increments are BOTH staged against snapshot 1
    *     (neither sees the other's files; this is what concurrent
    *     stagers look like at commit time), then committed in turn: the
    *     second append rebases onto the first's manifest instead of
    *     clobbering it.
    *  2. CONFLICT — a compaction rewrite is staged against snapshot 3;
    *     a row-level delete then commits (snapshot 4). The rewrite's
    *     commit MUST throw: rebasing it would resurrect the deleted
    *     keys (rewritten files would outrank the tombstone's seq). The
    *     query requires the exception and discards the stale staging.
    *  3. RETRY — [[compactOcc]] re-runs from the new base and commits
    *     (snapshot 5) with zero further conflicts.
    *
    * The oracle states the final table directly (all orders minus the
    * deleted keys), plus the literal snapshot count and conflict count
    * — so a wrong rebase (lost append), a wrong rewrite (undeleted
    * keys) or a silently-skipped conflict all fail the driver gate.
    */
  def snapshotOcc(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapo")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.filter(col("o_orderkey") % 3 === 1))
      // both increments staged against base 1, committed after each other
      val stagedA = stageOcc(s, root, orders.filter(col("o_orderkey") % 3 === 2))
      val stagedB = stageOcc(s, root, orders.filter(col("o_orderkey") % 3 === 0))
      val idA = commitOcc(root, stagedA, OccAppend)
      val idB = commitOcc(root, stagedB, OccAppend)
      require(idA == 2 && idB == 3, s"append ids drifted: $idA, $idB")
      // stage a rewrite of snapshot 3, let a delete race it in
      val staleRewrite = stageOcc(s, root, readAt(s, root, idB).repartition(3))
      publishDeletes(s, root,
        orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"))
      val conflicts =
        try {
          commitOcc(root, staleRewrite, OccRewrite(idB))
          0L // would be a lost delete — the oracle will catch it too
        } catch {
          case _: CommitConflictException => discardStaged(root, staleRewrite); 1L
        }
      require(conflicts == 1L, "stale rewrite committed over a concurrent delete")
      val (cid, retries) = compactOcc(s, root, targetFiles = 3)
      require(cid == 5 && retries == 0, s"retry from fresh base: id $cid, $retries")
      val out = readAt(s, root, cid)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
        .collect()
        .map(r => Row(conflicts, cid.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val schema = StructType(Seq(
        StructField("conflicts", LongType), StructField("n_snapshots", LongType),
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_zorder`: multi-dimensional file skipping after
    * a z-order compaction. Orders land in a deliberately-unclustered
    * layout (8 hash-shuffled files), then [[compactZOrder]] rewrites
    * them Morton-ordered over (o_custkey, o_orderkey) with BOTH
    * columns' zone maps in the manifest. Two slab reads — a custkey
    * range and an orderkey range, each the bottom ⅛ of its dimension —
    * must BOTH open strictly fewer files than the manifest lists
    * (required in-query before the answer is trusted; single-column
    * clustering can only ever serve one of the two). The oracle states
    * both filtered aggregates directly from the source table with the
    * same max/8 bounds, so the hash gate proves pruning changed I/O and
    * nothing else.
    */
  def snapshotZorder(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapz")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.repartition(8))
      val (zid, conflicts) = compactZOrder(s, root, 8, "o_custkey", "o_orderkey")
      require(conflicts == 0, s"unexpected conflicts in a single-writer run")
      val Row(maxCust: Long, maxKey: Long) =
        orders.agg(max(col("o_custkey")).cast("long"),
          max(col("o_orderkey")).cast("long")).head
      val total = manifest(root, zid).size
      def slab(dim: String, c: String, hi: Long) = {
        val pruned = readPrunedOn(s, root, zid, c, 1L, hi)
        val opened = pruned.inputFiles.length
        require(opened < total, s"$c zone maps skipped nothing: $opened of $total")
        pruned.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(dim, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val out = slab("custkey", "o_custkey", maxCust / 8) ++
        slab("orderkey", "o_orderkey", maxKey / 8)
      val schema = StructType(Seq(
        StructField("dim", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("dim", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_overwrite`: dynamic partition overwrite under
    * the atomic-commit contract. Orders found the table partitioned by
    * o_orderstatus; release 2 replaces ONLY the 'F' partition with
    * recomputed rows (every cent total shifted by +11 — a visible,
    * deterministic change). The query requires, before trusting any
    * answer, that the untouched partitions' manifest entries are
    * byte-identical carries (same relPath AND same MD5 — file reuse,
    * not rewrite) and that no snapshot-1 'F' file survived into
    * snapshot 2. The oracle states both snapshots' per-status state
    * directly, so the hash gate proves the overwrite replaced exactly
    * one partition and time travel kept the pre-overwrite state.
    */
  def snapshotOverwrite(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapw")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publishOverwrite(s, root, orders, "o_orderstatus")
      publishOverwrite(s, root,
        orders.filter(col("o_orderstatus") === "F")
          .withColumn("cents", col("cents") + 11L),
        "o_orderstatus")
      val m1 = manifest(root, 1).map(e => e.relPath -> e.md5).toMap
      val m2 = manifest(root, 2)
      val (fFiles, carried) = m2.partition(_.relPath.contains("_pv=F"))
      require(fFiles.forall(_.seq == 2), "a snapshot-1 'F' file leaked into snapshot 2")
      require(carried.nonEmpty && carried.forall(e => m1.get(e.relPath).contains(e.md5)),
        "untouched partitions were rewritten, not carried")
      val out = (1 to 2).flatMap { n =>
        readAt(s, root, n)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(n.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("snapshot_id", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_branch`: branches and tags as named pointers.
    * Main is founded with keys ≡ 1 (mod 3); `dev` branches at snapshot
    * 1 and appends the ≡ 2 remainder; main independently appends ≡ 0;
    * `v1` tags the founding snapshot. The output states all four views
    * — main, dev, the tag, and main again after [[adoptBranch]] swaps
    * dev live — and the oracle states each from the source table, so
    * the hash gate proves lineage isolation (neither append leaked into
    * the other line), tag stability, and that adoption is exactly the
    * branch's state. In-query requires pin the ids and that expire
    * cannot reclaim the tag-pinned founding snapshot.
    */
  def snapshotBranch(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapb")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.filter(col("o_orderkey") % 3 === 1))
      createBranch(root, "dev", 1)
      createTag(root, "v1", 1)
      val devId = publishToBranch(s, root, "dev", orders.filter(col("o_orderkey") % 3 === 2))
      val mainId = publish(s, root, orders.filter(col("o_orderkey") % 3 === 0), append = true)
      require(devId == 2 && mainId == 3, s"global id allocation drifted: $devId, $mainId")
      def agg(ref: String, df: DataFrame) =
        df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
          .collect()
          .map(r => Row(ref, r.getString(0), r.getLong(1), r.getLong(2)))
      val before =
        agg("dev", readRefAt(s, root, "dev")) ++
          agg("main", readCurrent(s, root)) ++
          agg("v1", readRefAt(s, root, "v1"))
      val adopted = adoptBranch(root, "dev")
      require(adopted == devId, s"adopt must land on dev's head, got $adopted")
      // the tag pins snapshot 1 against GC even though keepFrom passes it
      expire(root, keepFrom = 2)
      require(verify(root, 1).isEmpty, "tag-pinned snapshot lost files to expire")
      val out = before ++ agg("zz_main_adopted", readCurrent(s, root))
      val schema = StructType(Seq(
        StructField("ref", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("ref", "o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_meta`: the `.snapshots` introspection relation
    * over a four-commit choreography (found 2 files → append 3 → delete
    * → compact back to 2), joined with each snapshot's visible row
    * count. File/fresh/tombstone counts come purely from manifests —
    * the oracle pins them as literals alongside SQL-computed row
    * counts, so the hash gate proves the metadata relation reports the
    * table's true structural history, including the delete commit
    * carrying all five data files forward and the compaction folding
    * the tombstone away.
    */
  def snapshotMeta(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_snapm")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.filter(col("o_orderkey") % 3 === 1).repartition(2))
      publish(s, root, orders.filter(col("o_orderkey") % 3 === 2).repartition(3),
        append = true)
      publishDeletes(s, root,
        orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"))
      compact(s, root, targetFiles = 2)
      val meta = metaSnapshots(s, root).collect()
      val out = meta.map { r =>
        val n = r.getLong(0).toInt
        Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          readAt(s, root, n).count())
      }.toSeq
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("n_data_files", LongType),
        StructField("n_delete_files", LongType), StructField("n_fresh", LongType),
        StructField("is_current", LongType), StructField("n_rows", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("snapshot_id")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A31 query `snapshot_wap`: write-audit-publish under the driver
    * gate. Main is founded with the even order keys; a DEFECTIVE
    * increment (odd keys, cents negated where key ≡ 1 mod 100) is
    * staged through [[publishAudited]] with a cents-positive audit —
    * it must be rejected with main bit-untouched and the staging fully
    * erased; the repaired increment must then pass and adopt. The
    * oracle states the final table (all orders, original money) plus
    * the SQL-computed defect count and the literal rejection count, so
    * the hash gate proves the audit gated exactly the bad release and
    * the good one landed whole.
    */
  def snapshotWap(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_wap")
    try {
      val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      publish(s, root, orders.filter(col("o_orderkey") % 2 === 0))
      val defective = orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("cents",
          when(col("o_orderkey") % 100 === 1, -col("cents")).otherwise(col("cents")))
      val centsPositive: DataFrame => Boolean =
        df => df.filter(col("cents") <= 0).count() == 0
      val badRows = defective.filter(col("cents") <= 0).count()
      require(badRows > 0, "the sabotage must produce defects at every SF")
      require(!publishAudited(s, root, defective, centsPositive),
        "a defective release passed the audit")
      require(currentId(root).contains(1), "rejection must leave main untouched")
      require(refId(root, "wap").isEmpty, "rejected audit branch not cleaned up")
      require(publishAudited(s, root, orders.filter(col("o_orderkey") % 2 === 1),
        centsPositive), "the repaired release failed the audit")
      val out = readCurrent(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
        .collect()
        .map(r => Row(badRows, 1L, r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val schema = StructType(Seq(
        StructField("bad_rows", LongType), StructField("rejected", LongType),
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("o_orderstatus")
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  val snapshotWapOracleSql: String = """
    WITH b AS (SELECT o_orderkey, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    m AS (SELECT CAST(sum(CASE WHEN o_orderkey % 2 = 1 AND o_orderkey % 100 = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS bad FROM b)
    SELECT m.bad AS bad_rows, CAST(1 AS BIGINT) AS rejected, o_orderstatus,
      CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM b, m GROUP BY m.bad, o_orderstatus ORDER BY o_orderstatus"""

  val snapshotMetaOracleSql: String = """
    WITH c AS (SELECT
        CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN o_orderkey % 3 IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n12,
        CAST(sum(CASE WHEN o_orderkey % 3 IN (1, 2) AND o_orderkey % 5 <> 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n12d
      FROM orders)
    SELECT CAST(v.snapshot_id AS BIGINT) AS snapshot_id,
      CAST(v.n_data_files AS BIGINT) AS n_data_files,
      CAST(v.n_delete_files AS BIGINT) AS n_delete_files,
      CAST(v.n_fresh AS BIGINT) AS n_fresh,
      CAST(v.is_current AS BIGINT) AS is_current,
      CASE v.snapshot_id WHEN 1 THEN c.n1 WHEN 2 THEN c.n12 ELSE c.n12d END AS n_rows
    FROM (VALUES (1, 2, 0, 2, 0), (2, 5, 0, 3, 0), (3, 5, 1, 1, 0), (4, 2, 0, 2, 1))
      v(snapshot_id, n_data_files, n_delete_files, n_fresh, is_current)
    CROSS JOIN c
    ORDER BY snapshot_id"""

  val snapshotBranchOracleSql: String = """
    WITH b AS (SELECT o_orderkey % 3 AS r, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT 'dev' AS ref, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM b WHERE r IN (1, 2) GROUP BY o_orderstatus
    UNION ALL
    SELECT 'main', o_orderstatus, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM b WHERE r IN (0, 1) GROUP BY o_orderstatus
    UNION ALL
    SELECT 'v1', o_orderstatus, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM b WHERE r = 1 GROUP BY o_orderstatus
    UNION ALL
    SELECT 'zz_main_adopted', o_orderstatus, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM b WHERE r IN (1, 2) GROUP BY o_orderstatus
    ORDER BY ref, o_orderstatus"""

  val snapshotOverwriteOracleSql: String = """
    WITH b AS (SELECT o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT CAST(1 AS BIGINT) AS snapshot_id, o_orderstatus,
      CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM b GROUP BY o_orderstatus
    UNION ALL
    SELECT CAST(2 AS BIGINT), o_orderstatus, CAST(count(*) AS BIGINT),
      CAST(sum(cents + CASE WHEN o_orderstatus = 'F' THEN 11 ELSE 0 END) AS BIGINT)
    FROM b GROUP BY o_orderstatus
    ORDER BY snapshot_id, o_orderstatus"""

  val snapshotZorderOracleSql: String = """
    WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    m AS (SELECT CAST(max(o_custkey) AS BIGINT) // 8 AS mc,
                 CAST(max(o_orderkey) AS BIGINT) // 8 AS mk FROM b)
    SELECT 'custkey' AS dim, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM b, m WHERE o_custkey BETWEEN 1 AND mc GROUP BY o_orderstatus
    UNION ALL
    SELECT 'orderkey', o_orderstatus, CAST(count(*) AS BIGINT),
      CAST(sum(cents) AS BIGINT)
    FROM b, m WHERE o_orderkey BETWEEN 1 AND mk GROUP BY o_orderstatus
    ORDER BY dim, o_orderstatus"""

  val snapshotOccOracleSql: String = """
    SELECT CAST(1 AS BIGINT) AS conflicts, CAST(5 AS BIGINT) AS n_snapshots,
      o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
    FROM orders WHERE o_orderkey % 5 <> 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  val snapshotEvolveOracleSql: String = """
    WITH b AS (SELECT o_orderkey, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(3 AS BIGINT) AS n_cols,
      'n/a' AS priority, o_orderstatus,
      CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM b WHERE o_orderkey % 3 <> 0 GROUP BY o_orderstatus
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(4 AS BIGINT),
      CASE WHEN o_orderkey % 3 <> 0 THEN 'none'
           WHEN o_orderkey % 2 = 0 THEN 'hi' ELSE 'lo' END,
      o_orderstatus, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM b GROUP BY 3, 4
    ORDER BY snapshot_id, priority, o_orderstatus"""

  val snapshotUpsertOracleSql: String = """
    WITH b AS (SELECT o_orderstatus, o_orderkey,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT CAST(1 AS BIGINT) AS snapshot_id, o_orderstatus,
      CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM b GROUP BY o_orderstatus
    UNION ALL
    SELECT CAST(2 AS BIGINT), o_orderstatus, CAST(count(*) AS BIGINT),
      CAST(sum(cents + CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE 0 END) AS BIGINT)
    FROM b GROUP BY o_orderstatus
    ORDER BY snapshot_id, o_orderstatus"""

  val snapshotDeleteOracleSql: String = """
    WITH full_agg AS (
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
      FROM orders GROUP BY o_orderstatus),
    del_agg AS (
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
      FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY o_orderstatus)
    SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(0 AS BIGINT) AS n_tombstones, * FROM full_agg
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), * FROM del_agg
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(0 AS BIGINT), * FROM del_agg
    ORDER BY snapshot_id, o_orderstatus"""

  val snapshotPointOracleSql: String = """
    SELECT o_orderkey, o_orderstatus,
      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderkey >= 1000
      ORDER BY o_orderkey LIMIT 3)
    ORDER BY o_orderkey"""

  val streamSnapshotIngestOracleSql: String = """
    SELECT CAST(4 AS BIGINT) AS n_snapshots, event_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type ORDER BY event_type"""

  val snapshotPruneOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  val snapshotCompactOracleSql: String = """
    WITH agg AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
      FROM orders GROUP BY o_orderstatus)
    SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
      CAST(n_files AS BIGINT) AS n_files, o_orderstatus, n, sum_total_cents
    FROM (VALUES (6, 24), (7, 3)) v(snapshot_id, n_files) CROSS JOIN agg
    ORDER BY snapshot_id, o_orderstatus"""

  val snapshotChangesOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  val snapshotReadOracleSql: String = """
    SELECT * FROM (
      SELECT 1 AS snapshot_id, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
      FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY o_orderstatus
      UNION ALL
      SELECT 2, o_orderstatus, CAST(count(*) AS BIGINT),
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM orders GROUP BY o_orderstatus)
    ORDER BY snapshot_id, o_orderstatus"""
}
