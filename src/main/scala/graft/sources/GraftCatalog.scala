package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath, Paths => JPaths, StandardCopyOption}
import java.util

import scala.collection.JavaConverters._

import graft.etl.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}

import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot layer as a Spark DSv2 [[TableCatalog]] — the last mile
  * of the open-table-format integration: after the `graft-snapshot`
  * data source (A33) served path-addressed reads/writes, this catalog
  * makes the layer a first-class SQL surface with NAMED tables:
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root = /warehouse
  *
  *   CREATE NAMESPACE graft.gold;
  *   CREATE TABLE graft.gold.orders (o_orderkey BIGINT, cents BIGINT);
  *   INSERT INTO graft.gold.orders SELECT ...;        -- appended release
  *   INSERT OVERWRITE graft.gold.orders SELECT ...;   -- rewrite commit
  *   SELECT * FROM graft.gold.orders VERSION AS OF 2; -- time travel
  *   SELECT * FROM graft.gold.orders VERSION AS OF 'audited';  -- ref
  *   DELETE FROM graft.gold.orders WHERE o_orderkey < 100;
  * }}}
  *
  * Layout: `root/<namespace dirs...>/<table>` is a plain A31 snapshot
  * store; a `_table` marker file (schema JSON + properties) makes a
  * directory a table (and distinguishes it from a namespace dir). All
  * data operations go through the layer's one-rename commit protocol —
  * the catalog adds NAMING and SQL statement semantics, never a second
  * commit path. Reads plan through [[SnapshotV2FileIndex]] under
  * Spark's own DSv2 parquet scan, so zone-map/bloom plan-time skipping,
  * parquet pushdown, column pruning and codegen all apply to
  * `SELECT ... FROM graft.ns.tbl` with zero reader options.
  *
  * `PARTITIONED BY (p)` (single identity column) maps to the layer's
  * value-pure `_pv=` layout — `INSERT OVERWRITE` in dynamic mode then
  * replaces exactly the partitions present in the query
  * ([[GraftPartitionedWriteBuilder]]). Deliberately NOT supported,
  * loudly: multi-column / transform partitioning, and renames across
  * namespaces of different depth only move directories — there is no
  * metastore to desynchronize, the filesystem IS the catalog (exactly
  * the reference's release-tree discipline, Base.pm:123-144).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var root: JPath = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"catalog '$name' requires option 'spark.sql.catalog.$name.root = <warehouse dir>'")
    root = JPaths.get(r)
    JFiles.createDirectories(root)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def nsPath(ns: Array[String]): JPath = ns.foldLeft(root)(_.resolve(_))

  private def tablePath(ident: Identifier): JPath =
    nsPath(ident.namespace()).resolve(ident.name())

  private def isTableDir(p: JPath): Boolean =
    JFiles.exists(p.resolve(GraftCatalog.Marker))

  // ---- atomic CTAS / RTAS: StagingTableCatalog ----

  /** Store-internal child dirs a crashed staged-CTAS leaves behind — a
    * dir containing ONLY these (and no `_table` marker) is reclaimable
    * by a new CREATE; anything else is presumed a namespace.
    */
  private def onlyStoreInternals(dir: JPath): Boolean = {
    val l = JFiles.list(dir)
    // name AND shape: a real table named `data` under a namespace would
    // match by name alone — store internals never carry table markers
    try l.iterator().asScala.forall { p =>
      val n = p.getFileName.toString
      (n == "data" || n == "manifests" || n == "refs" || n == "deletes" ||
        n == "consumers" || n == "changefeeds" ||
        n == "_current" || n.startsWith(".")) &&
        !(JFiles.isDirectory(p) && isTableDir(p))
    } finally l.close()
  }

  private def stageTable(ident: Identifier, schema: StructType,
                         partitions: Array[Transform],
                         properties: util.Map[String, String],
                         replace: Boolean, orCreate: Boolean): StagedTable = {
    val partProps = GraftCatalog.partitionProps(partitions, schema,
      Option(properties.get("morkey")))
    val dir = tablePath(ident)
    val existsAsTable = isTableDir(dir)
    if (!replace && existsAsTable) throw new TableAlreadyExistsException(
      (name() +: ident.namespace().toSeq :+ ident.name()))
    if (replace && !orCreate && !existsAsTable) throw new NoSuchTableException(
      name() +: ident.namespace().toSeq :+ ident.name())
    if (!existsAsTable && JFiles.exists(dir) && !onlyStoreInternals(dir))
      throw new IllegalArgumentException(
        s"cannot stage CREATE TABLE ${ident}: a namespace directory with this name exists")
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(name() +: ident.namespace().toSeq)
    val keep = properties.asScala.filter { case (k, _) =>
      !k.startsWith("option.") && k != TableCatalog.PROP_PROVIDER &&
        k != TableCatalog.PROP_OWNER && k != TableCatalog.PROP_EXTERNAL &&
        k != TableCatalog.PROP_LOCATION
    }.toMap
    // fail on bad property keys NOW, before ANY filesystem effect: the
    // marker write rejecting them AFTER the data committed would leave
    // an abort path no choice but to hurt something. Validate the
    // MERGED set — the PARTITIONED BY transform contributes
    // bucketcol/bucketn, which sortcol's coherence check needs
    GraftCatalog.validatePropertyKeys(keep ++ partProps)
    val createdDir = !JFiles.exists(dir)
    JFiles.createDirectories(dir)
    if (!existsAsTable) {
      // exclusive CTAS claim: two racing CREATE ... AS SELECT would both
      // pass the marker check, stage into ONE store, and OccAppend-merge
      // their rows — the claim file makes the second fail at stage time.
      // A crashed claim blocks later CTAS until the husk is dropped.
      try JFiles.createFile(dir.resolve(GraftCatalog.CtasClaim))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new TableAlreadyExistsException(
            (name() +: ident.namespace().toSeq :+ ident.name()))
      }
    }
    new GraftStagedTable(spark, name() +: ident.namespace().toSeq :+ ident.name(),
      dir, schema, keep ++ partProps, replace = existsAsTable, createdDir)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable =
    stageTable(ident, schema, partitions, properties, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable =
    stageTable(ident, schema, partitions, properties, replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    stageTable(ident, schema, partitions, properties, replace = true, orCreate = true)

  // ---- maintenance procedures: CALL cat.system.<proc>(...) ----

  private def resolveTableArg(tbl: String): JPath = {
    val parts = tbl.split('.')
    require(parts.nonEmpty && parts.forall(p =>
      p.nonEmpty && p != ".." && !p.contains('/') && !p.contains('\\')),
      s"illegal table reference '$tbl': segments must be plain identifiers " +
        "(a traversal could reach a store outside this catalog's root)")
    val dir = parts.foldLeft(root)(_.resolve(_))
    if (!isTableDir(dir)) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(name() +: parts.toSeq)
    dir
  }

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live under the 'system' namespace: CALL ${name()}.system.<proc>(...)")
    GraftProcedures.load(ident.name(), resolveTableArg)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = {
    val l = JFiles.list(root)
    try l.iterator().asScala
      .filter(p => JFiles.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString)).toArray.sortBy(_.mkString)
    finally l.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsPath(namespace)
    if (namespace.nonEmpty && (!JFiles.isDirectory(dir) || isTableDir(dir)))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    if (namespace.isEmpty) listNamespaces()
    else {
      val l = JFiles.list(dir)
      try l.iterator().asScala
        .filter(p => JFiles.isDirectory(p) && !isTableDir(p))
        .map(p => namespace :+ p.getFileName.toString).toArray.sortBy(_.mkString("."))
      finally l.close()
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (JFiles.isDirectory(nsPath(namespace)) && !isTableDir(nsPath(namespace)))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    Map("location" -> nsPath(namespace).toUri.toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException((name() +: namespace.toSeq).toArray)
    if (JFiles.exists(nsPath(namespace))) throw new IllegalArgumentException(
      s"cannot CREATE NAMESPACE ${namespace.mkString(".")}: a table with this name exists")
    // no ancestor may be a table: a namespace planted INSIDE a table's
    // store would pollute it and die silently with the table's DROP
    namespace.inits.drop(1).filter(_.nonEmpty).foreach { anc =>
      if (isTableDir(nsPath(anc))) throw new IllegalArgumentException(
        s"cannot CREATE NAMESPACE ${namespace.mkString(".")}: " +
          s"'${anc.mkString(".")}' is a table")
    }
    JFiles.createDirectories(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata (the filesystem is the catalog)")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val l = JFiles.list(dir)
    val nonEmpty = try l.iterator().hasNext finally l.close()
    if (nonEmpty && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
        (name() +: namespace.toSeq).toArray)
    GraftCatalog.rmTree(dir)
    true
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!JFiles.isDirectory(dir) || (namespace.nonEmpty && isTableDir(dir)))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    val l = JFiles.list(dir)
    try l.iterator().asScala
      .filter(p => JFiles.isDirectory(p) && isTableDir(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray.sortBy(_.name())
    finally l.close()
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(tablePath(ident))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val partProps = GraftCatalog.partitionProps(partitions, schema,
      Option(properties.get("morkey")))
    GraftCatalog.validateSortCol(Option(properties.get("sortcol")), schema,
      partProps.contains("bucketcol"))
    val dir = tablePath(ident)
    if (isTableDir(dir)) throw new TableAlreadyExistsException(
      (name() +: ident.namespace().toSeq :+ ident.name()))
    if (JFiles.exists(dir.resolve(GraftCatalog.CtasClaim)))
      throw new TableAlreadyExistsException(
        (name() +: ident.namespace().toSeq :+ ident.name()))
    if (JFiles.exists(dir)) throw new IllegalArgumentException(
      s"cannot CREATE TABLE ${ident}: a namespace directory with this name exists " +
        "(dropping a marker into it would orphan its child tables)")
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(name() +: ident.namespace().toSeq)
    JFiles.createDirectories(dir)
    // keep only durable, layer-meaningful properties (Spark adds
    // provider/owner bookkeeping we'd have to lie about on load)
    val keep = properties.asScala.filter { case (k, _) =>
      !k.startsWith("option.") && k != TableCatalog.PROP_PROVIDER &&
        k != TableCatalog.PROP_OWNER && k != TableCatalog.PROP_EXTERNAL &&
        k != TableCatalog.PROP_LOCATION
    }.toMap ++ partProps
    GraftCatalog.writeMarker(dir, schema, keep)
    loadTable(ident)
  }

  /** FunctionCatalog: the one function the catalog serves is `bucket`
    * — the transform identity storage-partitioned joins are matched on
    * (Spark resolves each side's reported `bucket(n, col)` through its
    * catalog and requires the bound functions to agree).
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** `VERSION AS OF x` — an integer pins a snapshot id; anything else
    * resolves as a branch/tag name (A31 refs), so
    * `VERSION AS OF 'audited'` reads a tag head.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(
      name() +: ident.namespace().toSeq :+ ident.name())
    val pin = version.toIntOption.getOrElse(
      Snapshots.refId(dir, version).getOrElse(
        throw new IllegalArgumentException(
          s"table ${ident} has no snapshot or ref named '$version'")))
    loadAt(ident, Some(pin))
  }

  /** `TIMESTAMP AS OF t` — Spark hands the evaluated instant as epoch
    * MICROseconds; it resolves to the latest snapshot committed at or
    * before that instant (each manifest carries its commit instant as
    * a `#ts` header, stamped atomically with the file list). The pin
    * then behaves exactly like `VERSION AS OF` that id: the snapshot's
    * own `#meta`-carried shape, read-only.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(
      name() +: ident.namespace().toSeq :+ ident.name())
    // floor, not round: an instant inside commit N's millisecond must
    // not resolve a snapshot committed after it
    val millis = Math.floorDiv(timestamp, 1000L)
    val pin = Snapshots.idAsOfMillis(dir, millis).getOrElse(
      throw new IllegalArgumentException(
        s"table ${ident} has no snapshot committed at or before " +
          s"epoch-millis $millis (TIMESTAMP AS OF predates the table)"))
    loadAt(ident, Some(pin))
  }

  private def loadAt(ident: Identifier, pin: Option[Int]): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) {
      // Iceberg-style metadata suffix: `cat.ns.t.snapshots` parses as
      // namespace [ns, t] + name "snapshots" — if the namespace path IS
      // a table, serve its metadata relation (manifest/ref introspection
      // only: O(#manifests) tiny driver-side reads, no data file opened)
      val base = nsPath(ident.namespace())
      if (ident.namespace().nonEmpty && isTableDir(base)) {
        val df = ident.name().toLowerCase match {
          case "snapshots" => Snapshots.metaSnapshots(spark, base)
          case "files" => Snapshots.currentId(base) match {
            case Some(cur) => Snapshots.metaFiles(spark, base, cur)
            // a created-but-never-written table has no snapshot: its
            // file listing is EMPTY, not "table not found"
            case None => Snapshots.metaFiles(spark, base, 0).limit(0)
          }
          case "refs" => Snapshots.metaRefs(spark, base)
          case "consumers" => Snapshots.metaConsumers(spark, base)
          case "stats" => Snapshots.metaColStats(spark, base)
          case "partitions" =>
            // claim inputs come from the table's marker: zone names are
            // PHYSICAL, exactly what `sortcol`/`statscol` record
            val (_, prs) = GraftCatalog.effectiveMarker(base, None)
            Snapshots.metaPartitions(spark, base,
              Snapshots.currentId(base).getOrElse(0),
              prs.get("sortcol"), prs.get("statscol"),
              prs.get("specfrom").flatMap(_.toIntOption),
              GraftCatalog.parseSpecHistory(prs.get("spechistory"),
                prs.get("specfrom").flatMap(_.toIntOption)))
          case _ => throw new NoSuchTableException(
            name() +: ident.namespace().toSeq :+ ident.name())
        }
        return new GraftMetaTable(
          (name() +: ident.namespace().toSeq :+ ident.name()).mkString("."), df)
      }
      throw new NoSuchTableException(
        name() +: ident.namespace().toSeq :+ ident.name())
    }
    val (declared, props) = GraftCatalog.effectiveMarker(dir, pin)
    new GraftTable(spark, name() +: ident.namespace().toSeq :+ ident.name(),
      dir, declared, props, pin)
  }

  /** ALTER TABLE as a METADATA COMMIT: the new marker lands via the
    * layer's one-rename commit (carried file list, fresh = nothing), so
    * (a) two concurrent ALTERs can never silently lose each other — the
    * second conflicts on the base advance and retries over the merged
    * state, and (b) time travel to the pre-ALTER snapshot keeps the
    * pre-ALTER shape. A table with no snapshot yet has no manifest to
    * stamp; its marker read-modify-write runs under the store's writer
    * lock instead.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(
      name() +: ident.namespace().toSeq :+ ident.name())
    def applyChanges(schema0: StructType,
                     props0: Map[String, String]): (StructType, Map[String, String]) = {
      def physOf(prs: Map[String, String], l: String): String =
        prs.getOrElse("colmap." + l, l)
      def retired(prs: Map[String, String]): Set[String] =
        prs.get("dropped").map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
      // PARTITIONED and morkey tables rename/drop freely since r14:
      // `partitioncol` and `morkey` record PHYSICAL names (like
      // `statscol`), which never change — tombstone files and `_pv=`
      // dirs are addressed by names that renames cannot move; the
      // logical name resolves through the reverse colmap at the
      // surfaces (partitioning(), rowId()). Dropping the key/partition/
      // stats column itself still refuses.
      def requireRenameable(prs: Map[String, String]): Unit = ()
      val (schN, prsN) = changes.foldLeft((schema0, props0)) {
        case ((sch, prs), add: TableChange.AddColumn) =>
          require(add.fieldNames().length == 1,
            "graft tables support top-level ADD COLUMN only")
          require(add.isNullable,
            "added columns must be nullable: pre-evolution rows surface them as NULL")
          val fname = add.fieldNames().head
          require(!sch.fieldNames.exists(_.equalsIgnoreCase(fname)),
            s"column $fname already exists")
          // a once-dropped (or still-mapped-away) physical name must not
          // be reused: the dropped column's bytes would resurface under
          // the new column. Assign a fresh physical and map to it.
          val taken = retired(prs) ++ sch.fieldNames.map(physOf(prs, _))
          if (!taken.exists(_.equalsIgnoreCase(fname)))
            (sch.add(fname, add.dataType(), nullable = true), prs)
          else {
            val fresh = Iterator.from(2).map(k => s"${fname}__$k")
              .find(c => !taken.exists(_.equalsIgnoreCase(c))).get
            (sch.add(fname, add.dataType(), nullable = true),
              prs + (s"colmap.$fname" -> fresh))
          }
        case ((sch, prs), ren: TableChange.RenameColumn) =>
          require(ren.fieldNames().length == 1,
            "graft tables support top-level RENAME COLUMN only")
          requireRenameable(prs)
          val from = ren.fieldNames().head
          val to = ren.newName()
          require(sch.fieldNames.contains(from), s"no such column: $from")
          require(!sch.fieldNames.exists(_.equalsIgnoreCase(to)),
            s"column $to already exists")
          // rename is METADATA ONLY: the physical name travels unchanged
          val phys = physOf(prs, from)
          val sch2 = StructType(sch.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f).toIndexedSeq)
          val prs2 = prs - s"colmap.$from" +
            (s"colmap.$to" -> phys) -- (if (to == phys) Seq(s"colmap.$to") else Nil)
          (sch2, prs2)
        case ((sch, prs), del: TableChange.DeleteColumn) =>
          require(del.fieldNames().length == 1,
            "graft tables support top-level DROP COLUMN only")
          requireRenameable(prs)
          val fname = del.fieldNames().head
          if (!sch.fieldNames.contains(fname)) {
            if (del.ifExists()) (sch, prs)
            else throw new IllegalArgumentException(s"no such column: $fname")
          } else {
            require(sch.length > 1, "cannot drop the table's last column")
            require(!prs.get("statscol").contains(physOf(prs, fname)),
              s"cannot drop the declared statscol '$fname'")
            require(!prs.get("partitioncol").contains(physOf(prs, fname)),
              s"cannot drop the partition column '$fname'")
            require(!prs.get("bucketcol").contains(physOf(prs, fname)),
              s"cannot drop the bucket column '$fname'")
            require(!prs.get("sortcol").contains(physOf(prs, fname)),
              s"cannot drop the sort column '$fname'")
            require(!prs.get("morkey").exists(
                _.split(",").map(_.trim).contains(physOf(prs, fname))),
              s"cannot drop the morkey column '$fname'")
            // retire the physical: never readable again, never reusable
            val phys = physOf(prs, fname)
            val sch2 = StructType(sch.fields.filterNot(_.name == fname).toIndexedSeq)
            val prs2 = prs - s"colmap.$fname" +
              ("dropped" -> (retired(prs) + phys).toSeq.sorted.mkString(","))
            (sch2, prs2)
          }
        case ((sch, prs), set: TableChange.SetProperty) =>
          if (set.property() == "sortcol") {
            // files written before the declaration were never sorted —
            // claiming an ordering over them would corrupt merge joins
            require(Snapshots.currentId(dir).isEmpty,
              "cannot declare 'sortcol' on a table that already has data: " +
                "existing files were not written sorted (recreate, or " +
                "INSERT OVERWRITE into a fresh sorted table)")
            GraftCatalog.validateSortCol(Some(set.value()), sch,
              prs.contains("bucketcol"))
          }
          // PARTITION-SPEC EVOLUTION as metadata: changing a layout
          // property on a table that already has data is allowed, but
          // the existing files' `_pv=` segments were rendered under the
          // OLD spec — reinterpreting them (ids mod a different n, a
          // partition value read as a bucket id, vice versa) would make
          // runtime pruning and SPJ grouping silently drop/misgroup
          // matching files. `specfrom` records the base snapshot id at
          // the change: a data file is judged under the CURRENT spec
          // only when its seq is NEWER (carried old files keep their
          // smaller seqs), so grouped claims decline on mixed-spec
          // snapshots and return once maintenance (the bucket-aware
          // compact, or a full overwrite) rewrites the rows under the
          // new spec. History stays exact: no file is rewritten by the
          // ALTER itself.
          val specTouching =
            Seq("bucketcol", "bucketn", "partitioncol").contains(set.property())
          if (set.property() == "bucketcol" || set.property() == "partitioncol") {
            // layout columns record PHYSICAL names; the named column
            // must exist, and a bucket source's hash semantics must be
            // pinned — the same gates CREATE's partitionProps applies
            val f = sch.fields.find(fd => physOf(prs, fd.name) == set.value())
            require(f.isDefined,
              s"'${set.property()}'='${set.value()}' names no column of the table")
            if (set.property() == "bucketcol")
              require(GraftBucketFunction.supportedSource(f.get.dataType),
                s"bucket column '${set.value()}' has type " +
                  s"${f.get.dataType.simpleString}; supported bucket sources " +
                  "are integral and string")
          }
          val prs1 =
            if (specTouching) Snapshots.currentId(dir) match {
              case Some(base) => GraftCatalog.stampSpec(prs, base)
              case None       => prs
            } else prs
          if (specTouching && set.property() != "bucketn") {
            // a transform-KIND or column change must not leave a
            // half-coherent pair behind
            require(!(set.property() == "partitioncol" && prs.contains("bucketcol")),
              "a table is bucketed or identity-partitioned, never both — " +
                "UNSET the bucket spec first")
            require(!(set.property() == "bucketcol" && prs.contains("partitioncol")),
              "a table is bucketed or identity-partitioned, never both — " +
                "UNSET 'partitioncol' first")
          }
          (sch, prs1 + (set.property() -> set.value()))
        case ((sch, prs), rm: TableChange.RemoveProperty) =>
          // removing a layout property is a spec change like setting one
          val prs1 =
            if (Seq("bucketcol", "bucketn", "partitioncol").contains(rm.property()))
              Snapshots.currentId(dir) match {
                case Some(base) => GraftCatalog.stampSpec(prs, base)
                case None       => prs
              }
            else prs
          (sch, prs1 - rm.property())
        case ((sch, prs), up: TableChange.UpdateColumnType) =>
          require(up.fieldNames().length == 1,
            "graft tables support top-level ALTER COLUMN TYPE only")
          val fname = up.fieldNames().head
          require(sch.fieldNames.contains(fname), s"no such column: $fname")
          val oldT = sch(fname).dataType
          val newT = up.newDataType()
          // WIDENING only: every existing file keeps its physical type
          // and Spark's parquet readers promote at the column boundary
          // (int32→long, float→double, decimal scale-up), so old files
          // read under the new shape losslessly while `VERSION AS OF`
          // resolves each snapshot's own (#meta-carried) type. A
          // NARROWING would silently truncate historic rows — refused.
          require(GraftCatalog.widens(oldT, newT),
            s"ALTER COLUMN $fname TYPE ${newT.simpleString}: not a lossless " +
              s"widening of ${oldT.simpleString} — narrowing would corrupt " +
              "rows already written; write a new column instead")
          // a bucket column's TYPE is part of the hash identity:
          // murmur3(int 5) != murmur3(bigint 5), so widening it would
          // scatter one key across two bucket ids — silent wrong joins
          require(!prs.get("bucketcol").contains(physOf(prs, fname)),
            s"cannot widen the bucket column '$fname': the bucket id is a " +
              "hash of the value AT ITS TYPE; widening would split keys " +
              "across buckets")
          val sch2 = StructType(sch.fields.map(f =>
            if (f.name == fname) f.copy(dataType = newT) else f).toIndexedSeq)
          (sch2, prs)
        case (_, other) =>
          throw new UnsupportedOperationException(
            s"graft tables are immutable-history: unsupported ALTER ${other.getClass.getSimpleName}. " +
              "Supported: ADD/RENAME/DROP COLUMN (top-level), ALTER COLUMN TYPE " +
              "(widening), SET/UNSET TBLPROPERTIES.")
      }
      // the FINAL property set must be coherent (bucketcol ⇒ bucketn,
      // never bucketed AND identity-partitioned, ...) — set both halves
      // of a pair in ONE ALTER statement
      GraftCatalog.validatePropertyKeys(prsN)
      (schN, prsN)
    }
    var attempts = 0
    while (true) {
      Snapshots.currentId(dir) match {
        case None =>
          // no snapshot to stamp: serialize the marker read-modify-write
          // (an unlocked RMW would let two ALTERs lose one's column add)
          Snapshots.withStoreLock(dir) {
            if (Snapshots.currentId(dir).isEmpty) {
              val (s0, p0) = GraftCatalog.effectiveMarker(dir, None)
              val (sch, prs) = applyChanges(s0, p0)
              GraftCatalog.writeMarker(dir, sch, prs)
              return loadTable(ident)
            } // else: a commit landed meanwhile — fall through and retry
          }
        case Some(base) =>
          val (s0, p0) = GraftCatalog.effectiveMarker(dir, None)
          val (sch, prs) = applyChanges(s0, p0)
          try {
            Snapshots.commitOcc(dir, Nil,
              Snapshots.OccSurgical(base, Snapshots.manifest(dir, base)),
              Some(Snapshots.manifestMeta(dir, base) +
                (GraftCatalog.MetaKey -> GraftCatalog.markerBody(sch, prs))))
            GraftCatalog.writeMarker(dir, sch, prs) // non-load-bearing sync
            return loadTable(ident)
          } catch {
            case _: Snapshots.CommitConflictException =>
              attempts += 1
              if (attempts >= 5) throw new Snapshots.CommitConflictException(
                s"ALTER TABLE on ${ident} lost the commit race $attempts times")
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) false
    else { GraftCatalog.rmTree(dir); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent0: Identifier): Unit = {
    // Spark passes RENAME TO's multipart name through verbatim — a user
    // writing the catalog-qualified form (`RENAME TO cat.ns.t`) arrives
    // with the catalog name embedded in the namespace; strip it ONLY
    // when the verbatim namespace does not itself resolve (a real
    // namespace that happens to share the catalog's name wins)
    val newIdent =
      if (newIdent0.namespace().headOption.contains(name()) &&
          !namespaceExists(newIdent0.namespace()))
        Identifier.of(newIdent0.namespace().drop(1), newIdent0.name())
      else newIdent0
    val from = tablePath(oldIdent)
    if (!isTableDir(from)) throw new NoSuchTableException(
      name() +: oldIdent.namespace().toSeq :+ oldIdent.name())
    val to = tablePath(newIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(
      name() +: newIdent.namespace().toSeq :+ newIdent.name())
    if (newIdent.namespace().nonEmpty && !namespaceExists(newIdent.namespace()))
      throw new NoSuchNamespaceException(name() +: newIdent.namespace().toSeq)
    JFiles.move(from, to, StandardCopyOption.ATOMIC_MOVE)
  }
}

object GraftCatalog {
  /** Directory marker making a snapshot store a catalog table: line 1 is
    * the declared schema (Spark's StructType JSON), every further line a
    * `key=value` table property. Committed with the layer's own
    * write-temp + atomic-rename discipline.
    */
  private[sources] val Marker = "_table"

  /** Is old → new a LOSSLESS widening Spark's parquet readers promote at
    * the column boundary (the open formats' type-evolution set)? The
    * integral ladder, float→double, int-or-narrower→double (exact in a
    * 52-bit mantissa; long→double is NOT), and decimal scale-up with the
    * integer-digit capacity kept. Everything else — including any
    * narrowing — is refused by ALTER.
    */
  private[sources] def widens(oldT: org.apache.spark.sql.types.DataType,
                              newT: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val ladder: Map[DataType, Int] =
      Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
    (oldT, newT) match {
      case (a, b) if a == b => true
      case (a, b) if ladder.contains(a) && ladder.contains(b) => ladder(a) < ladder(b)
      case (FloatType, DoubleType) => true
      case (a, DoubleType) if ladder.get(a).exists(_ <= 2) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          (d2.precision - d2.scale) >= (d1.precision - d1.scale) &&
          (d2.precision > d1.precision || d2.scale > d1.scale)
      case _ => false
    }
  }

  /** Exclusive in-flight CTAS claim (see stageTable). */
  private[sources] val CtasClaim = ".ctas-claim"

  /** Validate `PARTITIONED BY` at CREATE: a single top-level IDENTITY
    * transform on a declared column — the value-pure `_pv=` layout this
    * maps to has one partition dimension. Returns the `partitioncol`
    * property to record. Partitioning composes with value-pure dynamic
    * overwrite, NOT with merge-on-read DML (a delta stages flat files,
    * which would poison the value-pure layout) — refused loudly.
    */
  private[sources] def partitionProps(partitions: Array[Transform],
                                      schema: StructType,
                                      morKey: Option[String]): Map[String, String] = {
    if (partitions.isEmpty) return Map.empty
    require(partitions.length == 1,
      "graft tables support PARTITIONED BY exactly one transform")
    val t = partitions.head
    require(t.references().length == 1 &&
      t.references().head.fieldNames().length == 1,
      s"graft tables support partitioning on one top-level column; got $t")
    val c = t.references().head.fieldNames().head
    require(schema.fieldNames.contains(c), s"partition column '$c' is not declared")
    t.name match {
      case "identity" =>
        // PARTITIONED BY + 'morkey' compose since r14: the delta write's
        // insert half stages value-pure through stageOccPartitioned, so a
        // row-level delta can no longer poison the partition layout
        morKey.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          .foreach(k => require(schema.fieldNames.contains(k),
            s"morkey '$k' is not a column of the table"))
        Map("partitioncol" -> c)
      case "bucket" =>
        // PARTITIONED BY (bucket(n, c)): hash co-location for
        // HIGH-cardinality keys — `_pv=` dirs carry the BUCKET ID
        // (pmod(murmur3(c), n)), the scan reports key-grouped output
        // over bucket(n, c), and two same-bucketed tables join on c
        // with zero exchanges. Source type gated (hash semantics must
        // stay pinned); morkey/position deltas don't stage bucket-pure
        // yet, so the composition refuses rather than silently
        // degrading every scan.
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType == org.apache.spark.sql.types.IntegerType =>
            l.value.asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform carries no INT bucket count: $t"))
        require(n > 0 && n <= (1 << 20), s"bucket count out of range: $n")
        require(GraftBucketFunction.supportedSource(schema(c).dataType),
          s"bucket column '$c' has type ${schema(c).dataType.simpleString}; " +
            "supported bucket sources are integral and string")
        // bucket + 'morkey' COMPOSE: the delta write's insert half stages
        // bucket-pure (stageOccBucketed), tombstone-bearing snapshots
        // decline the layout claims anyway (merged reads), and the
        // bucket-aware compact folds tombstones AND restores the claims
        morKey.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          .foreach(k => require(schema.fieldNames.contains(k),
            s"morkey '$k' is not a column of the table"))
        Map("bucketcol" -> c, "bucketn" -> n.toString)
      case other => throw new IllegalArgumentException(
        s"graft tables support identity or bucket partitioning; got $other")
    }
  }

  /** `'sortcol'` contract: bucketed tables only (the ordering is only
    * reportable per key-grouped partition), declared, NOT NULL (two
    * sorted files both put their nulls first — concatenated they
    * wouldn't be), and integral (the zone range IS the disjointness
    * proof; there is none for strings).
    */
  private[sources] def validateSortCol(sortCol: Option[String],
                                       schema: StructType,
                                       bucketed: Boolean): Unit =
    sortCol.foreach { c =>
      require(bucketed,
        "'sortcol' requires a bucketed table (PARTITIONED BY (bucket(n, c))): " +
          "ordering is only provable per key-grouped partition")
      require(schema.fieldNames.contains(c), s"sortcol '$c' is not declared")
      require(!schema(c).nullable,
        s"sortcol '$c' must be NOT NULL: per-file nulls-first breaks the " +
          "concatenated order")
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(schema(c).dataType),
        s"sortcol '$c' must be integral: its zone range is the ordering proof")
    }

  private[sources] def validatePropertyKeys(props: Map[String, String]): Unit = {
    props.keys.foreach(k => require(!k.contains("=") && !k.contains("\n"),
      s"table property key '$k' may not contain '=' or newlines"))
    props.get("mordelete").foreach { v =>
      require(v == "position",
        s"unknown 'mordelete' mode '$v' — the only supported mode is 'position'")
      require(!props.contains("morkey"),
        "'morkey' (equality tombstones) and 'mordelete'='position' (position " +
          "tombstones) do not compose: two tombstone shapes cannot share a store")
    }
    if (props.contains("bucketcol")) {
      // morkey AND mordelete both compose: neither tombstone shape
      // touches the data layout (equality deltas stage bucket-pure;
      // position pairs live under deletes/), claims decline while
      // tombstones live, and the bucket-aware compact folds either kind
      // back into the claiming layout
      require(!props.contains("partitioncol"),
        "a table is bucketed or identity-partitioned, never both")
      require(props.get("bucketn").exists(_.toIntOption.exists(_ > 0)),
        "'bucketcol' requires a positive integer 'bucketn'")
    }
    if (props.contains("sortcol"))
      require(props.contains("bucketcol"),
        "'sortcol' requires a bucketed table (PARTITIONED BY (bucket(n, c)))")
  }

  // property VALUES may carry newlines/backslashes (they're durable
  // metadata — a mis-parse could shift `statscol` and change pruning);
  // escape them line-safe. Keys are identifiers: '=', newline refused.
  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r")
  private def unesc(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      if (v(i) == '\\' && i + 1 < v.length) {
        v(i + 1) match {
          case 'n' => sb += '\n'; case 'r' => sb += '\r'
          case c => sb += c
        }
        i += 2
      } else { sb += v(i); i += 1 }
    }
    sb.toString
  }

  /** Manifest-meta key carrying the table marker INSIDE a snapshot —
    * committed by the same pointer rename as the rows, so a
    * schema-changing RTAS/ALTER can never be seen half-applied
    * (rows under the old schema, or schema without its rows).
    */
  private[sources] val MetaKey = "table_marker"

  private[sources] def markerBody(schema: StructType,
                                  props: Map[String, String]): String = {
    validatePropertyKeys(props)
    (schema.json +: props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${esc(v)}" }).mkString("\n")
  }

  private[sources] def parseMarkerBody(body: String): (StructType, Map[String, String]) = {
    val lines = body.split("\n").toSeq
    val schema = org.apache.spark.sql.types.DataType.fromJson(lines.head)
      .asInstanceOf[StructType]
    val props = lines.tail.filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> unesc(l.substring(i + 1))
    }.toMap
    (schema, props)
  }

  private[sources] def writeMarker(dir: JPath, schema: StructType,
                                   props: Map[String, String]): Unit = {
    val tmp = JFiles.createTempFile(dir, ".table", ".tmp")
    JFiles.write(tmp, markerBody(schema, props).getBytes("UTF-8"))
    JFiles.move(tmp, dir.resolve(Marker), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def readMarker(dir: JPath): (StructType, Map[String, String]) =
    parseMarkerBody(new String(JFiles.readAllBytes(dir.resolve(Marker)), "UTF-8"))

  /** The declared (schema, properties) in effect at snapshot `at` (None
    * = current): the snapshot's own manifest-carried marker when it has
    * one — giving time travel each snapshot's declared shape, and making
    * rows+schema inseparable across crashes — falling back to the
    * `_table` file for snapshots predating any marker-carrying commit
    * (and for tables with no snapshot at all).
    */
  private[sources] def effectiveMarker(dir: JPath,
                                       at: Option[Int]): (StructType, Map[String, String]) =
    at.orElse(Snapshots.currentId(dir))
      .flatMap(n => Snapshots.manifestMeta(dir, n).get(MetaKey))
      .map(parseMarkerBody).getOrElse(readMarker(dir))

  /** Marker meta to SEED a catalog commit whose base manifest carries
    * none (first commit after CREATE, or a pre-meta store): every
    * snapshot then records the declared shape in force when it
    * committed, which is what gives `VERSION AS OF` each snapshot's own
    * schema across later RENAME/DROP/RTAS. Passed to `commitOcc` as
    * `seedMeta`, NOT `metaOverride`: the seed-vs-carry decision resolves
    * inside the writer lock against the re-read base (base wins on every
    * key it carries), so a seed computed before a retry loop can never
    * resurrect a stale shape over a concurrent ALTER's marker-carrying
    * commit — even when the conflict that triggered the retry WAS that
    * ALTER.
    */
  private[sources] def seedMetaFor(store: JPath): Map[String, String] =
    if (!JFiles.exists(store.resolve(Marker))) Map.empty // not a catalog table
    else {
      val (sch, prs) = readMarker(store)
      Map(MetaKey -> markerBody(sch, prs))
    }

  private[graft] def rmTree(dir: JPath): Unit = {
    val walk = JFiles.walk(dir)
    try walk.iterator().asScala.toSeq.reverse.foreach(JFiles.deleteIfExists(_))
    finally walk.close()
  }

  /** Stamp a spec-evolving ALTER: `specfrom` keeps the LATEST change's
    * base snapshot (what every per-file judgment reads), and
    * `spechistory` accumulates ONE "<id>@<base>" entry per change (spec
    * 0 is the birth spec, never listed) — the full evolution timeline a
    * twice-evolved table needs to audit per-partition spec ids rather
    * than a single current/not-current boolean.
    */
  private[sources] def stampSpec(prs: Map[String, String],
                                 base: Int): Map[String, String] = {
    val hist = prs.get("spechistory").filter(_.nonEmpty)
    val nextId = hist.map(parseSpecHistoryStr(_).map(_._1).max + 1).getOrElse(1)
    val entry = s"$nextId@$base"
    prs + ("specfrom" -> base.toString) +
      ("spechistory" -> hist.map(_ + "," + entry).getOrElse(entry))
  }

  /** `spechistory` parsed to (spec id, base snapshot id), base-ordered.
    * A table whose spec evolved BEFORE the history stamp existed carries
    * `specfrom` alone — synthesize its one-change history (spec 1 at
    * that base) rather than report every post-evolution file as the
    * birth spec while `under_current_spec` says otherwise.
    */
  private[sources] def parseSpecHistory(v: Option[String],
                                        specFrom: Option[Int] = None): Seq[(Int, Int)] =
    v.filter(_.nonEmpty).map(parseSpecHistoryStr)
      .orElse(specFrom.map(b => Seq((1, b))))
      .getOrElse(Nil)

  private def parseSpecHistoryStr(s: String): Seq[(Int, Int)] =
    s.split(',').toIndexedSeq.map { e =>
      val Array(id, base) = e.split('@')
      (id.toInt, base.toInt)
    }.sortBy(_._2)
}

/** One named snapshot-store table of [[GraftCatalog]] — batch read via
  * Spark's DSv2 parquet scan over a [[SnapshotV2FileIndex]] (manifest
  * listing, plan-time zone/bloom skipping), batch write via the layer's
  * commit protocol behind a [[V1Write]] (append = appended release
  * reusing prior files verbatim; INSERT OVERWRITE = rewrite commit with
  * history intact).
  *
  * Schema = the declared marker schema, extended by any columns the
  * data evolved beyond it (layer-level `snapshot_evolve` appends);
  * pre-evolution files surface post-evolution columns as NULL straight
  * from Spark's parquet reader, because the requested read schema is a
  * superset of each file's footer. Time-travel loads (`pin`) are
  * read-only: writing through a historical view would fork history
  * silently.
  */
final class GraftTable(
    spark: SparkSession,
    fullName: Seq[String],
    store: JPath,
    declared: StructType,
    props: Map[String, String],
    pin: Option[Int]) extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with graft.plans.ExpandableMergeTable
    with graft.plans.ChangeFeedCapableTable
    with graft.plans.AutoEvolveMergeTable
    with org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics {

  override def name(): String = fullName.mkString(".")

  /** SINK observability (`StreamingQueryProgress.sink.metrics` when this
    * table is a `writeStream.toTable` target): the committed snapshot id
    * and the replay watermark after each epoch — enough to correlate a
    * progress line with the exact table version it produced (and to
    * time-travel to it), from the progress log alone. Pointer reads
    * only, no manifest parse.
    */
  override def metrics(): util.Map[String, String] = {
    val out = new util.HashMap[String, String]()
    Snapshots.currentId(store).foreach(n => out.put("snapshotId", n.toString))
    Snapshots.lastBatchId(store).foreach(b => out.put("lastBatchId", b.toString))
    out
  }

  /** The feed-shaped twin ([[graft.plans.ExpandChangeFeedRelation]]
    * swaps it in when `.option("changefeed", true)` targets this table,
    * streaming OR batch): schema = table columns + `_change_type`,
    * rows = materialized change-data windows served as vectorized
    * parquet scans. Streaming batches are per-commit windows; a BATCH
    * read serves ONE pinned window `(startsnapshot, to]` where `to` is
    * the load's `VERSION AS OF`/`versionAsOf` pin (or current) — the
    * TVF's semantics behind `spark.read`, sharing the same
    * `changefeeds/` cache so neither surface recomputes the other's
    * window.
    */
  override def changeFeedTable(): Table = {
    val self = this
    new Table with SupportsRead {
      override def name(): String = self.name() + "#changefeed"
      override lazy val schema: StructType = StructType(
        self.schema.fields.toIndexedSeq :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false))
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
          TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new GraftChangeFeedScanBuilder(spark, store, self.schema,
          physicalize(self.schema), statsCol, options, pin)
    }
  }

  /** The merged (tombstone-aware) view as an analyzed logical plan, iff
    * the served snapshot carries equality-delete tombstones on a
    * `morkey` table. The ExpandMergeScan optimizer rule splices this in
    * place of the relation, restoring vectorized parquet legs + Catalyst
    * pushdown; [[GraftMergeScanBuilder]]'s V1 bridge stays as the
    * fallback for extension-less sessions and row-level-DML source
    * scans. Conformance to the relation's exact output (evolution
    * nulls, exprIds, NOT NULL morkey) is the rule's job, not ours.
    */
  override def mergedPlanIfServed():
      Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    currentIdOpt.flatMap { n =>
      val (datas, dels) = manifestSplit(n)
      if (dels.nonEmpty && (morKey.isDefined || posMode) && datas.nonEmpty) {
        // the ANALYZED subplan: manifest-backed scans, ONE
        // sequence-aware anti-join (hot files vs every applicable
        // tombstone, `tomb.seq > data.seq`), filters and at most one
        // union with the pure leg — all operator-batch-legal nodes
        // (mergeRead materializes no analyzer-era operator like
        // Deduplicate: the tombstone scan joins without distinct), so
        // the splice needs no private optimizer run; the host query's
        // remaining fixed-point iterations optimize the subtree in
        // place. The plan size is independent of the number of delete
        // commits. statsCol enables tombstone-range pruning (files
        // provably clear of every later tombstone's keys read pure);
        // the declared schemas (table + morkey tombstone) stand in for
        // the footer-resolved ones. Files AND tombstones
        // carry PHYSICAL column names (stable across renames), so the
        // merged view reads physical and conforms to the LOGICAL shape
        // at its boundary — the splice rule then rebinds by name.
        val raw = Snapshots.readAt(spark, store, n, statsCol,
          Some(physicalize(schema)),
          morKeys.map(ks => StructType(
            ks.zip(morKeysLogical.get).map { case (p, l) =>
              schema(l).copy(name = p)
            }.toIndexedSeq)))
        val conformed =
          if (colMap.isEmpty) raw
          else raw.select(schema.fields.toIndexedSeq.map(f =>
            org.apache.spark.sql.functions.col(physicalOf(f.name)).as(f.name)): _*)
        Some(conformed.queryExecution.analyzed)
      } else None
    }

  private def currentIdOpt: Option[Int] = pin.orElse(Snapshots.currentId(store))

  private def statsCol: Option[String] = props.get("statscol")

  /** Declared MoR key column: opting the table into merge-on-read DML —
    * SQL UPDATE/MERGE/DELETE land as equality-delete tombstones +
    * replacement rows (O(changed rows), no base file rewritten) instead
    * of group-based copy-on-write, and tombstone-bearing snapshots are
    * SERVED (via the merged-read scan) instead of refused. Recorded as
    * the PHYSICAL name (like statscol/partitioncol): tombstone FILES
    * carry the key column by name, so the recorded name must be the one
    * that never changes — renames are pure metadata on top.
    */
  private def morKey: Option[String] = props.get("morkey")

  /** The declared MoR key COLUMNS (physical names): the property value
    * is a comma-separated list, one column for the common case, more
    * for COMPOSITE keys (the reference mirrors MySQL tables whose
    * PRIMARY KEYs are routinely multi-column — link tables like
    * exon_transcript have no single-column key; LoadFiles.pm:120-149
    * executes exactly that DDL). Tombstones then carry every key
    * column and the merged read anti-joins on the full set.
    */
  private def morKeys: Option[Seq[String]] =
    morKey.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** The morkey columns' LOGICAL (current, user-facing) names. */
  private def morKeysLogical: Option[Seq[String]] =
    morKeys.map(_.map(p =>
      colMap.collectFirst { case (l, ph) if ph == p => l }.getOrElse(p)))

  /** `'mordelete'='position'`: merge-on-read DELETE for KEY-LESS tables
    * — no NOT NULL key to address rows by, so DELETE lands (file, row
    * ordinal) POSITION tombstones (the other half of the open formats'
    * delete-file pair) instead of rewriting files. Mutually exclusive
    * with `morkey` (two tombstone shapes cannot share one store).
    */
  private def posMode: Boolean = props.get("mordelete").contains("position")

  /** Declared partition column (`PARTITIONED BY`): storage is the
    * value-pure `_pv=` layout, writes route through
    * [[GraftPartitionedWriteBuilder]], and dynamic `INSERT OVERWRITE`
    * replaces exactly the partitions present in the query.
    */
  private def partCol: Option[String] = props.get("partitioncol")

  /** Declared bucket transform (`PARTITIONED BY (bucket(n, c))`):
    * storage is the `_pv=<bucket id>` layout (id = pmod(murmur3(c), n),
    * the catalog's own `bucket` function), writes route through
    * [[GraftBucketedWriteBuilder]], and the scan reports key-grouped
    * output over `bucket(n, c)` — the storage-partitioned join on a
    * HIGH-cardinality key. The column name records PHYSICAL (stable
    * across renames), like partitioncol/morkey/statscol.
    */
  private def bucketSpec: Option[(String, Int)] = for {
    c <- props.get("bucketcol")
    n <- props.get("bucketn").flatMap(_.toIntOption)
  } yield (c, n)

  /** Declared sort column (`'sortcol'`, bucketed tables only): every
    * bucketed write clusters each bucket and sorts within files, the
    * sort column's zone range rides the manifest, and the scan REPORTS
    * the ordering when a bucket's file ranges prove disjoint — the
    * co-located merge join then elides its sorts too. PHYSICAL name.
    */
  private def sortCol: Option[String] = props.get("sortcol")

  /** RENAME/DROP COLUMN support: `colmap.<logical>=<physical>` props map
    * a declared (logical) column to the name parquet files actually
    * carry. A column's PHYSICAL name is assigned once and never changes
    * (rename is pure metadata; rows are positional, so scans translate
    * names for free); a re-added once-dropped name gets a FRESH physical
    * (`name__2`, ...) so the dropped column's bytes can never resurface
    * under the new column — the role field ids play in the open formats,
    * expressed as a name map. `dropped` records retired physicals.
    */
  private def colMap: Map[String, String] =
    props.collect { case (k, v) if k.startsWith("colmap.") =>
      k.stripPrefix("colmap.") -> v }

  private def physicalOf(logical: String): String = colMap.getOrElse(logical, logical)

  private def droppedPhys: Set[String] =
    props.get("dropped").map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** The declared schema under PHYSICAL names (what files carry). */
  private def physicalize(sch: StructType): StructType =
    StructType(sch.fields.map(f => f.copy(name = physicalOf(f.name))).toIndexedSeq)

  /** Rename a logical-named frame to physical names, positionally. */
  private def toPhysical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (colMap.isEmpty) df
    else df.toDF(df.columns.map(c => colMap.getOrElse(c, c)).toIndexedSeq: _*)

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    // partitioncol/bucketcol record the PHYSICAL name; Spark wants the
    // LOGICAL one (what the user's queries reference), so translate back
    def logicalOf(c: String): String =
      colMap.collectFirst { case (l, p) if p == c => l }.getOrElse(c)
    partCol.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(logicalOf(c)))
      .orElse(bucketSpec.map { case (c, n) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, logicalOf(c))
      }).toArray
  }

  private def manifestSplit(n: Int): (Seq[Snapshots.ManifestEntry],
                                      Seq[Snapshots.ManifestEntry]) = {
    val (dels, datas) = Snapshots.manifest(store, n).partition(Snapshots.isDelete)
    (datas, dels)
  }

  /** Data files of the read snapshot, for paths that NEED a bare file
    * scan. Tombstone-bearing snapshots are REFUSED loudly unless the
    * table declared a `morkey` (whose read path applies the anti-join);
    * a file scan cannot apply merge-on-read deletes, and serving one
    * anyway would resurrect deleted rows.
    */
  private def dataEntries(n: Int): Seq[Snapshots.ManifestEntry] = {
    val (datas, dels) = manifestSplit(n)
    if (dels.nonEmpty) throw new IllegalStateException(
      s"snapshot $n of table ${name()} carries ${dels.size} merge-on-read tombstone " +
        "file(s) (layer-level publishDeletes/publishUpsert); compact the store to " +
        "make it catalog-scannable, declare a 'morkey' table property, or read " +
        "via Snapshots.readAt")
    datas
  }

  /** Columns present in the data but not declared (layer-level schema
    * evolution): one footer per distinct commit seq bounds inference to
    * O(#commits), never O(#files) — and the result is CACHED per
    * (store, snapshot, declared shape): snapshots are immutable, so a
    * busy SQL session pays the footer sweep once per snapshot instead
    * of once per statement (loadTable runs on every statement).
    */
  private def evolvedSchema: StructType = currentIdOpt match {
    case None => declared
    case Some(n) =>
      GraftTable.evolvedCache.computeIfAbsent(
        (store.toAbsolutePath.toString, n,
          declared.json + "|" + colMap.toSeq.sorted.mkString(",") +
            "|" + droppedPhys.toSeq.sorted.mkString(",")), _ => {
          // schema inference never needs the bare-scan refusal: evolved
          // columns come from data footers; tombstones carry none
          val (datas, _) = manifestSplit(n)
          if (datas.isEmpty) declared
          else {
            val perSeq = datas.groupBy(_.seq).values.map(_.head).toSeq
            // per-footer schemas, NOT a cross-commit mergeSchema: after a
            // type WIDENING the commits legitimately disagree on a
            // declared column's physical type (int32 files + int64
            // files) and a whole-schema merge refuses; only the EXTRA
            // (non-declared) columns need inference, so compare each
            // footer's fields independently against the declared set.
            // Raw footer reads (no DataFrameReader: each of those costs
            // a file index + session plumbing, ~100ms/commit on the
            // catalog_sql bench) — one O(1) driver read per commit.
            val converter =
              new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter()
            val footerSchemas = perSeq.map { e =>
              converter.convert(graft.etl.Snapshots.footer(spark,
                new org.apache.hadoop.fs.Path(store.resolve(e.relPath).toUri))
                .getFileMetaData.getSchema)
            }
            // compare against PHYSICAL names, and never resurrect a
            // DROPPED column's bytes as an "evolved" column
            val declaredPhys = declared.fieldNames.map(physicalOf)
            val retired = droppedPhys
            val extra = footerSchemas.flatMap(_.fields).filterNot(f =>
              declaredPhys.exists(_.equalsIgnoreCase(f.name)) ||
                retired.exists(_.equalsIgnoreCase(f.name)))
              .groupBy(_.name.toLowerCase).values.map(_.head).toSeq
              .sortBy(_.name)
            extra.foldLeft(declared)(_.add(_))
          }
        })
  }

  override lazy val schema: StructType = evolvedSchema

  /** Does the identity partition column path-render exactly (the
    * integral/string/date set)? Gates the engine-clustered DSv2 write
    * path; unrenderable types keep the V1 partitionBy legs.
    */
  private def partClusteredCapable: Boolean = {
    import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType, TimestampType}
    // 'writedistribution'='none' opts a table out of the engine-
    // clustered write (back to the V1 partitionBy legs): clustering
    // serializes each partition VALUE through one task, so a heavily
    // skewed identity partition trades small-files for write
    // parallelism — the operator picks per table (Iceberg's
    // write.distribution-mode=none, same dial)
    !props.get("writedistribution").contains("none") &&
    partCol.exists(p => schema.fields
      .find(f => physicalOf(f.name) == p).map(_.dataType).exists {
        case LongType | IntegerType | ShortType | ByteType | StringType |
             DateType | TimestampType => true
        case _ => false
      })
  }

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE)
    // `writeStream.toTable`: every table flavor streams — plain appends,
    // value/bucket-pure clustered epochs, upsert-per-epoch on `morkey`
    // tables, complete-mode replace ([[GraftStreamingWrite]]); the
    // `'writedistribution'='none'` opt-out legs are V1-only and refuse
    // at stream start (V1Write has no streaming face)
    caps.add(TableCapability.STREAMING_WRITE)
    if (bucketSpec.isDefined || partClusteredCapable) {
      // these writers are REAL DSv2 BatchWrites — only that path honors
      // RequiresDistributionAndOrdering (the V1 fallback hands
      // InsertableRelation the ANALYZED query, losing the prepared
      // distribution/ordering nodes) — and Spark refuses a non-V1Write
      // from a table that ALSO declares V1_BATCH_WRITE, so such tables
      // declare BATCH_WRITE alone
      caps.add(TableCapability.BATCH_WRITE)
    } else {
      caps.add(TableCapability.V1_BATCH_WRITE)
    }
    if (partCol.isDefined) {
      caps.add(TableCapability.BATCH_WRITE) // dynamic overwrite has no V1 fallback
      caps.add(TableCapability.OVERWRITE_DYNAMIC)
    }
    // 'mergeschema'='true' (Delta's dial): a MERGE from a wider source
    // auto-widens the table (Spark's ResolveMergeIntoSchemaEvolution
    // routes the new columns through alterTable's AddColumn handling —
    // the same metadata commit an explicit ALTER lands, so time travel
    // below the merge keeps the narrow schema). Without the dial, the
    // explicit `MERGE ... WITH SCHEMA EVOLUTION` clause still evolves;
    // a plain MERGE from a wider source refuses at analysis.
    if (props.get("mergeschema").contains("true"))
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m.put("location", store.toUri.toString)
    currentIdOpt.foreach(n => m.put("snapshot", n.toString))
    m
  }

  /** The 'mergeschema' dial, read by [[graft.plans
    * .AutoMergeSchemaEvolution]]: a plain MERGE from a wider source
    * evolves this table as if WITH SCHEMA EVOLUTION had been written.
    */
  override def autoEvolveMerge: Boolean =
    props.get("mergeschema").contains("true")

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the changefeed option is honored by ExpandChangeFeedRelation
    // swapping in the feed-shaped twin BEFORE the scan is built (batch
    // and streaming both); reaching here with it set means a session
    // without GraftExtensions, whose rows would misalign with the
    // declared output — refuse loudly rather than deliver them
    require(!Option(options.get("changefeed")).exists(_.toBoolean),
      "the 'changefeed' read option needs graft.GraftExtensions " +
        "registered (spark.sql.extensions); without them, batch windows " +
        "read via Snapshots.readChangeFeed or the snapshot TVF")
    currentIdOpt match {
      case None =>
        new GraftScanBuilder(spark, store, 0, Nil, schema, statsCol, options)
      case Some(n) =>
        val (datas, dels) = manifestSplit(n)
        if (dels.nonEmpty && (morKey.isDefined || posMode))
          // merge-on-read: serve the seq-aware merged view (anti-join
          // against the tombstones — equality keys or position pairs) —
          // the documented read price of MoR DML until compaction folds
          // the deltas physically
          new GraftMergeScanBuilder(spark, store, n, schema, statsCol,
            morKeysLogical.getOrElse(Nil), colMap)
        else
          new GraftScanBuilder(spark, store, n, dataEntries(n), schema,
            statsCol, options, colMap, partCol, bucketSpec, sortCol,
            props.get("specfrom").flatMap(_.toIntOption))
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pin.isDefined) throw new UnsupportedOperationException(
      s"table ${name()} is pinned at snapshot ${pin.get} (VERSION AS OF): " +
        "historical views are read-only; write through the current table")
    // `morkey` tables upsert per streamed epoch, so Update-mode output
    // (a stateful aggregation's natural mode) is legal AS append there
    // — the marker interface rides only when the key contract backs it;
    // a keyless table accepting update-as-append would silently append
    // every revision of a row
    val mk = morKeys.getOrElse(Nil)
    // BRANCH WRITES (`.option("branch", name)`): supported on every
    // append/overwrite path — the WAP staging shape (write behind a
    // ref, audit via VERSION AS OF 'ref', adopt_branch to go live).
    // Layout tables stage through their OWN writers (value-pure /
    // bucket-pure files, claims intact after adoption); only the
    // commit targets the ref. `morkey` tables refuse: a tombstone
    // staged behind a branch would need branch-scoped merge semantics
    // the read path does not carry.
    if (Option(info.options.get("branch")).isDefined && mk.nonEmpty)
      throw new UnsupportedOperationException(
        s"table ${name()}: branch writes do not compose with 'morkey' " +
          "(merge-on-read tombstones have no branch-scoped read) — " +
          "write to the main line or drop the key contract")
    partCol match {
      case Some(p) =>
        val specFrom = props.get("specfrom").flatMap(_.toIntOption)
        val optOut = props.get("writedistribution").contains("none")
        return if (mk.nonEmpty)
          new GraftPartitionedWriteBuilder(spark, store, p, statsCol, schema,
            info, colMap, specFrom, optOut, mk)
            with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
        else
          new GraftPartitionedWriteBuilder(spark, store, p, statsCol, schema,
            info, colMap, specFrom, optOut)
      case None => ()
    }
    bucketSpec match {
      case Some((c, nb)) =>
        return if (mk.nonEmpty)
          new GraftBucketedWriteBuilder(spark, store, c, nb, statsCol,
            schema, colMap, sortCol, Some(info), mk)
            with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
        else
          new GraftBucketedWriteBuilder(spark, store, c, nb, statsCol,
            schema, colMap, sortCol, Some(info))
      case None => ()
    }
    if (mk.nonEmpty)
      new GraftPlainWriteBuilder(spark, store, statsCol, colMap, name(), mk, info)
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
    else
      new GraftPlainWriteBuilder(spark, store, statsCol, colMap, name(), Nil, info)
  }

  // ---- UPDATE / MERGE INTO: group-based copy-on-write ----

  /** SQL `UPDATE` and `MERGE INTO` (and non-translatable `DELETE`
    * shapes) via Spark's group-based row-level rewrite —
    * [[GraftRowLevelOperation]]: groups are files, the condition's
    * pushed filters zone-map-prune the group set at PLAN time, and the
    * replacement lands as one atomic surgical commit. Translatable
    * DELETEs still take the cheaper metadata-only [[deleteWhere]] path
    * (Spark's OptimizeMetadataOnlyDeleteFromTable prefers it).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (pin.isDefined) throw new UnsupportedOperationException(
      s"table ${name()} is pinned (VERSION AS OF): historical views are read-only")
    morKey match {
      case Some(_) =>
        () => new GraftDeltaOperation(spark, store, schema, statsCol,
          morKeysLogical.get, info.command(), partCol, colMap, bucketSpec,
          sortCol)
      case None =>
        // on a partitioned table the group rewrite re-stages its output
        // VALUE-PURE (SurgicalReplaceWrite's partCol leg), so UPDATE /
        // MERGE / complex DELETE keep the `_pv=` layout intact; on a
        // renamed table it re-stages under PHYSICAL names (colMap leg).
        // posMode tables with LIVE position tombstones refuse at the
        // write's commit (lazily — analysis must succeed so plain
        // DELETEs can reroute to deleteWhere's position path).
        () => new GraftRowLevelOperation(spark, store, schema, statsCol,
          info.command(), partCol, colMap, posTombstonesOk = posMode)
    }
  }

  // ---- DELETE FROM: copy-on-write, surgical ----

  /** `DELETE FROM t WHERE p` as a COPY-ON-WRITE surgical rewrite — the
    * catalog's tables never carry merge-on-read tombstones (which would
    * make them unscannable), so a SQL delete rewrites exactly the files
    * that might hold matching rows and carries every other file verbatim
    * in one atomic [[Snapshots.OccSurgical]] commit:
    *
    *  1. candidate files = those the delete predicate cannot zone-map/
    *     bloom-skip ([[SnapshotPruning]], the same translation the scan
    *     uses — a file the scan would skip for `p` provably holds no
    *     row matching `p`);
    *  2. candidates are re-read and rewritten KEEPING rows where the
    *     predicate is not TRUE (NULL-condition rows survive, per SQL
    *     DELETE semantics);
    *  3. the commit validates the base under the writer lock and
    *     carries untouched entries with their ORIGINAL seq stamps;
    *     any concurrent commit conflicts and the whole delete re-runs
    *     from the new base (data work outside the lock, like every OCC
    *     path).
    *
    * At 100 TB with a clustered predicate this is O(affected files) I/O
    * plus a manifest carry — a predicate-matching delete never touches
    * the rest of the table. A no-match delete commits nothing. History
    * stays time-travelable: the pre-delete snapshot still reads whole.
    * Rewritten files are conformed to the table schema (evolved columns
    * materialize as NULL) and re-carry the `statscol` zone maps.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    // MoR tables route DELETE to the delta path (an equality-delete
    // tombstone is O(deleted keys); this copy-on-write path would be
    // O(affected files))
    pin.isEmpty && morKey.isEmpty &&
      filters.forall(f => GraftTable.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    if (pin.isDefined) throw new UnsupportedOperationException(
      s"table ${name()} is pinned (VERSION AS OF): historical views are read-only")
    val cond = filters.flatMap(GraftTable.filterColumn(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    var attempts = 0
    while (true) {
      val base = Snapshots.currentId(store).getOrElse(return)
      if (morKey.isDefined && manifestSplit(base)._2.nonEmpty) {
        // a tombstone-bearing MoR table reaches here only via TRUNCATE
        // (plain DELETEs route to the delta path): fold the merged view
        // through the predicate as one whole-table rewrite — correct for
        // any predicate, and it retires the tombstones as a bonus. A
        // partitioned layout re-stages VALUE-PURE so the fold cannot
        // poison it.
        val kept = Snapshots.readAt(spark, store, base).filter(!coalesce(cond, lit(false)))
        val fresh = partCol match {
          case Some(p) =>
            Snapshots.stageOccPartitioned(spark, store, kept, p, statsCol.toSeq)
              .map(Snapshots.foldLegacyStats(_, statsCol))
          case None => Snapshots.stageOcc(spark, store, kept, statsCol)
        }
        try {
          Snapshots.commitOcc(store, fresh, Snapshots.OccRewrite(base),
            seedMeta = GraftCatalog.seedMetaFor(store))
          return
        } catch {
          case _: Snapshots.CommitConflictException =>
            attempts += 1
            Snapshots.discardStaged(store, fresh)
            if (attempts >= 5) throw new Snapshots.CommitConflictException(
              s"DELETE on ${name()} lost the commit race $attempts times")
          case e: Throwable =>
            Snapshots.discardStaged(store, fresh)
            throw e
        }
      } else if (posMode) {
        // KEY-LESS merge-on-read DELETE: one scan computes the matching
        // rows' (file, ordinal) coordinates, the pairs stage as a
        // POSITION tombstone, and one surgical commit carries the whole
        // base manifest — O(matched rows) I/O, zero files rewritten.
        // Positions are base-exact, so any concurrent advance conflicts
        // and the whole statement re-runs from the new base.
        val fresh = Snapshots.stagePositionTombstone(spark, store, base, cond)
        if (fresh.isEmpty) return // nothing matched: no-op
        try {
          Snapshots.commitOcc(store, fresh,
            Snapshots.OccSurgical(base, Snapshots.manifest(store, base)),
            seedMeta = GraftCatalog.seedMetaFor(store))
          return
        } catch {
          case _: Snapshots.CommitConflictException =>
            attempts += 1
            Snapshots.discardStaged(store, fresh)
            if (attempts >= 5) throw new Snapshots.CommitConflictException(
              s"DELETE on ${name()} lost the commit race $attempts times")
          case e: Throwable =>
            Snapshots.discardStaged(store, fresh)
            throw e
        }
      } else {
      val entries = dataEntries(base)
      if (entries.isEmpty) return
      // zone/bloom stats are keyed by PHYSICAL names — translate the
      // (logical) predicate's constraints before pruning
      val cs = filters.toSeq.flatMap(SnapshotPruning.constraintsOfFilter)
        .map(c => c.copy(col = physicalOf(c.col)))
      val bloomOf = SnapshotPruning.bloomLoader(store)
      val bloomCol = SnapshotPruning.bloomColumn(store)
      val (cands0, untouched) = entries.partition(e =>
        cs.isEmpty || !SnapshotPruning.skippable(store, e, cs, statsCol, bloomCol, bloomOf))
      if (cands0.isEmpty) return // every file provably predicate-free
      // METADATA-ONLY DROPS: a candidate whose metadata PROVES every
      // row matches the whole predicate — a value-pure `_pv=` file
      // under an equality on the partition column, or a zone range
      // strictly inside the predicate's with a footer-proven zero null
      // count (a NULL-condition row SURVIVES a SQL DELETE, so one
      // possible null voids the proof) — is dropped from the manifest
      // without being read: purging a partition of a 100 TB table is a
      // manifest edit, not a rewrite. Partial matches rewrite as
      // before; a delete that would empty the manifest declines the
      // shortcut and takes the rewrite path (an all-files metadata
      // drop has no manifest left to commit).
      val (droppedMeta, candsMeta) = cands0.partition(provablyAllMatch(_, filters))
      val (dropped, cands) =
        if (untouched.isEmpty && candsMeta.isEmpty) (Nil, cands0)
        else (droppedMeta, candsMeta)
      if (cands.isEmpty) {
        // pure metadata delete: zero files read, zero rows shuffled,
        // zero files written — one surgical commit carrying the rest
        try {
          Snapshots.commitOcc(store, Nil, Snapshots.OccSurgical(base, untouched),
            seedMeta = GraftCatalog.seedMetaFor(store))
          return
        } catch {
          case _: Snapshots.CommitConflictException =>
            attempts += 1
            if (attempts >= 5) throw new Snapshots.CommitConflictException(
              s"DELETE on ${name()} lost the commit race $attempts times")
        }
      } else {
      val tableSchema = schema
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(cands.map(e => store.resolve(e.relPath).toString): _*)
      val have = raw.columns.toSet
      // conform physical files to the LOGICAL shape (renamed columns
      // alias over, dropped/missing ones surface as NULL), evaluate the
      // predicate logically, then re-stage survivors PHYSICAL
      val conformed = raw.select(tableSchema.fields.toIndexedSeq.map { f =>
        val phys = physicalOf(f.name)
        if (have(phys)) org.apache.spark.sql.functions.col(phys).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      // before/after ride as OBSERVED metrics of the staging write
      // itself — one job where separate count()s per statement were
      // three; `after` counts the rows the writer actually consumed
      import org.apache.spark.sql.functions.{count => cnt}
      val obsIn = new org.apache.spark.sql.Observation()
      val obsOut = new org.apache.spark.sql.Observation()
      val kept = conformed
        .observe(obsIn, cnt(lit(1)).as("n"))
        .filter(!coalesce(cond, lit(false)))
        .observe(obsOut, cnt(lit(1)).as("n"))
      // partitioned tables re-stage survivors VALUE-PURE: a flat staged
      // file would poison the `_pv=` layout for later dynamic overwrites.
      // Survivors land under PHYSICAL names either way (partCol is the
      // physical partition column, stable across renames).
      val fresh = partCol match {
        case Some(p) => Snapshots.stageOccPartitioned(spark, store, toPhysical(kept),
          p, statsCol.toSeq).map(Snapshots.foldLegacyStats(_, statsCol))
        case None => Snapshots.stageOcc(spark, store, toPhysical(kept), statsCol)
      }
      try {
        // the optimizer may fold a constant predicate's subtree away
        // (TRUNCATE's always-true delete collapses the filter to an
        // empty relation, pruning the CollectMetrics nodes) — observed
        // metrics then come back empty and we fall back to counting,
        // the staged survivors from their footers
        def stagedCount(): Long = Snapshots.stagedRows(spark, store, fresh)
        val mIn = obsIn.get
        val (before, after) =
          if (mIn.contains("n")) {
            val b = mIn("n").asInstanceOf[Long]
            val mOut = obsOut.get
            (b, if (mOut.contains("n")) mOut("n").asInstanceOf[Long] else stagedCount())
          } else (conformed.count(), stagedCount())
        require(after <= before,
          s"delete rewrite grew rows: $before -> $after; NOT committed")
        if (after == before && dropped.isEmpty) {
          // no row matched anywhere: commit nothing, reclaim staging
          Snapshots.discardStaged(store, fresh)
          return
        }
        if (after == before) {
          // candidates all survived but metadata drops still delete
          // rows: carry the ORIGINAL candidate files (no pointless
          // rewrite churn) and commit the drops alone
          Snapshots.commitOcc(store, Nil,
            Snapshots.OccSurgical(base, untouched ++ cands),
            seedMeta = GraftCatalog.seedMetaFor(store))
          Snapshots.discardStaged(store, fresh)
          return
        }
        Snapshots.commitOcc(store, fresh, Snapshots.OccSurgical(base, untouched),
          seedMeta = GraftCatalog.seedMetaFor(store))
        return
      } catch {
        case _: Snapshots.CommitConflictException =>
          attempts += 1
          Snapshots.discardStaged(store, fresh)
          if (attempts >= 5) throw new Snapshots.CommitConflictException(
            s"DELETE on ${name()} lost the commit race $attempts times")
        case e: Throwable =>
          Snapshots.discardStaged(store, fresh)
          throw e
      }
      }
      }
    }
  }

  /** Does the file's METADATA prove that EVERY row matches every one of
    * `filters` (a conjunction)? Evidence, per column: a value-pure
    * `_pv=` path segment on the partition column (all rows carry that
    * value, nulls structurally impossible — they land the default dir),
    * or the manifest zone range PLUS a footer-proven zero null count (a
    * zone map ignores nulls, and a NULL-condition row survives a SQL
    * DELETE — one possible null voids the proof). Integral domains
    * only; anything unprovable is simply not dropped.
    */
  private def provablyAllMatch(e: Snapshots.ManifestEntry,
                               filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    def zoneOf(physCol: String): Option[(Long, Long)] =
      if (partCol.contains(physCol))
        GraftScan.pvOfPath(e.relPath).flatMap(_.toLongOption).map(v => (v, v))
      else e.multi.collectFirst { case (n, lo, hi) if n == physCol => (lo, hi) }
        .orElse(if (statsCol.contains(physCol)) e.stats else None)
        .filter(_ =>
          Snapshots.fileColNulls(spark, store, e.relPath, physCol).contains(0L))
    def lv(v: Any): Option[Long] = v match {
      case l: Long  => Some(l)
      case i: Int   => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte  => Some(b.toLong)
      case _        => None
    }
    def allMatch(f: Filter): Boolean = f match {
      case EqualTo(c, v) => (zoneOf(physicalOf(c)), lv(v)) match {
        case (Some((lo, hi)), Some(x)) => lo == x && hi == x
        case _ => false
      }
      case GreaterThan(c, v) => (zoneOf(physicalOf(c)), lv(v)) match {
        case (Some((lo, _)), Some(x)) => lo > x
        case _ => false
      }
      case GreaterThanOrEqual(c, v) => (zoneOf(physicalOf(c)), lv(v)) match {
        case (Some((lo, _)), Some(x)) => lo >= x
        case _ => false
      }
      case LessThan(c, v) => (zoneOf(physicalOf(c)), lv(v)) match {
        case (Some((_, hi)), Some(x)) => hi < x
        case _ => false
      }
      case LessThanOrEqual(c, v) => (zoneOf(physicalOf(c)), lv(v)) match {
        case (Some((_, hi)), Some(x)) => hi <= x
        case _ => false
      }
      case In(c, vs) => zoneOf(physicalOf(c)) match {
        case Some((lo, hi)) => lo == hi && vs.flatMap(lv(_)).contains(lo)
        case None => false
      }
      case And(l, r) => allMatch(l) && allMatch(r)
      case _ => false
    }
    filters.nonEmpty && filters.forall(allMatch)
  }

  override def toString: String = s"GraftTable(${name()} @ $store pin=$pin)"
}

/** The staged table behind atomic `CREATE/REPLACE TABLE ... AS SELECT`
  * (and `writeTo(...).create()/createOrReplace()`): the SELECT's data
  * stages into the store's writer-unique OCC dir while the table's
  * existence bit — the `_table` marker — lands only in
  * [[commitStagedChanges]]:
  *
  *  - CTAS: the data pointer commits first (a store with no marker is
  *    not a table — invisible), then the marker rename makes the table
  *    appear FULLY POPULATED in one atomic step; a reader can never see
  *    a created-but-empty table, and a failed job leaves no table at
  *    all (abort reclaims staging and removes a dir it created).
  *  - RTAS: the staged data lands as one OCC rewrite commit against the
  *    base validated under the writer lock (a concurrent commit
  *    conflicts loudly — never silently dropped); history stays
  *    time-travelable across the replace, and there is never the
  *    no-table window of the non-staging drop-then-recreate path. The
  *    ROWS swap atomically; a schema-CHANGING replace updates the
  *    declared marker in a second rename — see commitStagedChanges for
  *    the documented reader-visible window and its repair.
  */
final class GraftStagedTable(
    spark: SparkSession,
    fullName: Seq[String],
    store: JPath,
    declared: StructType,
    props: Map[String, String],
    replace: Boolean,
    createdDir: Boolean) extends StagedTable with SupportsWrite {

  @volatile private var staged: Seq[Snapshots.ManifestEntry] = Nil
  @volatile private var wrote = false

  override def name(): String = fullName.mkString(".")
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // RTAS truncates by definition
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                ov: Boolean): Unit = {
              staged = (props.get("partitioncol"),
                  props.get("bucketcol").zip(props.get("bucketn").flatMap(_.toIntOption))) match {
                case (Some(p), _) => Snapshots.stageOccPartitioned(spark, store, data, p,
                  props.get("statscol").toSeq)
                  .map(Snapshots.foldLegacyStats(_, props.get("statscol")))
                case (None, Some((bc, nb))) =>
                  // CTAS/RTAS into a BUCKETED table stages bucket-pure
                  // (sorted when declared), so the SPJ/ordering claims
                  // are live from the table's very first snapshot
                  // instead of declining until a compact re-buckets it
                  Snapshots.stageOccBucketed(spark, store, data, bc, nb,
                    (props.get("statscol").toSeq ++ props.get("sortcol").toSeq).distinct,
                    props.get("sortcol"))
                case (None, None) =>
                  Snapshots.stageOcc(spark, store, data, props.get("statscol"))
              }
              wrote = true
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    require(wrote, s"staged table ${name()} committed before its query wrote")
    // the declared marker rides INSIDE the committed manifest
    // (manifest meta), so rows and schema publish in the SAME pointer
    // rename — a schema-changing RTAS can never be seen (or crash)
    // half-applied. The `_table` file write afterwards is a
    // non-load-bearing sync: readers resolve the snapshot's own marker
    // first (GraftCatalog.effectiveMarker).
    val meta = Map(GraftCatalog.MetaKey -> GraftCatalog.markerBody(declared, props))
    if (replace) {
      val base = Snapshots.currentId(store)
      base match {
        case Some(b) => Snapshots.commitOcc(store, staged, Snapshots.OccRewrite(b), Some(meta))
        case None    => Snapshots.commitOcc(store, staged, Snapshots.OccAppend, Some(meta))
      }
      // the data files now belong to the table's current manifest: a
      // late failure (marker write) must never let abort delete them
      staged = Nil
      GraftCatalog.writeMarker(store, declared, props)
    } else {
      // data pointer first (markerless store = not a table), marker last:
      // the table appears fully populated in one rename
      Snapshots.commitOcc(store, staged, Snapshots.OccAppend, Some(meta))
      staged = Nil
      GraftCatalog.writeMarker(store, declared, props)
      JFiles.deleteIfExists(store.resolve(GraftCatalog.CtasClaim))
    }
  }

  override def abortStagedChanges(): Unit = {
    Snapshots.discardStaged(store, staged) // Nil after a successful commit
    JFiles.deleteIfExists(store.resolve(GraftCatalog.CtasClaim))
    if (createdDir && !JFiles.exists(store.resolve(GraftCatalog.Marker))) {
      // we made this dir and never published a marker: remove the husk
      // ONLY if nothing else landed meanwhile (a concurrent real table)
      try GraftCatalog.rmTree(store) catch { case _: Exception => () }
    }
  }

  override def toString: String = s"GraftStagedTable(${name()} replace=$replace)"
}

/** A read-only metadata relation of a catalog table (`t.snapshots`,
  * `t.files`, `t.refs`) — rows come purely from manifests and ref files
  * (never a data file), so they are tiny by construction and served as a
  * DSv2 [[org.apache.spark.sql.connector.read.LocalScan]]: driver-local
  * rows, no job, exactly how engines expose O(#commits) introspection.
  */
final class GraftMetaTable(tableName: String,
                           df: org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {

  override def name(): String = tableName
  override lazy val schema: StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // prune INSIDE the scan: a residual Project over the LocalScan
      // would wrap the collect in whole-stage codegen and turn a
      // driver-local metadata read into a (tiny but real) Spark job
      private var required: StructType = df.schema

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          // executeCollect returns InternalRows already in the pruned
          // schema; metadata relations are O(#manifests) small, and a
          // LocalRelation-backed df collects without any job
          private val pruned =
            if (required.fieldNames.sameElements(df.columns)) df
            else df.select(required.fieldNames.toIndexedSeq.map(
              org.apache.spark.sql.functions.col): _*)
          private val collected =
            pruned.queryExecution.executedPlan.executeCollect()
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            collected.map(_.copy())
          override def readSchema(): StructType = required
          override def description(): String = s"GraftMetaTable($tableName)"
        }
    }

  override def toString: String = s"GraftMetaTable($tableName)"
}

object GraftTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** Evolved-schema memo: a snapshot is immutable, so its footer-derived
    * schema never changes. Bounded — a long-lived session over many temp
    * stores must not leak; on overflow the whole memo resets (it is a
    * pure cache).
    */
  private[sources] val evolvedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String), StructType]() {
      override def computeIfAbsent(
          k: (String, Int, String),
          f: java.util.function.Function[_ >: (String, Int, String), _ <: StructType]):
          StructType = {
        if (size() > 4096) clear()
        super.computeIfAbsent(k, f)
      }
    }

  /** V1 Filter → Column, for the delete predicate. `None` = a shape we
    * cannot evaluate row-level → `canDeleteWhere` refuses and Spark
    * raises the analysis error instead of a silent wrong delete.
    */
  private[sources] def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) =>
      for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
    case Not(c)        => filterColumn(c).map(!_)
    case _: AlwaysTrue  => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** Write builder of a PLAIN (unpartitioned, unbucketed) catalog table.
  * Batch statements keep the V1 path (InsertableRelation over the
  * layer's OCC stage+commit — there is no layout for the engine to
  * plan, so V1's mature fallback costs nothing); `writeStream.toTable`
  * gets the DSv2 [[GraftStreamingWrite]]: flat epoch staging
  * ([[GraftEpochPlainFactory]]) committed append-wise, upsert-wise on
  * `morkey` tables, or as a whole-table replace in complete mode.
  * Instantiated `with SupportsStreamingUpdateAsAppend` iff the table
  * declares a `morkey` — update-mode output is only sound when each
  * epoch upserts by key.
  */
private[sources] class GraftPlainWriteBuilder(
    spark: SparkSession,
    store: JPath,
    statsCol: Option[String],
    colMap: Map[String, String],
    tableName: String,
    morKeysPhys: Seq[String],
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** Incoming frames carry LOGICAL names; files carry PHYSICAL. */
  private def toPhysical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (colMap.isEmpty) df
    else df.toDF(df.columns.map(c => colMap.getOrElse(c, c)).toIndexedSeq: _*)

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data0: org.apache.spark.sql.DataFrame,
                            ov: Boolean): Unit = {
          // files carry PHYSICAL column names (stable across renames)
          val data = toPhysical(data0)
          val seed = GraftCatalog.seedMetaFor(store)
          Option(info.options.get("branch")) match {
            case Some(b) =>
              // WAP staging: the write lands BEHIND the named branch
              // ref — `_current` readers can never see it until
              // adopt_branch. Append extends the branch head;
              // overwrite replaces it. The branch must already exist
              // (CALL system.create_branch) — publishToBranch refuses
              // loudly otherwise, and refuses tags always.
              Snapshots.publishToBranch(spark, store, b, data,
                append = !(overwrite || ov), statsCol = statsCol)
              return
            case None => ()
          }
          if (overwrite || ov) {
            var attempts = 0
            while (attempts < 5) {
              val base = Snapshots.currentId(store)
              val fresh = Snapshots.stageOcc(spark, store, data, statsCol)
              try {
                Snapshots.commitOcc(store, fresh,
                  base.map(Snapshots.OccRewrite).getOrElse(Snapshots.OccAppend),
                  seedMeta = seed)
                return
              } catch {
                case _: Snapshots.CommitConflictException =>
                  attempts += 1
                  Snapshots.discardStaged(store, fresh)
                  if (attempts >= 5) throw new Snapshots.CommitConflictException(
                    s"INSERT OVERWRITE on $tableName lost the commit race $attempts times")
                case e: Throwable =>
                  Snapshots.discardStaged(store, fresh)
                  throw e
              }
            }
          } else {
            // OCC append: founds the table if no snapshot exists and
            // REBASES onto whatever is latest at commit time, so two
            // concurrent first INSERT INTOs both land (an
            // append-vs-found decision taken outside the lock would
            // let the second founding commit silently replace the
            // first's manifest)
            val fresh = Snapshots.stageOcc(spark, store, data, statsCol)
            try Snapshots.commitOcc(store, fresh, Snapshots.OccAppend,
              seedMeta = seed)
            catch { case e: Throwable =>
              Snapshots.discardStaged(store, fresh); throw e }
          }
        }
      }

    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(Option(info.options.get("branch")).isEmpty,
        "branch writes have no streaming face — epochs commit to _current " +
          "(stage a mirror table and adopt, or drop the option)")
      val inSchema = info.schema()
      val physSchema = StructType(inSchema.fields.map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name))).toIndexedSeq)
      val job = org.apache.hadoop.mapreduce.Job.getInstance(
        spark.sessionState.newHadoopConf())
      val owFactory =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
          .prepareWrite(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            job, Map.empty, physSchema)
      val baseDir = store.resolve("data").resolve(
        "stream-" + java.util.UUID.randomUUID().toString)
      JFiles.createDirectories(baseDir)
      val factory = new GraftEpochPlainFactory(baseDir.toString, physSchema,
        owFactory,
        new org.apache.spark.util.SerializableConfiguration(job.getConfiguration),
        spark.sessionState.conf.maxRecordsPerFile)
      val streamMode =
        if (overwrite) GraftStreamComplete
        else if (morKeysPhys.nonEmpty) GraftStreamUpsert(morKeysPhys)
        else GraftStreamAppend
      new GraftStreamingWrite(spark, store, statsCol.toSeq, factory, baseDir,
        streamMode, () => GraftCatalog.seedMetaFor(store),
        autoExpire = GraftCatalog.readMarker(store)._2
          .get("autoexpire").flatMap(_.toIntOption))
    }
  }
}
