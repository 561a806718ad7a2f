package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.etl.{Checksums, Discovery, MySqlDump, Snapshots, SplitFiles, SqlDdl, TxnCatalog}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** `release_load`: the mirror pipeline end to end on a generated release —
  * discover and route, checksum-verify, parse DDL, decode split dump
  * parts into staged snapshots, one catalog commit per database, analyze,
  * grant, summarise.
  */
final class ReleaseLoad(spark: SparkSession, rec: Recorder, work: Path, seed: Long)
    extends Workload {
  import ReleaseLoad._
  import spark.implicits._

  private val meta = work.resolve("meta")
  private var relDir: Path = _
  private var rel: Release.Written = _
  private var digests = Vector.empty[String]
  private var last: Option[PassOutcome] = None

  def setup(rep: Int): Unit = {
    if (relDir != null) Fs.rm(relDir)
    relDir = work.resolve(s"release-$rep")
    rel = Release.write(relDir, seed)
    digests :+= Release.digest(relDir)
    // the discovery listing is derived from the species table
    Release.Species.zipWithIndex.map { case (n, i) => (i, n, 0) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(meta.resolve("nation.parquet").toString)
  }

  def pass(p: Int): Unit = {
    val mirror = work.resolve(s"mirror-$p")
    val listing = Fs.list(relDir).map(d => d.getFileName.toString -> Fs.list(d).map(_.getFileName.toString))
    val (routed, parts) = rec.span("discovery") {
      val dbs = listing.map(_._1).toDF("db")
      val routed = Discovery.prioritise(spark, meta.toString).join(dbs, Seq("db"))
        .orderBy(desc("flow"), col("db")).select("db").as[String].collect().toSeq
      val parts = listing.map { case (db, files) =>
        db -> SplitFiles.group(files.toDF("file")).select("table_name", "parts")
          .as[(String, String)].collect().toMap
      }.toMap
      (routed, parts)
    }
    val outcomes = routed.flatMap { db =>
      val t0 = System.nanoTime()
      rec.op("db", record = false)(loadDb(db, parts(db), mirror)).map { o =>
        if (o.committed) {
          rec.sample("db_load", (System.nanoTime() - t0) / 1e6)
          rec.addWork("mb", rel.uncompressedBytes(db) / 1e6)
        }
        o
      }
    }
    val committed = outcomes.filter(_.committed)
    committed.foreach { o =>
      o.tables.foreach { case (t, (id, cols)) =>
        rec.op("analyze", record = false) {
          rec.span("analyze")(Snapshots.analyzeColumns(spark,
            TxnCatalog.tableRoot(mirror.resolve(o.db), t), id, cols))
        }
      }
    }
    val grants = rec.op("grant", record = false) {
      rec.span("grant") {
        Discovery.grantDdl(spark, meta.toString)
          .join(committed.map(_.db).toDF("db"), Seq("db")).select("db", "grantee").collect().length
      }
    }.getOrElse(-1)
    val summary = rec.op("summary", record = false) {
      rec.span("summary") {
        outcomes.map(o => (o.db, if (o.committed) "DONE" else "FAILED", o.tables.size, o.flagged.size))
          .toDF("db", "status", "n_tables", "n_flagged")
          .groupBy("status").agg(sort_array(collect_list("db")).as("dbs"))
          .as[(String, Seq[String])].collect().toMap
      }
    }.getOrElse(Map.empty)
    rec.addWork("stored_bytes", Fs.size(mirror).toDouble)
    rec.addWork("input_bytes", committed.map(o => rel.uncompressedBytes(o.db)).sum.toDouble)
    last = Some(PassOutcome(mirror, routed, outcomes, grants, summary))
  }

  private def loadDb(db: String, parts: Map[String, String], mirror: Path): DbOutcome = {
    val dbDir = relDir.resolve(db)
    val flagged = rec.span("checksums") {
      rec.attr("bytes", rel.gzBytes(db).toDouble)
      val computed = Checksums.forFiles(spark, s"$dbDir/*.txt.gz")
      val manifest = Checksums.parseManifest(spark.read.text(dbDir.resolve("CHECKSUMS").toString))
      computed.join(manifest, Seq("file"), "full_outer")
        .filter(!(col("bsd_sum") <=> col("checksum")))
        .select("file").as[String].collect().toSet
    }
    if (flagged.nonEmpty) DbOutcome(db, committed = false, flagged, Map.empty)
    else {
      val tables = rec.span("ddl") {
        SqlDdl.parse(new String(Files.readAllBytes(dbDir.resolve(s"$db.sql")), UTF_8))
          .filterNot(_.isView)
      }
      val cat = mirror.resolve(db)
      val staged = tables.map { t =>
        val files = parts(t.name).split(",")
        val path = if (files.length == 1) s"$dbDir/${files.head}" else files.mkString(s"$dbDir/{", ",", "}")
        val schema = t.toStructType
        val key = schema.fields.headOption.filter(f => f.dataType == LongType || f.dataType == IntegerType)
        val id = rec.span("load") {
          Snapshots.stageOnto(spark, TxnCatalog.tableRoot(cat, t.name),
            MySqlDump.readTable(spark, path, schema), None, key.map(_.name))
        }
        t.name -> (id, schema.fieldNames.take(1).toSeq)
      }.toMap
      rec.span("commit")(TxnCatalog.commit(cat, staged.map { case (t, (id, _)) => t -> id }, None))
      DbOutcome(db, committed = true, Set.empty, staged)
    }
  }

  def verify(): Unit = {
    rec.gate("release byte-identical for one seed", digests.distinct.size == 1,
      s"digests differ across set-ups: $digests")
    val o = last.getOrElse(throw new IllegalStateException("no pass ran"))
    val names = Release.Dbs.map(_._1)
    rec.gate("every database routed", o.routed.sorted == names.sorted, s"routed ${o.routed}")
    o.outcomes.foreach { d =>
      val want = if (d.db == rel.corruptDb) Set(rel.corruptFile) else Set.empty[String]
      rec.gate(s"verify flags exactly the corrupt part of ${d.db}", d.flagged == want,
        s"flagged ${d.flagged}, expected $want")
      rec.gate(s"${d.db} committed iff it verified",
        d.committed == (d.db != rel.corruptDb) &&
          TxnCatalog.version(o.mirror.resolve(d.db)).isDefined == d.committed,
        s"committed=${d.committed}")
    }
    val done = names.filterNot(_ == rel.corruptDb).sorted
    rec.gate("summary lists the corrupt database as failed",
      o.summary.get("FAILED").contains(Seq(rel.corruptDb)) && o.summary.get("DONE").contains(done),
      s"summary ${o.summary}")
    rec.gate("grant rows = databases x users", o.grants == done.size * Release.Users,
      s"${o.grants} grant rows for ${done.size} databases")
    for (d <- o.outcomes if d.committed; t <- rel.dbs.find(_.name == d.db).get.tables) {
      val cat = o.mirror.resolve(d.db)
      val got = tableHash(TxnCatalog.readTable(spark, cat, t.name), t.ddl.map(_._1))
      rec.gate(s"${d.db}.${t.name} equals its source", got == (t.rowCount, t.hash),
        s"(rows, hash) $got, source ${(t.rowCount, t.hash)}")
    }
  }

  /** Row count and order-independent row hash of a loaded table. */
  private def tableHash(df: DataFrame, cols: Seq[String]): (Long, Long) =
    df.select(concat_ws(RowHash.Sep,
        cols.map(c => coalesce(col(c).cast("string"), lit(RowHash.NullTok))): _*))
      .as[String]
      .mapPartitions { it =>
        var n = 0L
        var h = 0L
        it.foreach { l => n += 1; h += RowHash.of(l) }
        Iterator((n, h))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
}

object ReleaseLoad {
  final case class DbOutcome(db: String, committed: Boolean, flagged: Set[String],
                             tables: Map[String, (Int, Seq[String])])
  final case class PassOutcome(mirror: Path, routed: Seq[String], outcomes: Seq[DbOutcome],
                               grants: Int, summary: Map[String, Seq[String]])
}

/** File-system helpers for the benchmark's working directory. */
object Fs {
  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  def size(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  def rm(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
  }
}
