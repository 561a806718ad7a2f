package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import graft.etl.Snapshots
import graft.sources.GraftCatalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.functions.col

/** `release_sync`: a nightly refresh of a loaded mirror table through the
  * SQL catalog. Each round runs MERGE / UPDATE / DELETE (each touching 1%
  * of keys, in a seed-chosen order) with consumer reads after every
  * statement — a point lookup or a date-range scan zone maps can prune —
  * one `VERSION AS OF` read, then a `CALL compact`.
  */
final class ReleaseSync(spark: SparkSession, rec: Recorder, work: Path, seed: Long)
    extends Workload {
  import ReleaseSync._
  import spark.implicits._

  private var cat: String = _
  private var root: Path = _
  private def store: Path = root.resolve("items")
  private def tbl = s"$cat.items"
  private val model = mutable.HashMap.empty[Long, Item]
  private var maxKey = 0L
  private var v0 = 0
  private var v0Agg: (Long, Long, Long) = _
  private var mismatches = Vector.empty[String]
  private val rng = new SplittableRandom(seed ^ 0x5f5eL)

  private def baseItem(r: SplittableRandom, k: Long) =
    Item(k, r.nextInt(365).toLong, r.nextInt(100).toLong, r.nextInt(1000000).toLong,
      Release.Words(r.nextInt(Release.Words.size)))

  def setup(rep: Int): Unit = {
    if (root != null) Fs.rm(root)
    cat = s"sync$rep"
    root = work.resolve(s"warehouse-$rep")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    val r = new SplittableRandom(seed)
    model.clear()
    (1L to Rows).foreach(k => model(k) = baseItem(r, k))
    maxKey = Rows
    spark.sql(s"CREATE TABLE $tbl (k BIGINT NOT NULL, day BIGINT, qty BIGINT, cents BIGINT, " +
      "tag STRING) TBLPROPERTIES ('morkey'='k', 'statscol'='day')")
    // range-clustered on day, so date-range reads can skip files
    model.values.toSeq.sortBy(_.k).toDF().repartitionByRange(8, col("day"))
      .sortWithinPartitions("day").writeTo(tbl).append()
    v0 = Snapshots.currentId(store).get
    v0Agg = agg(model.values)
  }

  private def agg(items: Iterable[Item]): (Long, Long, Long) =
    (items.size.toLong, items.map(_.cents).sum, items.map(_.qty).sum)

  private def rowBytes(i: Item): Double = 32.0 + i.tag.length

  /** `pmod(k * a + b, 100) = 0`: exactly 1% of any 100 consecutive keys. */
  private final case class Sel(a: Int, b: Int) {
    def sql = s"pmod(k * $a + $b, 100) = 0"
    def apply(k: Long): Boolean = Math.floorMod(k * a + b, 100L) == 0
  }

  private def newSel(): Sel = Sel(Seq(3, 7, 11, 13, 17, 19, 21, 23)(rng.nextInt(8)), rng.nextInt(100))

  /** Runs one DML statement, then records files and bytes it added. */
  private def dml(kind: String, sql: String, touched: Seq[Item]): Unit = {
    val before = Snapshots.currentId(store).map(Snapshots.manifest(store, _).map(_.relPath).toSet)
      .getOrElse(Set.empty)
    rec.op("dml") {
      rec.span("dml") {
        rec.span(s"dml.$kind")(spark.sql(sql))
      }
    }
    val added = Snapshots.manifest(store, Snapshots.currentId(store).get)
      .filterNot(e => before.contains(e.relPath))
    val bytes = touched.map(rowBytes).sum
    rec.addWork("mb", bytes / 1e6)
    rec.addWork("written_bytes", added.map(_.bytes).sum.toDouble)
    rec.traceAttrs(s"dml.$kind", Map("files_added" -> added.size.toDouble,
      "bytes_added" -> added.map(_.bytes).sum.toDouble))
  }

  /** Runs a consumer read and checks its rows. */
  private def read(kind: String, sql: String, expect: Seq[Row]): Unit = {
    val got = rec.op("read") {
      rec.span("scan") {
        val df = spark.sql(sql)
        rec.span("scan.plan")(df.queryExecution.executedPlan)
        val rows = rec.span("scan.exec")(df.collect().toSeq)
        if (rec.isTracing) {
          val files = scanFiles(df)
          val total = Snapshots.manifest(store, Snapshots.currentId(store).get)
            .count(e => !e.relPath.startsWith("deletes/"))
          val deletes = files.count(_.contains("/deletes/"))
          rec.attr("files_read", (files.size - deletes).toDouble)
          rec.attr("files_total", total.toDouble)
          rec.attr("delete_files", deletes.toDouble)
        }
        rows
      }
    }
    got.foreach { rows =>
      if (rows.map(_.toString).sorted != expect.map(_.toString).sorted && mismatches.size < 5)
        mismatches :+= s"$kind `$sql`: got ${rows.take(3)}, expected ${expect.take(3)}"
    }
  }

  private def pointRead(): Unit = {
    val k = 1 + rng.nextLong(maxKey)
    read("point", s"SELECT k, day, qty, cents, tag FROM $tbl WHERE k = $k",
      model.get(k).map(i => Row(i.k, i.day, i.qty, i.cents, i.tag)).toSeq)
  }

  private def rangeRead(): Unit = {
    val lo = rng.nextInt(358)
    val in = model.values.filter(i => i.day >= lo && i.day <= lo + 6)
    read("range", s"SELECT count(*), coalesce(sum(cents), 0) FROM $tbl " +
      s"WHERE day BETWEEN $lo AND ${lo + 6}", Seq(Row(in.size.toLong, in.map(_.cents).sum)))
  }

  def pass(p: Int): Unit = {
    val stmts = rng.nextInt(6) match {
      case 0 => Seq("merge", "update", "delete")
      case 1 => Seq("merge", "delete", "update")
      case 2 => Seq("update", "merge", "delete")
      case 3 => Seq("update", "delete", "merge")
      case 4 => Seq("delete", "merge", "update")
      case _ => Seq("delete", "update", "merge")
    }
    val round = p + 2 // warm-up pass is -1; keep every round's values distinct from the base
    stmts.zipWithIndex.foreach { case (s, n) =>
      val sel = newSel()
      s match {
        case "merge" =>
          val upd = (1L to maxKey).filter(sel(_)).map { k =>
            model.get(k).map(_.copy(cents = (k * 31 + round * 7) % 1000000, tag = s"m$round"))
              .getOrElse(Item(k, k % 365, 1, (k * 31 + round * 7) % 1000000, s"m$round"))
          }
          val ins = (maxKey + 1 to maxKey + Rows / 200).map(k => Item(k, k % 365, 1, k % 1000, s"n$round"))
          val src = upd ++ ins
          val view = s"src_${cat}_${p + 1}"
          src.toDF().createOrReplaceTempView(view)
          dml("merge", s"MERGE INTO $tbl t USING $view s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET cents = s.cents, tag = s.tag " +
            "WHEN NOT MATCHED THEN INSERT *", src)
          spark.catalog.dropTempView(view)
          src.foreach(i => model(i.k) = model.get(i.k).map(_.copy(cents = i.cents, tag = i.tag)).getOrElse(i))
          maxKey += Rows / 200
        case "update" =>
          val hit = model.values.filter(i => sel(i.k)).toSeq
          dml("update", s"UPDATE $tbl SET qty = qty + $round WHERE ${sel.sql}", hit)
          hit.foreach(i => model(i.k) = i.copy(qty = i.qty + round))
        case "delete" =>
          val hit = model.values.filter(i => sel(i.k)).toSeq
          dml("delete", s"DELETE FROM $tbl WHERE ${sel.sql}", hit)
          hit.foreach(i => model.remove(i.k))
      }
      if (n % 2 == 0) pointRead() else rangeRead()
    }
    read("version", s"SELECT count(*), sum(cents), sum(qty) FROM $tbl VERSION AS OF $v0",
      Seq(Row(v0Agg._1, v0Agg._2, v0Agg._3)))
    locally {
      val before = Snapshots.manifest(store, Snapshots.currentId(store).get).map(_.relPath).toSet
      rec.op("compact", record = false) {
        rec.span("compact")(spark.sql(s"CALL $cat.system.compact(tbl => 'items', target_files => 8)").collect())
      }
      val added = Snapshots.manifest(store, Snapshots.currentId(store).get)
        .filterNot(e => before.contains(e.relPath))
      rec.addWork("written_bytes", added.map(_.bytes).sum.toDouble)
      rec.traceAttrs("compact", Map("bytes_rewritten" -> added.map(_.bytes).sum.toDouble))
    }
  }

  def verify(): Unit = {
    rec.gate("consumer reads return the expected rows", mismatches.isEmpty, mismatches.mkString("; "))
    val got = spark.sql(s"SELECT k, day, qty, cents, tag FROM $tbl").as[Item].collect()
    val extra = got.filterNot(i => model.get(i.k).contains(i))
    rec.gate("final table equals the expected state",
      got.length == model.size && extra.isEmpty && got.map(_.k).distinct.length == got.length,
      s"${got.length} rows vs ${model.size} expected; unexpected rows ${extra.take(3).toSeq}")
    rec.addWork("final_stored_bytes", Fs.size(store).toDouble)
    rec.addWork("final_live_bytes", model.values.map(rowBytes).sum)
  }

  /** Files the executed plan's file scans read. */
  private def scanFiles(df: DataFrame): Seq[String] = {
    def files(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => files(a.executedPlan)
      case q: QueryStageExec        => files(q.plan)
      case f: FileSourceScanExec    => f.relation.location.inputFiles.toSeq
      case b: BatchScanExec => b.scan match {
        case g: graft.sources.GraftScan => g.parquet.fileIndex.inputFiles.toSeq
        case s: FileScan                => s.fileIndex.inputFiles.toSeq
        case _                          => Nil
      }
      case o => o.children.flatMap(files) ++ o.subqueries.flatMap(files)
    }
    files(df.queryExecution.executedPlan)
  }
}

object ReleaseSync {
  val Rows = 40000L
  final case class Item(k: Long, day: Long, qty: Long, cents: Long, tag: String)
}
