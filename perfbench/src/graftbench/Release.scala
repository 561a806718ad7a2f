package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

/** BSD `sum`: 16-bit right-rotating checksum and 1 KiB block count. Kept
  * apart from the program's own kernel so a checksum bug there cannot
  * verify itself.
  */
object BsdSum {
  def apply(bytes: Array[Byte]): (Int, Long) = {
    var sum = 0
    bytes.foreach { b =>
      sum = ((sum >>> 1) | ((sum & 1) << 15)) + (b & 0xff)
      sum &= 0xffff
    }
    (sum, (bytes.length + 1023L) / 1024)
  }
}

/** Order-independent content hash of a table: row count plus a wrapping
  * sum of 64-bit row hashes over a canonical rendering of each row
  * (values joined by \u0001, NULL as a token no value contains).
  */
object RowHash {
  val Sep = "\u0001"
  val NullTok = "<null>"
  def line(values: Seq[String]): String = values.map(v => if (v == null) NullTok else v).mkString(Sep)
  def of(line: String): Long =
    (MurmurHash3.stringHash(line, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(line) & 0xffffffffL)
}

/** A table of the generated release: MySQL DDL, rows as canonical strings. */
final case class TableData(name: String, ddl: Seq[(String, String)], parts: Int,
                           rows: IndexedSeq[Array[String]]) {
  def rowCount: Long = rows.size.toLong
  def hash: Long = rows.iterator.map(r => RowHash.of(RowHash.line(r.toSeq))).sum
}

final case class DbData(name: String, tables: Seq[TableData])

/** Seeded Ensembl-style release: per database a directory holding the
  * `<db>.sql` DDL, `<table>.txt.gz` / `<table>.NNNN.txt.gz` MySQL-dump
  * parts and a BSD-sum `CHECKSUMS`. One part of one small database is
  * overwritten after its checksum was taken.
  */
object Release {
  val Words: IndexedSeq[String] = ("key agg row scan slow fast table value part hash window " +
    "merge batch spark line sort data column order query join small big filter group " +
    "stream vector customer the a release gene exon mirror load dump").split(" ").toIndexedSeq

  /** (db name, orders rows). The first is the large database. */
  val Dbs: Seq[(String, Int)] = Seq(
    "homo_sapiens_core_110_1" -> 12000,
    "mus_musculus_core_110_1" -> 1500,
    "danio_rerio_core_110_1" -> 800,
    "ensembl_mart_110" -> 400)

  /** Species names whose `_core_110_1` databases the discovery listing holds. */
  val Species: Seq[String] = Seq("HOMO SAPIENS", "MUS MUSCULUS", "DANIO RERIO")

  val Users = 2

  private def words(r: SplittableRandom, lo: Int, hi: Int): String =
    Seq.fill(lo + r.nextInt(hi - lo + 1))(Words(r.nextInt(Words.size))).mkString(" ")

  /** Free text that sometimes needs dump escaping, sometimes is NULL. */
  private def comment(r: SplittableRandom): String = r.nextInt(100) match {
    case 0 => null
    case 1 => words(r, 1, 3) + "\t" + words(r, 1, 3)
    case 2 => words(r, 1, 3) + "\n" + words(r, 1, 2)
    case 3 => words(r, 1, 2) + " C:\\dir\\" + words(r, 1, 1)
    case _ => words(r, 2, 8)
  }

  private def money(r: SplittableRandom, maxCents: Int, signed: Boolean = false): String = {
    val c = r.nextInt(maxCents) - (if (signed) maxCents / 10 else 0)
    val a = math.abs(c)
    (if (c < 0) "-" else "") + s"${a / 100}.${"%02d".format(a % 100)}"
  }

  private def date(r: SplittableRandom): String = {
    val d = java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400).toLong)
    d.toString
  }

  private def datetime(r: SplittableRandom): String =
    date(r) + " %02d:%02d:%02d".format(r.nextInt(24), r.nextInt(60), r.nextInt(60))

  def database(seed: Long, db: String, orders: Int): DbData = {
    def rng(t: String) = new SplittableRandom(seed * 1000003L ^ MurmurHash3.stringHash(db + "/" + t))
    val customers = math.max(10, orders / 10)
    val parts = math.max(10, orders / 8)
    val suppliers = math.max(5, orders / 100)
    def tbl(name: String, parts: Int, ddl: Seq[(String, String)], n: Int)(row: (SplittableRandom, Int) => Array[String]) = {
      val r = rng(name)
      TableData(name, ddl, parts, (0 until n).map(i => row(r, i)))
    }
    val nation = tbl("nation", 1, Seq("n_nationkey" -> "int(11)", "n_name" -> "varchar(25)",
      "n_regionkey" -> "int(11)", "n_comment" -> "text"), 25) { (r, i) =>
      Array(i.toString, s"NATION_$i", (i % 5).toString, comment(r)) }
    val customer = tbl("customer", 1, Seq("c_custkey" -> "int(10) unsigned",
      "c_name" -> "varchar(25)", "c_nationkey" -> "int(11)", "c_acctbal" -> "decimal(12,2)",
      "c_mktsegment" -> "varchar(10)", "c_comment" -> "text"), customers) { (r, i) =>
      Array((i + 1).toString, f"Customer#${i + 1}%09d", r.nextInt(25).toString,
        money(r, 1000000, signed = true),
        Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")(r.nextInt(5)),
        comment(r)) }
    val orderRows = tbl("orders", 4, Seq("o_orderkey" -> "bigint(20)",
      "o_custkey" -> "int(10) unsigned", "o_orderstatus" -> "char(1)",
      "o_totalprice" -> "decimal(12,2)", "o_orderdate" -> "datetime",
      "o_orderpriority" -> "varchar(15)", "o_comment" -> "text"), orders) { (r, i) =>
      Array((i * 4 + 1).toString, (1 + r.nextInt(customers)).toString,
        Seq("O", "F", "P")(r.nextInt(3)), money(r, 50000000), datetime(r),
        s"${1 + r.nextInt(5)}-PRIORITY", comment(r)) }
    val lr = rng("lineitem")
    val lineRows = ArrayBuffer.empty[Array[String]]
    (0 until orders).foreach { o =>
      (1 to 1 + lr.nextInt(7)).foreach { ln =>
        lineRows += Array((o * 4 + 1).toString, (1 + lr.nextInt(parts)).toString,
          (1 + lr.nextInt(suppliers)).toString, ln.toString, s"${1 + lr.nextInt(50)}.00",
          money(lr, 10000000), s"0.0${lr.nextInt(10)}", s"0.0${lr.nextInt(9)}",
          Seq("R", "A", "N")(lr.nextInt(3)), Seq("O", "F")(lr.nextInt(2)), date(lr),
          comment(lr))
      }
    }
    val lineitem = TableData("lineitem", Seq("l_orderkey" -> "bigint(20)",
      "l_partkey" -> "int(10) unsigned", "l_suppkey" -> "int(10) unsigned",
      "l_linenumber" -> "int(11)", "l_quantity" -> "decimal(12,2)",
      "l_extendedprice" -> "decimal(12,2)", "l_discount" -> "decimal(4,2)",
      "l_tax" -> "decimal(4,2)", "l_returnflag" -> "char(1)", "l_linestatus" -> "char(1)",
      "l_shipdate" -> "date", "l_comment" -> "text"),
      if (orders >= 5000) 8 else 2, lineRows.toIndexedSeq)
    DbData(db, Seq(nation, customer, orderRows, lineitem))
  }

  def escape(v: String): String =
    if (v == null) "\\N"
    else {
      val sb = new StringBuilder
      v.foreach {
        case '\\' => sb ++= "\\\\"
        case '\t' => sb ++= "\\t"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\u0000' => sb ++= "\\0"
        case c => sb += c
      }
      sb.toString
    }

  private def gzip(text: String): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bo)
    gz.write(text.getBytes(UTF_8))
    gz.close()
    bo.toByteArray
  }

  def ddl(t: TableData): String =
    t.ddl.map { case (c, ty) => s"  `$c` $ty" }
      .mkString(s"CREATE TABLE `${t.name}` (\n", ",\n", s",\n  PRIMARY KEY (`${t.ddl.head._1}`)\n) ENGINE=MyISAM DEFAULT CHARSET=latin1;\n")

  /** File name of part `i` (0-based) of `t`. */
  def partName(t: TableData, i: Int): String =
    if (t.parts == 1) s"${t.name}.txt.gz" else f"${t.name}.${i + 1}%04d.txt.gz"

  final case class Written(dbs: Seq[DbData], corruptDb: String, corruptFile: String,
                           uncompressedBytes: Map[String, Long], gzBytes: Map[String, Long])

  /** Writes the release under `dir` (which must not exist yet). */
  def write(dir: Path, seed: Long): Written = {
    val dbs = Dbs.map { case (n, o) => database(seed, n, o) }
    val pick = new SplittableRandom(seed ^ 0xc0ffeeL)
    val corruptDb = Dbs(1 + pick.nextInt(Dbs.size - 1))._1
    val victims = dbs.find(_.name == corruptDb).get.tables.flatMap(t => (0 until t.parts).map(partName(t, _)))
    val corruptFile = victims(pick.nextInt(victims.size))
    val raw = Map.newBuilder[String, Long]
    val gz = Map.newBuilder[String, Long]
    dbs.foreach { db =>
      val d = dir.resolve(db.name)
      Files.createDirectories(d)
      val views = s"CREATE ALGORITHM=UNDEFINED DEFINER=`ensro`@`%` SQL SECURITY DEFINER " +
        s"VIEW `${db.name.take(6)}_view` AS select 1 AS `one`;\n"
      Files.write(d.resolve(s"${db.name}.sql"), (db.tables.map(ddl).mkString + views).getBytes(UTF_8))
      val sums = ArrayBuffer.empty[String]
      var rawBytes = 0L
      var gzBytes = 0L
      db.tables.foreach { t =>
        (0 until t.parts).foreach { i =>
          val lo = t.rows.size * i / t.parts
          val hi = t.rows.size * (i + 1) / t.parts
          val text = t.rows.slice(lo, hi).map(_.map(escape).mkString("\t")).mkString("", "\n", "\n")
          val f = partName(t, i)
          val bytes = gzip(text)
          val (sum, blocks) = BsdSum(bytes)
          sums += "%05d %5d %s".format(sum, blocks, f)
          rawBytes += text.getBytes(UTF_8).length
          gzBytes += bytes.length
          // the corrupt part still decodes: one row's text differs from
          // what the manifest was computed over
          val stored = if (db.name == corruptDb && f == corruptFile) gzip(text.replaceFirst("\t", "\t9")) else bytes
          Files.write(d.resolve(f), stored)
        }
      }
      Files.write(d.resolve("CHECKSUMS"), sums.mkString("", "\n", "\n").getBytes(UTF_8))
      raw += db.name -> rawBytes
      gz += db.name -> gzBytes
    }
    Written(dbs, corruptDb, corruptFile, raw.result(), gz.result())
  }

  /** MD5 over every file name and byte under `dir`, in name order. */
  def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("MD5")
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        .sortBy(p => dir.relativize(p).toString).foreach { p =>
          md.update(dir.relativize(p).toString.getBytes(UTF_8))
          md.update(Files.readAllBytes(p))
        }
    } finally walk.close()
    md.digest().map("%02x".format(_)).mkString
  }
}
