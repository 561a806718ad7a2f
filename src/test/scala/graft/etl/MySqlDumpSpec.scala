package graft.etl

import graft.TestSpark
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class MySqlDumpSpec extends AnyFunSuite {

  test("escape/unescape round-trips nasty strings") {
    val nasty = Seq(
      "plain", "tab\there", "nl\nhere", "cr\rhere", "back\\slash",
      "\\N", "\\\\t", "nul\u0000char", "ctrlz\u001achar", "\t\n\r\\", "")
    nasty.foreach { s =>
      assert(MySqlDumpImpl.unescape(MySqlDumpImpl.escape(s)) == s, s"for ${s.map(_.toInt)}")
    }
  }

  test("escape/unescape round-trips arbitrary strings (property, seeded)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab\t\n\r\\\u0000\u001aNxyz 09"
    (0 until 500).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(MySqlDumpImpl.unescape(MySqlDumpImpl.escape(s)) == s, s.map(_.toInt).toString)
    }
  }

  test("ragged rows load as nulls instead of failing the whole job (ANSI-safe)") {
    val s = TestSpark.spark
    import s.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("a", StringType), StructField("b", StringType)))
    val dir = Files.createTempDirectory("ragged").toString + "/t"
    Seq("1\tx\ty", "2\tonly-two-fields", "3").toDF("value")
      .write.mode("overwrite").text(dir)
    val rows = MySqlDump.readTable(s, dir, schema).collect().sortBy(_.getLong(0))
    assert(rows(0).getString(2) == "y")
    assert(rows(1).getString(1) == "only-two-fields" && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("file round-trip with nulls, tabs and timestamps via gzip") {
    val s = TestSpark.spark
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("ts", TimestampType)))
    val rows = Seq(
      Row(1L, "with\ttab and \\N fake null", 1.5, Timestamp.valueOf("2024-01-02 03:04:05")),
      Row(2L, null, null, null),
      Row(3L, "line\nbreak", -0.25, Timestamp.valueOf("1999-12-31 23:59:59")))
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
    val dir = Files.createTempDirectory("mysqldump").toString + "/t"
    MySqlDump.writeTable(df, dir, gzip = true)
    val back = MySqlDump.readTable(s, dir, schema).collect().sortBy(_.getLong(0))
    assert(back.length == 3)
    assert(back(0).getString(1) == "with\ttab and \\N fake null")
    assert(back(1).isNullAt(1) && back(1).isNullAt(2) && back(1).isNullAt(3))
    assert(back(2).getString(1) == "line\nbreak")
    assert(back(0).getTimestamp(3) == Timestamp.valueOf("2024-01-02 03:04:05"))
    assert(back(2).getDouble(2) == -0.25)
  }
}
