package graft.etl

import graft.TestSpark
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

class ChecksumSpec extends AnyFunSuite {

  test("BsdSumImpl matches the system `sum` binary byte-for-byte") {
    val samples = Seq(
      "hello world\n",
      "",
      "a" * 5000, // multi-block
      "binary-ish ÿ content with unicode £€",
      (0 until 3000).map(i => s"line $i").mkString("\n"))
    samples.foreach { content =>
      val f = Files.createTempFile("bsdsum", ".dat")
      Files.write(f, content.getBytes("UTF-8"))
      val expected = Seq("sum", f.toString).!!.trim.split("\\s+")
      val expectedStr = f"${expected(0).toInt}%05d ${expected(1).toInt}%d"
      val actual = BsdSumImpl.compute(content.getBytes("UTF-8"))
      assert(actual == expectedStr, s"for content of ${content.length} chars")
      Files.delete(f)
    }
  }

  test("bsd_sum runs distributed as a Catalyst expression") {
    val s = TestSpark.spark
    import s.implicits._
    val df = Seq("abc", "x" * 2000).toDF("t")
    val out = df.select(Checksums.bsdSum($"t".cast("binary"))).as[String].collect()
    assert(out(0) == BsdSumImpl.compute("abc".getBytes("UTF-8")))
    assert(out(1) == BsdSumImpl.compute(("x" * 2000).getBytes("UTF-8")))
  }

  test("manifest parse applies %05d formatting like the reference") {
    val s = TestSpark.spark
    import s.implicits._
    val lines = Seq(
      "123 45 some_file.txt.gz",
      "00123 45 padded.txt.gz",
      "123456 7 long_checksum.txt.gz",
      "not a manifest line with no digits-first").toDF("value")
    val parsed = Checksums.parseManifest(lines)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(parsed("some_file.txt.gz") == "00123 45")
    assert(parsed("padded.txt.gz") == "00123 45")
    assert(parsed("long_checksum.txt.gz") == "123456 7")
  }

  test("forFiles checksums real files in parallel") {
    val s = TestSpark.spark
    val dir = Files.createTempDirectory("cksum")
    Files.write(dir.resolve("a.txt"), "alpha".getBytes)
    Files.write(dir.resolve("b.txt"), ("beta" * 500).getBytes)
    val rows = Checksums.forFiles(s, dir.toString + "/*.txt")
      .collect().map(r => r.getAs[String]("file") -> r.getAs[String]("bsd_sum")).toMap
    assert(rows("a.txt") == BsdSumImpl.compute("alpha".getBytes))
    assert(rows("b.txt") == BsdSumImpl.compute(("beta" * 500).getBytes))
  }
}
