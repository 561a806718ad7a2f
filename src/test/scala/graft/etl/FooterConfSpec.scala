package graft.etl

import java.nio.file.{Files, Path}

import scala.collection.JavaConverters._

import graft.TestSpark
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

/** The shared read-only footer conf follows the session's SQL conf: a
  * key set after the first footer read reaches the next one. Footers
  * read through it match parquet's own reader.
  */
class FooterConfSpec extends AnyFunSuite {

  test("footerConf picks up a session conf change made after the first read") {
    val s = TestSpark.spark
    val key = "graft.test.footer.conf"
    try {
      s.conf.set(key, "first")
      assert(Snapshots.footerConf(s).get(key) == "first")
      assert(Snapshots.footerConf(s) eq Snapshots.footerConf(s), "an unchanged conf is rebuilt")
      s.conf.set(key, "second")
      assert(Snapshots.footerConf(s).get(key) == "second")
    } finally s.conf.unset(key)
  }

  test("footer matches parquet's own footer on a file with several row groups") {
    val s = TestSpark.spark
    val dir = Files.createTempDirectory("graft_footer")
    try {
      s.range(0, 3000).selectExpr("id AS k",
          "IF(id % 5 = 0, NULL, CAST(id % 11 AS STRING)) AS v")
        .coalesce(1).write.option("parquet.block.size", "4096")
        .parquet(dir.resolve("t").toString)
      val file: Path = Files.list(dir.resolve("t")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val p = new HPath(file.toUri)
      val ours = Snapshots.footer(s, p)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, Snapshots.footerConf(s)))
      val theirs = try r.getFooter finally r.close()
      assert(ours.getBlocks.size > 1, s"expected several row groups, got ${ours.getBlocks.size}")
      assert(ours.getFileMetaData.getSchema == theirs.getFileMetaData.getSchema)
      def groups(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
        m.getBlocks.asScala.map(b => (b.getRowCount,
          b.getColumns.asScala.map(c => (c.getPath.toDotString, c.getStatistics)).toList)).toList
      assert(groups(ours) == groups(theirs))
      assert(groups(ours).map(_._1).sum == 3000L)
    } finally {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
