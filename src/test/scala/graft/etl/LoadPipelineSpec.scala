package graft.etl

import graft.{Tables, TestSpark}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end analog of the reference's load path (LoadFiles.pm): a table
  * dumped as split `<table>.NNNN.txt.gz` MySQL-dump parts is grouped,
  * schema'd from dump DDL, and loaded back — except every step is
  * distributed (each part an input split) instead of gunzip-concat into
  * one LOAD DATA statement.
  */
class LoadPipelineSpec extends AnyFunSuite {

  test("split-gzip mysqldump round-trip: write parts → group → load → identical table") {
    val s = TestSpark.spark
    val src = Tables.nation(s, TestSpark.sf)
    val dir = Files.createTempDirectory("loadpipe")

    // dump as 3 gzip parts named like the reference's split convention
    val parts = src.repartition(3)
    MySqlDump.writeTable(parts, dir.resolve("stage").toString, gzip = true)
    val stageFiles = Files.list(dir.resolve("stage")).toArray.map(_.toString)
      .filter { f =>
        val name = f.split("/").last
        name.startsWith("part-") && name.endsWith(".gz")
      }.sorted
    stageFiles.zipWithIndex.foreach { case (f, i) =>
      Files.move(Paths.get(f), dir.resolve(f"nation.${i + 1}%04d.txt.gz"))
    }

    // the reference's grouping regex applies to the staged listing
    import s.implicits._
    val listing = Files.list(dir).toArray.map(_.toString.split("/").last).toSeq
      .toDF("file")
    val grouped = SplitFiles.group(listing).collect()
    assert(grouped.length == 1)
    assert(grouped(0).getAs[String]("table_name") == "nation")
    assert(grouped(0).getAs[Long]("n_parts") == 3L)

    // schema from dump DDL, then distributed load of all parts
    val ddl = """CREATE TABLE `nation` (
                |  `n_nationkey` int(11) NOT NULL,
                |  `n_name` varchar(25) NOT NULL,
                |  `n_regionkey` int(11) NOT NULL,
                |  PRIMARY KEY (`n_nationkey`)
                |) ENGINE=MyISAM;""".stripMargin
    val schema = SqlDdl.parse(ddl).head.toStructType
    val loaded = MySqlDump.readTable(s, dir.toString + "/nation.*.txt.gz", schema)
    val got = loaded.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    val want = src.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }
}
