package graft

import java.nio.file.{Files, Path}

import scala.collection.JavaConverters._

import graft.etl.{Snapshots, TxnCatalog}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file:` FileSystem sets permissions without forking
  * `chmod`, and lands the same modes Hadoop's own local filesystem does.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x1ff

  test("the session's file: FileSystem is NioLocalFileSystem") {
    // FileSystem's cache is keyed by scheme and user, not by conf: a
    // default instance created before the session would win here
    val fs = FileSystem.get(new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[NioLocalFileSystem], s"file: resolves to ${fs.getClass}")
    assert(FileSystem.getLocal(s.sessionState.newHadoopConf()).getClass == classOf[NioLocalFileSystem])
  }

  test("mkdirs, create and the .crc get the modes Hadoop's LocalFileSystem gives") {
    val root = Files.createTempDirectory("graft_niofs")
    def fresh(fs: LocalFileSystem): LocalFileSystem = {
      fs.initialize(new java.net.URI("file:///"), new Configuration())
      fs
    }
    val hadoop = fresh(new LocalFileSystem())
    val nio = fresh(new NioLocalFileSystem())
    try {
      val modes = Seq("hadoop" -> hadoop, "nio" -> nio).map { case (name, fs) =>
        val dir = new HPath(root.resolve(name).resolve("a/b").toUri)
        assert(fs.mkdirs(dir))
        val file = new HPath(dir, "f.bin")
        val out = fs.create(file)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        val local = Seq(root.resolve(name), root.resolve(name).resolve("a"),
          root.resolve(name).resolve("a/b"), root.resolve(name).resolve("a/b/f.bin"),
          root.resolve(name).resolve("a/b/.f.bin.crc"))
        local.foreach(p => assert(Files.exists(p), s"$p missing"))
        local.map(mode)
      }
      assert(modes(0) == modes(1), f"modes differ: hadoop ${modes(0).map(m => f"$m%o")} " +
        f"vs nio ${modes(1).map(m => f"$m%o")}")
    } finally { hadoop.close(); nio.close(); rm(root) }
  }

  test("a parquet write, a stage and a catalog commit start no process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val cat = Files.createTempDirectory("graft_niofs_cat")
    val dump = Files.createTempFile("graft_niofs", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    try {
      val df = s.range(0, 200).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v")
      rec.start()
      df.write.parquet(cat.resolve("plain").toString)
      val id = Snapshots.stageOnto(s, TxnCatalog.tableRoot(cat, "t"), df, None)
      TxnCatalog.commit(cat, Map("t" -> id), None)
      rec.stop()
      rec.dump(dump)
      val starts = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command"))
      assert(starts.isEmpty, s"process starts: ${starts.mkString("; ")}")
      assert(TxnCatalog.readTable(s, cat, "t").count() == 200)
    } finally { rec.close(); Files.deleteIfExists(dump); rm(cat) }
  }
}
