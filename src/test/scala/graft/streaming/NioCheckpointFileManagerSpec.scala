package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, PathFilter}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The NIO checkpoint manager must carry the exact CheckpointFileManager
  * contract the metadata logs and state stores key on — atomic visible-
  * or-absent writes, FileAlreadyExists on the committed-first race,
  * FileNotFound on missing reads, recursive delete — because a semantic
  * slip here corrupts exactly-once recovery, not just performance.
  * (End-to-end: every StreamingSpec recovery test and the
  * stream_recovery oracle run through this manager via GraftSession.)
  */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def mk(): (NioCheckpointFileManager, java.nio.file.Path) = {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    (new NioCheckpointFileManager(new HPath(dir.toUri), new Configuration()), dir)
  }

  test("createAtomic close publishes whole file and clears the temp") {
    val (fm, dir) = mk()
    val f = new HPath(dir.resolve("offsets/0").toUri)
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("v1\ncontent".getBytes(UTF_8))
    // invisible before close — the atomicity half the commit log needs
    assert(!fm.exists(f))
    out.close()
    assert(fm.exists(f))
    assert(new String(Files.readAllBytes(dir.resolve("offsets/0")), UTF_8) == "v1\ncontent")
    val leftovers = Files.list(dir.resolve("offsets"))
    try assert(leftovers.iterator().next().getFileName.toString == "0")
    finally leftovers.close()
  }

  test("createAtomic cancel leaves no trace; double close/cancel idempotent") {
    val (fm, dir) = mk()
    val f = new HPath(dir.resolve("state/1.delta").toUri)
    val out = fm.createAtomic(f, overwriteIfPossible = true)
    out.write("junk".getBytes(UTF_8))
    out.cancel(); out.cancel(); out.close() // terminated: both no-ops
    assert(!fm.exists(f))
    val st = Files.list(dir.resolve("state"))
    try assert(!st.iterator().hasNext) finally st.close()
  }

  test("non-overwrite close onto an existing file raises Hadoop FileAlreadyExists") {
    val (fm, dir) = mk()
    val f = new HPath(dir.resolve("commits/5").toUri)
    val first = fm.createAtomic(f, overwriteIfPossible = false)
    first.write("winner".getBytes(UTF_8)); first.close()
    val loser = fm.createAtomic(f, overwriteIfPossible = false)
    loser.write("loser".getBytes(UTF_8))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { loser.close() }
    // the race loser must not have damaged the winner
    assert(new String(Files.readAllBytes(dir.resolve("commits/5")), UTF_8) == "winner")
    // overwrite mode replaces atomically
    val over = fm.createAtomic(f, overwriteIfPossible = true)
    over.write("v2".getBytes(UTF_8)); over.close()
    assert(new String(Files.readAllBytes(dir.resolve("commits/5")), UTF_8) == "v2")
  }

  test("without hard links (link fails with FileSystemException) the rename falls back and still refuses") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val fm = new NioCheckpointFileManager(new HPath(dir.toUri), new Configuration()) {
      override protected[streaming] def link(dst: java.nio.file.Path, src: java.nio.file.Path): Unit =
        throw new java.nio.file.FileSystemException(
          src.toString, dst.toString, "Operation not permitted")
    }
    val f = new HPath(dir.resolve("commits/7").toUri)
    val first = fm.createAtomic(f, overwriteIfPossible = false)
    first.write("winner".getBytes(UTF_8)); first.close()
    assert(new String(Files.readAllBytes(dir.resolve("commits/7")), UTF_8) == "winner")
    val loser = fm.createAtomic(f, overwriteIfPossible = false)
    loser.write("loser".getBytes(UTF_8))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { loser.close() }
    assert(new String(Files.readAllBytes(dir.resolve("commits/7")), UTF_8) == "winner")
    val st = Files.list(dir.resolve("commits"))
    try assert(st.iterator().asScala.map(_.getFileName.toString).toSeq == Seq("7"),
      "temp files left behind")
    finally st.close()
  }

  test("open missing raises java.io.FileNotFoundException (not NoSuchFileException)") {
    val (fm, dir) = mk()
    intercept[FileNotFoundException] { fm.open(new HPath(dir.resolve("nope").toUri)) }
    intercept[FileNotFoundException] {
      fm.list(new HPath(dir.resolve("nodir").toUri),
        new PathFilter { def accept(p: HPath) = true })
    }
  }

  test("open supports seek and positioned readFully") {
    val (fm, dir) = mk()
    val f = new HPath(dir.resolve("data").toUri)
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("0123456789".getBytes(UTF_8)); out.close()
    val in = fm.open(f)
    try {
      in.seek(4L)
      assert(in.getPos == 4L)
      assert(in.read() == '4'.toInt)
      val buf = new Array[Byte](3)
      in.readFully(7L, buf)
      assert(new String(buf, UTF_8) == "789")
      // positioned read must not disturb the cursor
      assert(in.getPos == 5L)
    } finally in.close()
  }

  test("list filters; mkdirs/exists/delete recursive") {
    val (fm, dir) = mk()
    fm.mkdirs(new HPath(dir.resolve("sub/deep").toUri))
    Files.write(dir.resolve("sub/a.delta"), "a".getBytes(UTF_8))
    Files.write(dir.resolve("sub/b.snapshot"), "b".getBytes(UTF_8))
    val only = fm.list(new HPath(dir.resolve("sub").toUri),
      new PathFilter { def accept(p: HPath) = p.getName.endsWith(".delta") })
    assert(only.map(_.getPath.getName).toSeq == Seq("a.delta"))
    assert(fm.exists(new HPath(dir.resolve("sub/deep").toUri)))
    fm.delete(new HPath(dir.resolve("sub").toUri))
    assert(!Files.exists(dir.resolve("sub")))
    // deleting a missing path is a silent no-op (FileSystem semantics)
    fm.delete(new HPath(dir.resolve("sub").toUri))
  }

  test("createCheckpointDirectory creates and returns the root") {
    val dir = Files.createTempDirectory("nio_ckpt_root").resolve("ck")
    val fm = new NioCheckpointFileManager(new HPath(dir.toUri), new Configuration())
    val ret = fm.createCheckpointDirectory()
    assert(Files.isDirectory(dir))
    assert(ret.toUri.getPath == dir.toUri.getPath)
    assert(fm.isLocal)
  }
}
