package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of a graft session (`fs.file.impl`, set in
  * [[GraftSession]]): Hadoop's checksummed `LocalFileSystem` over a raw
  * filesystem that sets permissions with `chmod(2)` through java.nio.
  *
  * Without the libhadoop native library, `RawLocalFileSystem
  * .setPermission` forks `chmod` for every file `create` and every
  * directory `mkdirs` makes, the `.crc` sidecars included: one parquet
  * write, stage or commit forked dozens of processes from the driver
  * and task threads (JFR counted 328 `chmod` process starts in one
  * `--seconds 5` perfbench `release_load` run on 4 vCPUs).
  * The modes that land are the same, since the shell's numeric mode and
  * the nio call set the same nine bits. Where the shell's rules for the
  * special bits differ (a sticky bit asked for, a setuid/setgid/sticky
  * bit already on the target) or the platform has no POSIX attributes,
  * Hadoop's own path runs.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  private val Special = 0xe00 // setuid | setgid | sticky

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      // a missing file or a platform without unix modes: Hadoop's own
      // path, with its own errors
      val current =
        try Some(Files.getAttribute(f, "unix:mode").asInstanceOf[Int])
        catch {
          case _: java.io.IOException | _: UnsupportedOperationException |
               _: IllegalArgumentException => None
        }
      current match {
        case Some(cur) if ((mode | cur) & Special) == 0 => Files.setPosixFilePermissions(f, perms(mode))
        case _ => super.setPermission(p, permission)
      }
    }
  }

  /** The nine rwx bits of `mode` as nio permissions (values() runs
    * owner-read down to others-execute, bit 8 down to bit 0).
    */
  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(v => if ((mode & (1 << (8 - v.ordinal))) != 0) out.add(v))
    out
  }
}
