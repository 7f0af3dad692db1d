package graft

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session: Hadoop's
  * `LocalFileSystem` (checksums kept) over [[LocalFs.Raw]], which sets
  * file modes through `java.nio` instead of a `chmod` process.
  * [[GraftSession.local]] registers it as `fs.file.impl`.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` runs
  * `chmod` in a child process, and Hadoop calls it on every `mkdirs`
  * and `create` with a permission, once more for each `.crc` file: 22
  * processes for one daily sync's sink write, 134 for one stream_dedup
  * run (state-store deltas, offset and commit logs).
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` writes the nine rwx
    * bits with `Files.setPosixFilePermissions`. Hadoop has applied the
    * umask before it calls this. The stock `chmod` path still runs
    * when NIO cannot write the mode `chmod` would leave:
    *  - the new mode has the sticky bit;
    *  - the file has a setuid, setgid or sticky bit now (`chmod 0755`
    *    keeps a directory's setgid bit, NIO would clear it);
    *  - the file store does not support POSIX permissions.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit || !rwxOnly(file)) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, rwx(permission.toShort).asJava)
    }
  }

  private val SpecialBits = 0x0e00 // setuid, setgid, sticky (07000)

  private def rwxOnly(file: NioPath): Boolean =
    Files.getFileStore(file).supportsFileAttributeView(classOf[PosixFileAttributeView]) &&
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0

  // PosixFilePermission's ordinals run OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
  private def rwx(mode: Int): Set[PosixFilePermission] =
    PosixFilePermission.values.iterator
      .filter(perm => (mode & (1 << (8 - perm.ordinal))) != 0).toSet
}
