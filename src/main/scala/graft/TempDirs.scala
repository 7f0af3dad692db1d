package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** The one owner of the dirs the engine writes for itself. Each sits
  * under [[root]], one `graft-<pid>-*` dir per JVM under
  * `java.io.tmpdir`, which one shutdown hook deletes. Hadoop's hook
  * manager runs higher priorities first, so registering below Spark's
  * own hook chain (`FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`) deletes
  * the root after the SparkContext and its streams have stopped.
  */
object TempDirs {
  lazy val root: Path = {
    val dir = Files.createTempDirectory(s"graft-${ProcessHandle.current.pid}-")
    ShutdownHookManager.get().addShutdownHook(
      () => FileUtils.deleteQuietly(dir.toFile), FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
    dir
  }

  /** A fresh dir that lives until the JVM exits, for dirs that a
    * [[Memo]] entry points at. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Run `f` on a fresh dir that is deleted when `f` returns or throws.
    * A frame that reads files in the dir is lazy, so `f` must pin it
    * ([[graft.ops.Dedup.materialize]]) or reduce it to driver-side
    * values before it returns. */
  def using[T](prefix: String)(f: Path => T): T = {
    val dir = create(prefix)
    try f(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }
}
