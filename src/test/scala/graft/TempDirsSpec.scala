package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** Run in a JVM of its own by [[TempDirsSpec]]: makes a JVM-lifetime
  * dir, writes a file in it and prints [[TempDirs.root]] on the last
  * line before it exits.
  */
object TempDirsExitProbe {
  def main(args: Array[String]): Unit = {
    Files.writeString(TempDirs.create("graft_exit_probe").resolve("page.json"), "{}")
    println(TempDirs.root)
  }
}

class TempDirsSpec extends AnyFunSuite {

  test("create: a JVM-lifetime dir is deleted, with its root, when the JVM exits") {
    TempDirs.using("graft_exit_tmpdir") { tmpdir =>
      val java = Path.of(System.getProperty("java.home"), "bin", "java").toString
      val proc = new ProcessBuilder(java, "-Xmx64m",
          s"-Djava.io.tmpdir=$tmpdir",
          "-cp", System.getProperty("java.class.path"),
          "graft.TempDirsExitProbe")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor(60, TimeUnit.SECONDS), out)
      assert(proc.exitValue() == 0, out)
      val root = Path.of(out.trim.linesIterator.toSeq.last)
      assert(root.getParent == tmpdir, out)
      assert(root.getFileName.toString.startsWith("graft-"), out)
      assert(!Files.exists(root), s"$root outlived its JVM")
      assert(tmpdir.toFile.list().isEmpty,
        s"the child JVM left files in $tmpdir")
    }
  }

  test("using: the dir is deleted when the body throws") {
    var seen: Path = null
    val err = intercept[IllegalStateException] {
      TempDirs.using("graft_throw_probe") { dir =>
        seen = dir
        Files.writeString(dir.resolve("cell.parquet"), "x")
        throw new IllegalStateException("planted")
      }
    }
    assert(err.getMessage == "planted")
    assert(seen.getParent == TempDirs.root)
    assert(!Files.exists(seen), s"$seen outlived its body")
  }

  test("create: the dir outlives the call, under the JVM's root") {
    val dir = TempDirs.create("graft_create_probe")
    assert(dir.getParent == TempDirs.root)
    assert(Files.isDirectory(dir))
    assert(TempDirs.root.getFileName.toString
      .startsWith(s"graft-${ProcessHandle.current.pid}-"))
  }
}
