package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Run in a JVM of its own by [[LocalFsSpec]]: opens `file:` with
  * `fs.file.impl` = args(0), then mkdirs, create, rename and delete under
  * args(1). Prints `ok`, or the first failure, on its last line.
  */
object LocalFsProbe {
  def main(args: Array[String]): Unit = {
    val conf = new Configuration()
    conf.set("fs.file.impl", args(0))
    val base = new Path(args(1))
    val outcome = try {
      val fs = FileSystem.get(URI.create("file:///"), conf)
      require(fs.getClass.getName == args(0), fs.getClass.getName)
      val dir = new Path(base, "a/b")
      require(fs.mkdirs(dir, new FsPermission("755")), "mkdirs")
      val out = fs.create(new Path(dir, "f"), true)
      out.write("x".getBytes(UTF_8))
      out.close()
      require(fs.rename(new Path(dir, "f"), new Path(base, "a/g")), "rename")
      require(fs.delete(new Path(base, "a"), true), "delete")
      "ok"
    } catch { case e: Exception => s"failed: $e" }
    println(outcome)
  }
}

class LocalFsSpec extends AnyFunSuite {

  // permission bits with setuid, setgid and sticky; no file type bits
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission leaves the modes stock RawLocalFileSystem leaves") {
    val stock = raw(new RawLocalFileSystem)
    val ours = raw(new LocalFs.Raw)
    TempDirs.using("graft_modes") { dir =>
      val modes = Seq("000", "600", "640", "644", "700", "750", "755", "777")
      for (m <- modes; isDir <- Seq(false, true)) {
        val (a, b) = (dir.resolve(s"stock_${m}_$isDir"), dir.resolve(s"ours_${m}_$isDir"))
        for (p <- Seq(a, b)) if (isDir) Files.createDirectory(p) else Files.createFile(p)
        stock.setPermission(new Path(a.toUri), new FsPermission(m))
        ours.setPermission(new Path(b.toUri), new FsPermission(m))
        assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), s"$m dir=$isDir")
        assert(mode(a) == mode(b), s"$m dir=$isDir")
        assert((mode(b) & 0x1ff) == Integer.parseInt(m, 8), s"$m dir=$isDir")
      }
      // the sticky bit, which NIO cannot set, and a setgid dir, whose
      // bit `chmod 0755` keeps and NIO would clear
      val sticky = Seq(dir.resolve("stock_sticky"), dir.resolve("ours_sticky"))
      sticky.foreach(Files.createDirectory(_))
      stock.setPermission(new Path(sticky(0).toUri), new FsPermission("1777"))
      ours.setPermission(new Path(sticky(1).toUri), new FsPermission("1777"))
      assert(mode(sticky(1)) == Integer.parseInt("1777", 8))
      assert(mode(sticky(0)) == mode(sticky(1)))
      val setgid = Seq(dir.resolve("stock_setgid"), dir.resolve("ours_setgid"))
      for (p <- setgid) {
        Files.createDirectory(p)
        assert(new ProcessBuilder("chmod", "2775", p.toString).start().waitFor() == 0)
      }
      stock.setPermission(new Path(setgid(0).toUri), new FsPermission("755"))
      ours.setPermission(new Path(setgid(1).toUri), new FsPermission("755"))
      assert(mode(setgid(0)) == mode(setgid(1)), f"${mode(setgid(0))}%o vs ${mode(setgid(1))}%o")
    }
  }

  test("mkdirs and create write the modes stock LocalFileSystem writes, .crc files included") {
    def tree(fs: FileSystem, root: NioPath): Map[String, Int] = {
      fs.initialize(URI.create("file:///"), new Configuration())
      val base = new Path(root.toUri)
      fs.mkdirs(new Path(base, "ds=2024-01-01"), new FsPermission("777"))
      val out = fs.create(new Path(base, "ds=2024-01-01/part-0.parquet"), true)
      out.write(Array.fill[Byte](100)(1))
      out.close()
      Files.walk(root).iterator.asScala.map(p => root.relativize(p).toString -> mode(p)).toMap
    }
    TempDirs.using("graft_tree") { dir =>
      val stock = tree(new LocalFileSystem, Files.createDirectory(dir.resolve("stock")))
      val ours = tree(new LocalFs, Files.createDirectory(dir.resolve("ours")))
      assert(stock.keySet.exists(_.endsWith(".crc")), stock)
      assert(stock == ours)
    }
  }

  test("with no chmod on PATH, LocalFs writes and stock LocalFileSystem fails") {
    TempDirs.using("graft_nopath") { dir =>
      val emptyBin = Files.createDirectory(dir.resolve("bin"))
      def probe(fsClass: String): String = {
        val java = NioPath.of(System.getProperty("java.home"), "bin", "java").toString
        val pb = new ProcessBuilder(java, "-Xmx64m",
            "-cp", System.getProperty("java.class.path"),
            "graft.LocalFsProbe", fsClass, dir.resolve(fsClass).toString)
          .redirectErrorStream(true)
        pb.environment().put("PATH", emptyBin.toString)
        val proc = pb.start()
        val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
        assert(proc.waitFor(60, TimeUnit.SECONDS), out)
        assert(proc.exitValue() == 0, out)
        out.trim.linesIterator.toSeq.last
      }
      assert(probe(classOf[LocalFs].getName) == "ok")
      val stock = probe(classOf[LocalFileSystem].getName)
      assert(stock.startsWith("failed:") && stock.contains("chmod"), stock)
    }
  }

  test("a GraftSession's file: filesystem is LocalFs") {
    val spark = TestSession.spark
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[LocalFs], fs.getClass)
  }
}
