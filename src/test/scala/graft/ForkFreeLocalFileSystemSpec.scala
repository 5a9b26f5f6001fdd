package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ForkFreeLocalFileSystem

/** [[ForkFreeLocalFileSystem]] leaves exactly the POSIX mode the stock
  * [[LocalFileSystem]] leaves, for files and directories, with default and
  * explicit permissions, and for the bits it hands back to the stock path. */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite {
  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new LocalFileSystem())
  private lazy val engine = init(new ForkFreeLocalFileSystem())

  /** Full st_mode permission bits (sticky included), read without Hadoop. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  /** Run `op` through both file systems on twin paths; their modes must match. */
  private def sameMode(name: String)(op: (FileSystem, Path) => Unit): Int = {
    val root = Files.createTempDirectory("graft_perm")
    val Seq(a, b) = Seq("stock", "engine").map(d => new Path(root.resolve(d).resolve(name).toUri))
    op(stock, a)
    op(engine, b)
    assert(mode(a) == mode(b), f"$name: stock ${mode(a)}%04o, engine ${mode(b)}%04o")
    mode(b)
  }

  private val explicit = Seq(new FsPermission("640"), new FsPermission("750"))

  test("files: default and explicit FsPermission give the stock mode") {
    sameMode("default.bin")((fs, p) => fs.create(p).close())
    for (perm <- explicit) {
      val m = sameMode(s"f$perm")((fs, p) =>
        fs.create(p, perm, false, 4096, 1.toShort, 1L << 20, null).close())
      val umask = FsPermission.getUMask(new Configuration()).toShort
      assert(m == (perm.toShort & ~umask), f"$perm: $m%04o")
    }
  }

  test("directories: default and explicit FsPermission give the stock mode") {
    sameMode("d_default")((fs, p) => assert(fs.mkdirs(p)))
    for (perm <- explicit)
      sameMode(s"d$perm")((fs, p) => assert(fs.mkdirs(p, perm)))
  }

  test("setPermission: plain bits through NIO, sticky bit through the stock path") {
    for (perm <- explicit :+ new FsPermission("1777")) {
      val m = sameMode(s"s$perm")((fs, p) => { assert(fs.mkdirs(p)); fs.setPermission(p, perm) })
      assert(m == perm.toShort, f"$perm: $m%04o")
    }
  }
}
