package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/**
 * The `file:` file system the engine session registers
 * (`spark.hadoop.fs.file.impl`, see [[graft.SessionDefaults]]): the stock
 * checksummed [[LocalFileSystem]] over [[ForkFreeRawLocalFileSystem]].
 */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/**
 * [[RawLocalFileSystem]] whose `setPermission` sets the POSIX bits through
 * `java.nio` instead of forking `chmod`. Without libhadoop the stock class
 * forks one `chmod` per file and directory a write creates (data files,
 * their `.crc` twins, every staging directory). Same bits on the same
 * (symlink-resolved) target; the stock path still handles what NIO cannot
 * express (sticky/setuid/setgid bits) and file stores without POSIX
 * attributes, and runs unchanged when libhadoop's NativeIO is loaded
 * (it does not fork there).
 */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if (NativeIO.isAvailable || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's declaration order is owner rwx, group rwx,
      // others rwx: the i-th constant is mode bit 0400 >> i
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
