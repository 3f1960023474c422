package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of graft sessions on hosts without Hadoop's
  * native library: the stock checksummed [[LocalFileSystem]] (`.crc`
  * side files kept), over a raw file system that sets permissions
  * through `java.nio` instead of forking `chmod`.
  *
  * Without the native library, stock `RawLocalFileSystem.setPermission`
  * runs `chmod` in a child process, and every `create` and `mkdirs`
  * calls it: once per data file, once per `.crc` side file and once
  * per directory, about a hundred times per streaming gate epoch. A
  * forked `chmod` costs ~1.8 ms from a JVM with 1.5 GB of heap in
  * use, `Files.setPosixFilePermissions` with the same mode ~0.02 ms.
  *
  * [[Session.builder]] installs it through `spark.hadoop.fs.file.impl`
  * ([[LocalFs.conf]]). Hadoop caches the first `file:` FileSystem a JVM
  * creates, so a JVM that created one before its first graft session
  * keeps that one.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Session conf that installs [[LocalFs]]; empty when Hadoop's native
    * library is loaded (the stock path then sets modes without forking).
    */
  def conf: Map[String, String] =
    if (org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) Map.empty
    else Map("spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName)

  /** Sets the exact mode in-process. A sticky bit, which `java.nio`
    * cannot express, and a file store without POSIX attributes take
    * the stock path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** rwx bits of `mode`, owner to others (the enum's declaration order). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(bit)
    }
    set
  }
}
