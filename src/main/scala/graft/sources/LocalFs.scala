package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem every session uses (`fs.file.impl`, set by
  * [[graft.Engine.session]]): Hadoop's checksummed [[LocalFileSystem]] over
  * a raw local FS whose `setPermission` is a syscall, not a process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks `chmod` for
  * every file, `.crc` sidecar and directory a write creates — about 35 per
  * DML commit. The override applies the same nine permission bits through
  * `Files.setPosixFilePermissions`; a sticky bit (which NIO cannot
  * express) or a file store without POSIX attributes falls back to
  * Hadoop's own method. Nothing else changes: checksums, the output
  * committer and the file layout are Hadoop's. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** The POSIX permission set of the mode `bits` (owner rwx … others rwx). */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (1 << (8 - i))) != 0) out.add(p)
    }
    out
  }
}
