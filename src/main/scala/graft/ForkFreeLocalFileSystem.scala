package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of a local session: Hadoop's checksummed
  * `LocalFileSystem` (so `.crc` siblings are still written and verified)
  * over a raw FS that sets permissions in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` as a
  * child process, and every mkdirs and every file or `.crc` create sets a
  * permission: about 8 forks per sink write, ~3 ms each from a 1 GB JVM.
  * NIO's `setPosixFilePermissions` sets the same 9 rwx bits with one
  * syscall. Modes it cannot express (the sticky bit) and stores without
  * POSIX attributes still go through Hadoop's own path.
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}
