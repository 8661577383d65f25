package graft.storage

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem the engine's sessions use ([[graft.GraftSession]]
  * sets it as `spark.hadoop.fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[PosixRawLocalFileSystem]]. Without Hadoop's
  * native library, `RawLocalFileSystem` sets the mode of every file it
  * creates and every directory it makes by forking `chmod` — several
  * forks per SST commit (part file, `.crc` sidecar, staging dirs,
  * manifest delta). Hadoop caches one `file:` FileSystem per JVM and user
  * and ignores the configuration after that, so the setting must be in
  * place before anything in the JVM first resolves a local path. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** `RawLocalFileSystem` that sets permissions through
  * `java.nio.file.Files.setPosixFilePermissions` instead of a `chmod`
  * process. Modes come out as Hadoop's own (0644 files and 0755 dirs under
  * umask 022); a sticky-bit mode, which NIO cannot express, keeps the
  * inherited path. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
}
