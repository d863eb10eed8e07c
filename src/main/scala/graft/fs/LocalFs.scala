package graft.fs

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem that never starts a child process. Without libhadoop,
  * the stock class runs `chmod` for every `setPermission` and `readlink` for
  * every `getFileLinkStatus` — about 70 process starts per stateful
  * micro-batch (offset/commit WAL, state deltas, checksum sidecars). Both
  * are done in-JVM here with the same result; a sticky bit, a non-POSIX
  * store or a symlink takes the stock path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      // from the mode bits, not toString (FsCreateModes prints both masks);
      // enum order OWNER_READ .. OTHERS_EXECUTE is mode bit 8 .. 0
      attribute.PosixFilePermission.values.foreach { pp =>
        if ((mode & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** FileSystem-API `file:` scheme (`fs.file.impl`): checksummed, fork-free. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** FileContext-API raw `file:` scheme: Hadoop's `RawLocalFs` over the
  * fork-free class, with the same server defaults, name check and port.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** FileContext-API `file:` scheme (`fs.AbstractFileSystem.file.impl`) —
  * what Spark's checkpoint manager and the HDFS-backed state store use.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
