package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file://` filesystem without its two process forks.
  * Without native libhadoop the stock class shells out where a syscall
  * would do:
  *   - `setPermission` execs `chmod`, and stock `create` and `mkdirs` call
  *     it for every file and directory they make: each Spark data file,
  *     Delta/Iceberg metadata file, checkpoint WAL entry and state-store
  *     delta paid a fork. Here the nine rwx bits go through
  *     `Files.setPosixFilePermissions`; only the sticky bit, which NIO
  *     cannot express, takes the stock path.
  *   - `getFileLinkStatus` execs `readlink`, and `FileContext.rename` asks
  *     it of source and destination, so every checkpoint publish paid two
  *     forks. Here a path that is not a symlink answers with
  *     `getFileStatus`, which is what the stock method returns for it;
  *     symlinks take the stock path.
  * [[Sessions.builder]] installs the wrappers below for `file:` paths.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try {
      val rwx = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
    } catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: stock checksummed `LocalFileSystem` over the raw class. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` twin. Hadoop's
  * `LocalFs`/`RawLocalFs` construct a stock `RawLocalFileSystem` inside,
  * so they are rebuilt here from the same public parts. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

private class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  // what Hadoop's RawLocalFs adds to DelegateToFileSystem
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object ForkFreeLocalFs {
  /** Hadoop caches one `file://` FileSystem per user, whatever the
    * configuration, so a stock `LocalFileSystem` cached before the session
    * existed would shadow `fs.file.impl`. Close such an instance (which
    * drops it from the cache) and cache a [[ForkFreeLocalFileSystem]]. */
  private[graft] def replaceCachedStockFs(): Unit = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    val uri = URI.create("file:///")
    val cached = FileSystem.get(uri, conf)
    if (!cached.isInstanceOf[ForkFreeLocalFileSystem]) {
      cached.close()
      FileSystem.get(uri, conf)
    }
  }
}
