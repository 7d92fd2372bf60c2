package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two process-forking calls done
  * through `java.nio` instead.
  *
  * Without the native Hadoop library (`NativeIO.isAvailable` false, as on
  * any host running Spark's binary distribution, which ships no
  * libhadoop), the stock class forks a process for:
  *   - `setPermission`: `Shell.execCommand(chmod …)`. Every file create
  *     (the data file and its `.crc` side file, through
  *     `ChecksumFileSystem` and `ChecksumFs`) and every directory a
  *     `mkdirs` makes sets the umask-applied bits this way, so a store
  *     append forks one `chmod` per file and directory it writes, and
  *     `FileOutputCommitter.setupJob` one per job directory;
  *   - `getFileLinkStatus`: `FileUtil.readLink` forks `readlink`. A
  *     `FileContext` rename (`ChecksumFs.renameInternal`, the streaming
  *     offset and commit logs) asks for the link status of both paths.
  *
  * `setPermission` sets the same rwx bits with
  * `Files.setPosixFilePermissions`, with or without the native library. It
  * defers to the stock call only when the sticky bit is asked for, which
  * NIO cannot express. `getFileLinkStatus` returns
  * `getFileStatus` for a path that is not a symbolic link, which is what
  * the stock call returns for it, and the same `FileNotFoundException` for
  * a missing path; a real link defers to the stock call.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The engine's `file:` `FileSystem` (`fs.file.impl`): the stock checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]]. Writers and output
  * committers reach it.
  */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The engine's `file:` `FileContext` file system
  * (`fs.AbstractFileSystem.file.impl`): the stock `LocalFs` (checksums
  * through `ChecksumFs`) over [[NioRawLocalFileSystem]]. Structured
  * streaming's offset and commit logs reach it. Like `LocalFs`, it serves
  * `file:///` whatever URI it is built for.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** `RawLocalFs` over [[NioRawLocalFileSystem]], with `RawLocalFs`'s own
  * overrides (its constructors are package-private, so it cannot be
  * subclassed).
  */
private[sources] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1 // no default port for file:///

  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  // Local file systems differ in what names they accept; the OS decides.
  override def isValidName(src: String): Boolean = true
}
