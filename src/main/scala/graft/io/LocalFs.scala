package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without forked processes. Lacking libhadoop,
  * `RawLocalFileSystem` runs a `chmod` process for every permission it sets
  * (each file and directory a write creates) and a `readlink` process for
  * every link-status call (each `FileContext.rename`). A fork costs 2.8–4.6 ms
  * from a 3 GB JVM; the NIO call 0.007–0.06 ms. One medallion-replay run
  * forked about 4,300 of them.
  *
  * `src/main/resources/core-site.xml` registers [[NioLocalFileSystem]] as
  * `fs.file.impl` and [[NioLocalFs]] as `fs.AbstractFileSystem.file.impl`;
  * Hadoop reads that file into every `Configuration`, so every session of the
  * program uses them. Checksums (`.crc` side files) are kept.
  *
  * Caveat: Spark's `FileContextBasedCheckpointFileManager.isLocal` reads
  * false on [[NioLocalFs]] (it matches Hadoop's `LocalFs`/`RawLocalFs`,
  * whose constructors are package-private). No Spark 4.1.2 class reads it.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** Mode bits from the user/group/other actions; the sticky bit (which
    * `FsPermission.toString` renders as a trailing `t`) is not set. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = Seq(permission.getUserAction, permission.getGroupAction,
      permission.getOtherAction).map(_.SYMBOL).mkString
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
  }

  /** A path that is not a symlink has its plain status; a symlink goes to
    * the parent's `readlink` path. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `file:` for `FileSystem`: checksummed, over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file:` for `FileContext`: Hadoop's `LocalFs` over [[NioRawLocalFileSystem]].
  * `AbstractFileSystem` instantiates it through a (URI, Configuration)
  * constructor; the URI of `file:` is fixed. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (the same four overrides) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
