package graft.core

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-file shell calls made in
  * the JVM. Without the Hadoop native library, `RawLocalFileSystem`
  * starts a process for every `setPermission` (`chmod`, on each file and
  * directory it creates) and every `getFileLinkStatus` (`readlink`, twice
  * per `FileContext.rename`). The offsets and commit logs, the state
  * store's deltas and the file sink make these calls on every
  * micro-batch, at several milliseconds per process start.
  *
  * `src/main/resources/core-site.xml` registers [[NioLocalFileSystem]] as
  * `fs.file.impl` and [[NioLocalFs]] as `fs.AbstractFileSystem.file.impl`;
  * a `core-site.xml` earlier on the classpath replaces that registration. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits go through java.nio. A mode with the sticky bit,
    * or a file store without a POSIX view, takes Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val view = Files.getFileAttributeView(pathToFile(p).toPath,
      classOf[PosixFileAttributeView])
    if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
    else view.setPermissions(PosixFilePermission.values
      .filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava)
  }

  /** Hadoop runs `readlink` on the path's string form. For a qualified
    * path (`file:/…`, as `FileContext` passes) that names no file, so
    * `readlink` fails and the plain file status comes back. Only a string
    * that names a symlink needs Hadoop's own code. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` for the `file` scheme over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` over [[NioRawLocalFileSystem]], with `RawLocalFs`'s own
  * overrides (its constructors are package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` (`FileContext`) for the `file`
  * scheme, as `LocalFs` is over `RawLocalFs`. Spark's checkpoint file
  * manager renames through it. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
