package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell forks.
  *
  * Without `libhadoop.so`, `RawLocalFileSystem` runs a shell `chmod` for
  * every `setPermission` (each `create` and `mkdirs`) and a shell
  * `readlink` for every `getFileLinkStatus` (each `FileContext.rename`
  * checks its source and destination). A fork costs milliseconds; the
  * same calls through `java.nio` cost microseconds. A streaming tick
  * commits an offset-log and a commit-log entry and writes a parquet
  * frame, which is tens of forks per tick.
  *
  * Only those two methods change; everything else, `.crc` handling,
  * umask and atomic rename included, is Hadoop's own code. Sticky bits,
  * non-POSIX stores and real symlinks go to Hadoop's implementation.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `perm` arrives already masked with the umask by the caller
    * (`FileSystem.create`, `mkOneDirWithMode`), as in Hadoop's path. */
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val mode = perm.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) return super.setPermission(p, perm)
    val file = pathToFile(p).toPath
    try Files.setPosixFilePermissions(file, posix(mode))
    catch {
      case _: UnsupportedOperationException =>
        if (nonPosixWarned.compareAndSet(false, true))
          Log.warn(s"$file is on a non-POSIX filesystem; setPermission " +
            "falls back to Hadoop's shell chmod")
        super.setPermission(p, perm)
      case e: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
    }
  }

  /** A path that is not a symlink has no link status of its own: that is
    * what Hadoop's `readlink` probe finds out, by forking. A missing path
    * is not a symlink either and throws `FileNotFoundException` from
    * `getFileStatus`, as Hadoop's own path does. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val Log = org.slf4j.LoggerFactory.getLogger(classOf[NioRawLocalFileSystem])
  private val nonPosixWarned = new AtomicBoolean(false)

  /** Hadoop packs rwx bits owner-read first, the order of the enum. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(b)
    }
    s
  }
}

/** The FileSystem API binding (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over the fork-free raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext API binding (`fs.AbstractFileSystem.file.impl`):
  * Hadoop's `LocalFs`, a `ChecksumFs` over a `RawLocalFs`, rebuilt over
  * the fork-free raw filesystem (Hadoop's constructors are package
  * private). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("overrides Hadoop's deprecated no-path form", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
