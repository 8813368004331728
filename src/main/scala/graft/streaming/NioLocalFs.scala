package graft.streaming

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` with its two per-file shell-outs done
  * through `java.nio.file`.
  *
  * Without the native `libhadoop`, the stock local filesystem forks
  * `chmod` for every `setPermission` (each create and each mkdir with a
  * mode) and `readlink` for every `getFileLinkStatus` (a
  * `FileContext.rename` stats both ends). The streaming commit path —
  * offsets, commits, metadata and one delta plus checksum per state
  * partition per trigger — goes through `FileContext` create + rename, so
  * each trigger paid for dozens of process spawns. Only those two methods
  * change, and each produces what the stock one does:
  *
  *  - `setPermission` applies the same 9 mode bits `chmod` would get; a
  *    mode with the sticky bit (the only extra bit `FsPermission.toShort`
  *    carries) goes to `super`;
  *  - `getFileLinkStatus` builds the `FileStatus` of Hadoop's default
  *    (deprecated, `readlink`-based) path, field for field, for a file, a
  *    directory, a symlink and a dangling symlink.
  *
  * Everything else — `.crc` sidecars, rename-with-overwrite, umask — is
  * Hadoop's own code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioLocalFs.posixPermissions(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    // `new File(f.toString)`, like the stock path: a scheme-qualified path
    // names no file, so symlinks only show through bare paths there too
    val target = NioLocalFs.readLink(new File(f.toString))
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication,
          st.getBlockSize, st.getModificationTime, st.getAccessTime,
          st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
      } catch {
        // a dangling link: the target is gone, the link itself is not
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault,
            "", "", new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath,
        fi.getSymlink))
    fi
  }
}

/** `DelegateToFileSystem` over [[NioRawLocalFileSystem]]: the twin of
  * Hadoop's package-private `RawLocalFs`, same defaults.
  */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.7")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `FileContext` filesystem for the `file` scheme: Hadoop's
  * `ChecksumFs` (`.crc` sidecars) over [[NioRawLocalFs]],
  * as `org.apache.hadoop.fs.local.LocalFs` is over `RawLocalFs`.
  * `AbstractFileSystem` instantiates it through the `(URI, Configuration)`
  * constructor; like `LocalFs`, it always serves `file:///`.
  *
  * One-argument `open` verifies the `.crc` sidecar too. `FilterFs` sends
  * it to the raw filesystem, past `ChecksumFs`, and that is the call
  * Spark's checkpoint reads make: a flipped byte in an offset or commit
  * log would otherwise resume the query on a corrupt frontier.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object NioLocalFs {

  /** `FileContext`'s implementation key for the `file` scheme. */
  val ContextKey = "fs.AbstractFileSystem.file.impl"

  /** Route the session's `FileContext` `file:` traffic through
    * [[NioLocalFs]]. `FileContext` instances are not cached, so the key
    * reaches every checkpoint write: offsets, commits and metadata on the
    * driver, state-store deltas on the executors (both read the session's
    * Hadoop conf). Idempotent; a value the user set — in the session or
    * through `spark.hadoop.*` — is left alone, and no other scheme and no
    * process-wide `FileSystem` cache is touched.
    */
  def install(spark: SparkSession): Unit = {
    // Hadoop's shipped default (core-default.xml) is not a user's choice
    val userSet = spark.conf.getOption(ContextKey).isDefined ||
      Option(spark.sparkContext.hadoopConfiguration.getPropertySources(ContextKey))
        .exists(_.exists(_ != "core-default.xml"))
    if (!userSet) spark.conf.set(ContextKey, classOf[NioLocalFs].getName)
  }

  private val PosixBits = PosixFilePermission.values() // owner r..others x

  /** The `java.nio` permission set of a 9-bit mode (`0640` →
    * `rw-r-----`).
    */
  private[streaming] def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- PosixBits.indices if (mode & (1 << (8 - i))) != 0)
      s.add(PosixBits(i))
    s
  }

  /** `FileUtil.readLink` without the `readlink` fork: the raw link
    * target, or "" when `f` is not a readable symlink.
    */
  private[streaming] def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString.trim
    catch {
      case _: IOException | _: InvalidPathException |
          _: UnsupportedOperationException => ""
    }
}
