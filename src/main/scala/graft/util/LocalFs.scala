package graft.util

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` without the process forks it falls back
  * to when libhadoop is not loaded. Stock, `setPermission` forks `chmod`
  * and `getFileLinkStatus` forks `readlink` — and the `readlink` is
  * passed the `file:/…` URI string, so it always fails and answers "not a
  * link". A checkpointed micro-batch pays ~20 such forks per state
  * partition plus ~12 for its offset and commit logs, at ~4 ms each.
  *
  * Both overrides keep stock's observable result: `setPermission` sets
  * the same mode bits through `java.nio`, and hands anything `java.nio`
  * cannot express (a sticky bit, a non-POSIX filesystem) back to stock;
  * `getFileLinkStatus` is `getFileStatus` unless the path really is a
  * symlink, in which case stock answers.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  /** Whether the JVM's default filesystem takes POSIX permission bits. */
  protected def posix: Boolean = LocalFs.posix

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      LocalFs.perms(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileContext` binding for `file:` (`fs.AbstractFileSystem.file.impl`):
  * stock `org.apache.hadoop.fs.local.LocalFs` with its raw layer over
  * [[NoForkRawLocalFileSystem]]. `ChecksumFs` still writes Hadoop's
  * `.crc` sidecars and does the renames, so the files on disk are the
  * ones stock writes. Spark's checkpoint and state-store I/O goes
  * through `FileContext`, so this reaches the offset and commit logs
  * and every state store; `FileSystem`-API writers (the parquet sink's
  * file writes and renames) are untouched.
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new LocalFs.Raw(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

object LocalFs {
  val Key = "fs.AbstractFileSystem.file.impl"
  private val Stock = "org.apache.hadoop.fs.local.LocalFs"

  private[util] val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** rwx bits → `java.nio` permissions (the enum runs owner-read first). */
  private[util] def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p)
    }
    s
  }

  /** Mirrors stock `org.apache.hadoop.fs.local.RawLocalFs`. */
  private[util] class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Bind `file:` to [[LocalFs]] in `spark`'s session conf, unless the
    * key is already set there or in the `SparkContext`'s Hadoop conf.
    * Call before `writeStream.start()`: the query's session and its
    * state stores copy their Hadoop conf from the session conf.
    */
  def install(spark: SparkSession): Unit = {
    val userSet = spark.conf.getOption(Key).isDefined ||
      spark.sparkContext.hadoopConfiguration.get(Key, Stock) != Stock
    if (!userSet) spark.conf.set(Key, classOf[LocalFs].getName)
  }
}
