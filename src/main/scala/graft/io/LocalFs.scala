package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its two per-file process forks.
  * Without Hadoop's native library, `RawLocalFileSystem` runs `chmod` for
  * every file it creates (and for its `.crc`) and `readlink` on every
  * `getFileLinkStatus`, which `FileContext.rename` calls for source and
  * destination. Both answers come from java.nio here; any case where the
  * two could differ goes to the stock code. The reference writes its
  * checkpoints with plain java.io (flink-core .../core/fs/local/
  * LocalFileSystem.java). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod(2)` through java.nio. Left to `super`: a sticky bit (no POSIX
    * view carries it), a platform without a POSIX view, and a directory
    * holding setuid/setgid bits, which the `chmod` command keeps on
    * directories and java.nio would clear. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (permission.getStickyBit ||
        Files.getFileAttributeView(f, classOf[PosixFileAttributeView]) == null ||
        keepsSetIdBits(f)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, posix(permission.toShort))
  }

  /** The nine rwx bits of `mode`: PosixFilePermission's order is the bit
    * order, owner read (0400) first. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(bit)
    }
    set
  }

  private def keepsSetIdBits(f: JPath): Boolean =
    Files.isDirectory(f) && (try {
      (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0x0c00) != 0 // 06000
    } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => true })

  /** The stock code forks `readlink`; for a path that is not a symlink it
    * reads no target and returns `getFileStatus`. java.nio gives that
    * answer without the fork; a symlink still goes through `super`. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `AbstractFileSystem` over [[NioRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` (whose constructors are package-private) with the raw
  * filesystem swapped; its four overrides are copied as they are. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** graft's `file://` FileContext filesystem: a `ChecksumFs` over
  * [[NioRawLocalFs]], as Hadoop's `LocalFs` is over `RawLocalFs`, so
  * every file still gets its `.crc`, checked on read as the stock class
  * checks it. Files it writes and files the stock `LocalFs` writes read
  * the same through either. Hadoop constructs it from (URI, conf). */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

object LocalFs {

  /** The Hadoop key naming the `file://` FileContext filesystem. */
  val Key = "fs.AbstractFileSystem.file.impl"

  private val Stock = "org.apache.hadoop.fs.local.LocalFs"

  /** Binds `file://` FileContexts made from `spark`'s session conf to
    * [[LocalFs]]: Spark's streaming metadata logs and state stores (the
    * RocksDB checkpoint included) then write through it. It takes effect
    * for the next FileContext, since Hadoop makes a new filesystem per
    * `FileContext` and Spark copies session confs into each Hadoop conf it
    * hands them. A binding the user made wins: the session conf is left
    * alone when it names `Key` (directly or as `spark.hadoop.`), and so is
    * a Hadoop conf naming anything but the stock class. Idempotent. */
  def bind(spark: SparkSession): Unit = {
    val chosen = spark.conf.getOption(Key).orElse(spark.conf.getOption(s"spark.hadoop.$Key"))
    val hadoop = Option(spark.sparkContext.hadoopConfiguration.get(Key))
    if (chosen.isEmpty && hadoop.forall(_ == Stock)) spark.conf.set(Key, classOf[LocalFs].getName)
  }
}
