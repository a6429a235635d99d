package graft.localfs

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FileStatus, FileSystem, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` with its two per-operation shell-outs
  * replaced by system calls. Without `libhadoop` (Spark's jars ship
  * none) Hadoop runs `chmod` for every permission it sets — every create
  * and mkdir — and `readlink` for every link status, which every
  * `FileContext` rename asks twice. Each is a forked process (7–25 ms
  * apiece, measured on a 4-core host), and a micro-batch's offset,
  * commit-log and state-store files pay it on every write. Everything
  * else, including the `.crc` files of the checksummed wrappers below,
  * is Hadoop's own code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** `chmod` through `Files.setPosixFilePermissions`. Hadoop's path runs
    * instead for what that call cannot express: a sticky bit, a
    * directory carrying setuid/setgid (a four-digit `chmod` keeps them on
    * a directory, a mode syscall clears them), a store without POSIX
    * permissions, and any failure, so an error reads as Hadoop's. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !nioChmod(pathToFile(p).toPath, mode))
      super.setPermission(p, permission)
  }

  /** Sets the nine permission bits of `file`; false where Hadoop's
    * `chmod` must run instead. */
  private def nioChmod(file: java.nio.file.Path, mode: Int): Boolean =
    try {
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val setIdDir = (current & 0xf000) == 0x4000 && (current & 0xc00) != 0
      if (!setIdDir) Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(mode))
      !setIdDir
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException |
          _: IOException => false
    }

  /** A path that is not a symlink has the status `getFileStatus` gives,
    * which is what Hadoop returns once `readlink` comes back empty; a
    * real symlink keeps Hadoop's own answer. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val bits = PosixFilePermission.values // owner rwx, group rwx, others rwx

  /** The permission set of the low nine bits of `mode`. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(bits(i)))
    s
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class LocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem) {
  /** A rename onto an existing file fails instead of replacing it. That
    * is HDFS's contract, and the one `file:` has without graft: Spark's
    * jars register Hive's `ProxyLocalFileSystem` for it after Hadoop's
    * class, and this is that class's one override. */
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[NioRawLocalFileSystem]], with each of its overrides. */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as Hadoop's", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local file systems differ in what names they take; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the route `FileContext` takes:
  * Hadoop's `LocalFs` (a `ChecksumFs`) over [[RawLocalFs]]. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(uri, conf)) {
  /** Reads through the checksum: `ChecksumFs` verifies the `.crc` only
    * in `open(path, bufferSize)`, while the one-argument form it inherits
    * from `FilterFs` hands out the raw stream, and Spark's checkpoint
    * manager reads offset, commit-log and state files through that one.
    * A corrupt checkpoint file now fails with `ChecksumException`. */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object LocalFs {
  private val routes = Seq(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)

  /** Routes `spark`'s `file:` paths through graft's local filesystem.
    * Every Hadoop conf Spark hands its readers, writers and checkpoint
    * managers is copied from `sparkContext.hadoopConfiguration`, so the
    * two keys go there. `FileSystem.get` caches one instance per scheme
    * and ignores the conf once it holds one: an instance of another class
    * cached before this call (any `file:` access does it, Spark's
    * warehouse setup among them) is closed, which drops it from the
    * cache, so the next lookup builds graft's. Idempotent, in any order
    * with other `file:` use. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    routes.foreach { case (k, v) => if (conf.get(k) != v) conf.set(k, v) }
    val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    if (!cached.isInstanceOf[LocalFileSystem]) cached.close()
  }
}
