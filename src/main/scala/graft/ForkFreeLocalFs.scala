package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's raw local file system without its two process forks.
  *
  * Without the native Hadoop library (`NativeCodeLoader` cannot load
  * libhadoop), `RawLocalFileSystem` falls back to Hadoop's `Shell`:
  * every `setPermission` — each create and mkdirs that carries a
  * permission, so every checkpoint log entry, committer dir, parquet part
  * file and `.crc` sidecar — starts a `chmod` process, and every
  * `getFileLinkStatus` — each `FileContext` rename and create of the
  * streaming checkpoint logs — starts a `readlink`. Here a permission
  * without the sticky bit is set through `java.nio.file`, and only a path
  * that is a symbolic link takes the stock `readlink` path. Everything
  * else is the stock class: the same permission bits, the same statuses.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ForkFreeLocalFs.StickyBit) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeLocalFs.posix(mode))
  }

  // the stock path asks `readlink` about `new File(f.toString)` and, when
  // that is no link, returns getFileStatus(f): test the same file first
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new java.io.File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] (`.crc`
  * sidecars, as the stock `LocalFileSystem`) over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw `file:` [[org.apache.hadoop.fs.AbstractFileSystem]] for the
  * `FileContext` API, as Hadoop's `RawLocalFs` but over the fork-free
  * raw file system. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `FileContext` file system (Hadoop's `LocalFs`
  * shape), which Spark's streaming checkpoint logs write through. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  private[graft] val StickyBit = 512 // 01000

  /** The POSIX permission set of the low nine bits of `mode`. */
  private[graft] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 down to bit 0
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (256 >> i)) != 0) s.add(perm)
    }
    s
  }

  /** Hadoop settings that make `file:` resolve to these classes through
    * both the `FileSystem` and the `FileContext` API. The process-wide
    * `FileSystem` cache keys on (scheme, authority) only, so a `file:`
    * instance something created earlier with the stock class would be
    * returned instead; the `file:` cache is therefore off, and each
    * lookup builds its (cheap, stateless) local file system. */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
