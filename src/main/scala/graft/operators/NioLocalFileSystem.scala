package graft.operators

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` sidecars unchanged) over
  * a raw file system that sets modes inside the JVM. Without libhadoop,
  * stock `RawLocalFileSystem.setPermission` forks one `chmod` per file and
  * directory it creates: a 64-bucket write makes a data file, its `.crc`
  * and a bucket directory per bucket, so about 200 processes per write,
  * started one after another inside each task. `GraftConf` selects it for
  * `file:` paths; other schemes keep their own file systems.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {

  /** Refuses an existing file as the destination, as HDFS does and as the
    * `file:` file system it replaces (Hive's `ProxyLocalFileSystem`, which
    * Spark's Hive jars register) did; stock `LocalFileSystem` replaces it.
    */
  override def rename(src: Path, dst: Path): Boolean = !pathToFile(dst).isFile && super.rename(src, dst)
}

/** The same raw file system for `FileContext`, which Structured Streaming's
  * checkpoint and file-sink logs write through: Hadoop's stock `file:`
  * `AbstractFileSystem` builds its own `RawLocalFileSystem` and ignores
  * `fs.file.impl`. Checksummed like Hadoop's `LocalFs`; `GraftConf` selects
  * it as `fs.AbstractFileSystem.file.impl`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new NioLocalFileSystem.Raw, conf, "file", false) {
      /** Any local name is valid, as in Hadoop's `RawLocalFs`. */
      override def isValidName(src: String): Boolean = true
    })

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with `setPermission` through
    * `Files.setPosixFilePermissions`: the same nine mode bits the stock
    * `chmod` sets, with no process. A mode with the sticky bit (which
    * `PosixFilePermission` cannot express) and a file system without POSIX
    * attributes take the stock path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode)): Unit
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

    /** A path that is not a symbolic link has no link status of its own:
      * its file status, with no process. The stock call forks `readlink`
      * first, and `FileContext` asks for link status around each rename
      * that commits a streaming checkpoint or sink-log file; on a `file:`
      * URI that `readlink` can only fail. A symbolic link takes the stock
      * path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The permission set of the low nine bits of `mode`; the enum runs from
    * OWNER_READ (bit 8) down to OTHERS_EXECUTE (bit 0).
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (p <- PosixFilePermission.values if (mode & (0x100 >> p.ordinal)) != 0) s.add(p)
    s
  }
}
