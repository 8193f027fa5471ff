package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every JVM that loads this library:
  * `src/main/resources/core-site.xml` names it as `fs.file.impl`, so
  * Hadoop's `FileSystem.get` builds it in place of the one its service
  * registry would pick. On Spark's bundled classpath that is Hive's
  * `ProxyLocalFileSystem`, a `LocalFileSystem` whose only change is that
  * `rename` onto an existing file returns false, as on HDFS. This one is
  * also a checksummed `LocalFileSystem` (`.crc` files are written and
  * verified as before), over [[NioRawLocalFileSystem]], and keeps that
  * `rename`.
  *
  * Why: without the native libhadoop, Hadoop's `RawLocalFileSystem` sets
  * every permission by forking `/bin/chmod`, and it sets one on every
  * created file, its `.crc` file, and every `mkdirs` that names a mode. A
  * partitioned Parquet sink pays that per file and per partition
  * directory. Creating an empty file took 12.6–15.4 ms through the stock
  * `LocalFileSystem` and 0.26–0.35 ms through this one, a `mkdirs` with a
  * mode 6.6–7.4 ms against 0.04–0.07 ms (means over 200 calls, two
  * repetitions after a warm-up, on a 4-vCPU Xeon Linux host, JDK 17,
  * Hadoop 3.4.2).
  *
  * FileContext users (`fs.AbstractFileSystem.file.impl`, e.g. streaming
  * checkpoints) still get Hadoop's own `LocalFs`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  /** Leaves an existing file at `dst` in place and returns false, where
    * rename(2) would silently replace it.
    */
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

/** A `RawLocalFileSystem` whose `setPermission` sets the nine `rwx` bits
  * in-process with `Files.setPosixFilePermissions` — the same chmod(2) the
  * forked command makes. A mode with bits above `0777` (sticky, setuid,
  * setgid), which NIO cannot express, and a host whose default filesystem
  * is not POSIX take the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !NioRawLocalFileSystem.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.permissions(mode))
  }
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The `rwx` bits of `mode` as NIO permissions. `PosixFilePermission`
    * declares them owner-read first, others-execute last: the enum's
    * ordinal i is mode bit 8 - i.
    */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p))
    set
  }
}
