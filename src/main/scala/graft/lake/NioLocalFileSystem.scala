package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local filesystem, except that it sets
  * permissions through `java.nio`. Without the native Hadoop library,
  * `RawLocalFileSystem` forks a `chmod` process for every file and
  * directory it creates (a data file and its `.crc` are two), which a
  * small lake write pays hundreds of times. The bits set are the ones
  * the stock class passes to `chmod`; with the native library, or for
  * a sticky bit (which `java.nio` cannot set), the stock path runs.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

private[graft] final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit)
      super.setPermission(p, permission)
    else {
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioLocalFileSystem.posix(permission.toShort))
      ()
    }
}

object NioLocalFileSystem {

  /** Writer options that send one write's `file:` paths through this
    * class. Spark copies write options into the job's Hadoop conf, so
    * the task writers and the driver's committer both see them, while
    * the session conf and the process-wide FileSystem cache stay
    * untouched. The cache key ignores `fs.file.impl`, hence the cache
    * is bypassed for these lookups. Formats ignore the keys.
    */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The rwx bits of a `chmod` mode. */
  private[graft] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 down to bit 0
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(p)
    }
    out
  }
}
