package graft.lake

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file://` filesystem of the engine's own writes: Hadoop's
  * checksummed [[LocalFileSystem]] (same `.crc` files, same permission
  * bits) without the process spawns. Without libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process, and
  * every `create` and `mkdirs` calls it — once per part file, `.crc` file
  * and task directory, a few ms each. Here the same bits are set through
  * java.nio. Hadoop's own code still runs when `NativeIO` is loaded (already
  * spawn-free), for bits outside 0777 (setuid/setgid/sticky, which the nio
  * POSIX view cannot express) and where the default filesystem has no
  * POSIX view. Scoped per write job through [[writeOptions]]; the session's
  * cached `file://` filesystem is left as it is. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private lazy val posixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0xffff
      if (NativeIO.isAvailable || (bits & ~0x1ff) != 0 || !posixView)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(bits))
    }
  }

  /** `rwxrwxrwx` bits → the nio set (enum order is owner-read first). */
  private def posixBits(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }

  /** DataFrameWriter options (Spark copies them into the write job's Hadoop
    * conf, driver committer and executor writers alike) that route the
    * job's `file://` IO through [[LocalFs]]. The instance is uncached, so
    * it never replaces the session's shared filesystem; an uncached
    * `FileSystem.get` costs ~0.01 ms. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` carrying [[writeOptions]], for direct Hadoop FS IO. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    writeOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
