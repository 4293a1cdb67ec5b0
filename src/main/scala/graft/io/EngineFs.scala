package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with `setPermission` through `java.nio`.
  * Hadoop sets the mode of every file, `.crc` sidecar and dir it creates;
  * without a native Hadoop library (Spark ships none) it does so by forking
  * one `chmod` process per path, several ms each. This sets the same mode
  * in-process. A mode `java.nio` cannot express (sticky bit) or a file
  * system without POSIX modes falls back to Hadoop's own call. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = PosixFilePermissions.fromString(
        permission.toString.take(9)) // "rwxr-xr-x": user, group, other
      try Files.setPosixFilePermissions(pathToFile(p).toPath, mode)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}

/** The checksummed local file system (Hadoop's `file:` default) over
  * [[NioRawLocalFileSystem]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The engine's file system for its own writes: `file:` paths resolve to
  * [[NioLocalFileSystem]], every other scheme is untouched. Applied per
  * write — as DataFrame writer options or on a copy of the Hadoop conf —
  * never to the caller's session conf. The instance bypasses Hadoop's
  * file-system cache, whose key ignores the conf and would hand back the
  * session's cached default instead. */
object EngineFs {
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` with [[options]] set. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    options.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
