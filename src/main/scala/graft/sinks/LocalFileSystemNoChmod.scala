package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem, setting permissions in-process.
  *
  * Without a native libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for every file and directory it creates: each checkpoint
  * log entry, parquet part and their `.crc` files. This one sets the same
  * bits with `Files.setPosixFilePermissions`, and leaves to Hadoop's own
  * path the modes that call cannot express (the sticky bit) and stores
  * without POSIX attributes. `GraftConfig.sparkStreamingOptions` wires it
  * as `fs.file.impl`.
  */
class LocalFileSystemNoChmod(raw: RawLocalFileSystem) extends LocalFileSystem(raw) {
  def this() = this(new LocalFileSystemNoChmod.Raw)
}

object LocalFileSystemNoChmod {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      posix(permission) match {
        case Some(bits) =>
          try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
          catch { case _: UnsupportedOperationException => fallback(p, permission) }
        case None => fallback(p, permission)
      }

    /** Hadoop's own `setPermission`: native, or a forked `chmod`. */
    protected def fallback(p: Path, permission: FsPermission): Unit =
      super.setPermission(p, permission)
  }

  /** The nine rwx bits of `permission`, or None when it sets any other. */
  private[sinks] def posix(permission: FsPermission): Option[java.util.Set[PosixFilePermission]] = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) None
    else {
      // PosixFilePermission lists owner, group, others, each read, write, execute
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Some(bits)
    }
  }
}
