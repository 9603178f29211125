package graft.sinks

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class LocalFileSystemNoChmodSpec extends AnyFunSuite {

  /** Counts every `setPermission` and records the modes that reach Hadoop's own. */
  private final class RecordingRaw extends LocalFileSystemNoChmod.Raw {
    var calls = 0
    val fallbacks = mutable.ArrayBuffer.empty[FsPermission]
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      calls += 1
      super.setPermission(p, permission)
    }
    override protected def fallback(p: Path, permission: FsPermission): Unit = {
      fallbacks += permission
      super.fallback(p, permission)
    }
  }

  private def init[F <: FileSystem](fs: F, umask: String): F = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private val Explicit = Seq(0x180, 0x1a0, 0x1c0, 0x1ed) // 0600, 0640, 0700, 0755

  /** Builds the same tree through `fs` in a fresh directory; every entry's
    * mode (checksum files included) by relative path. */
  private def tree(fs: FileSystem): Map[String, Int] = {
    val root = Files.createTempDirectory("graft-nochmod")
    val r = new Path(root.toUri)
    fs.mkdirs(new Path(r, "d"))
    fs.create(new Path(r, "d/f")).close()
    fs.create(new Path(r, "d/nested/g")).close()
    Explicit.foreach { m =>
      val perm = new FsPermission(m.toShort)
      val name = Integer.toOctalString(m)
      fs.create(new Path(r, s"f$name"), perm, false, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(r, s"d$name"), perm)
      val f = new Path(r, s"setf$name")
      fs.create(f).close()
      fs.setPermission(f, perm)
      val d = new Path(r, s"setd$name")
      fs.mkdirs(d)
      fs.setPermission(d, perm)
    }
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map(p => root.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  test("files, directories and explicit modes get the permissions Hadoop's LocalFileSystem gives them") {
    Seq("022", "027", "077").foreach { umask =>
      val stock = tree(init(new LocalFileSystem(), umask))
      val mine = tree(init(new LocalFileSystemNoChmod(), umask))
      assert(stock.size > 20, stock)
      assert(mine == stock, s"umask $umask")
    }
  }

  test("plain rwx modes never reach Hadoop's setPermission; a sticky bit does") {
    val raw = new RecordingRaw
    val fs = init(new LocalFileSystemNoChmod(raw), "022")
    tree(fs)
    assert(raw.calls > 20)
    assert(raw.fallbacks.isEmpty, raw.fallbacks)

    val d = Files.createTempDirectory("graft-nochmod-sticky")
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    fs.setPermission(new Path(d.toUri), sticky)
    assert(raw.fallbacks == Seq(sticky))
    assert(mode(d) == 0x3ff)
  }

  test("posix maps exactly the nine rwx bits") {
    import java.nio.file.attribute.PosixFilePermissions.{fromString, toString => render}
    assert(LocalFileSystemNoChmod.posix(new FsPermission(0x1a4.toShort)).map(render) == Some("rw-r--r--"))
    assert(LocalFileSystemNoChmod.posix(new FsPermission(0x1ff.toShort)) == Some(fromString("rwxrwxrwx")))
    assert(LocalFileSystemNoChmod.posix(new FsPermission(0.toShort)).map(_.isEmpty) == Some(true))
    assert(LocalFileSystemNoChmod.posix(new FsPermission(0x3ed.toShort)).isEmpty) // 01755
  }
}
