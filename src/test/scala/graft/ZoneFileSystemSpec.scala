package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import graft.pipeline.{Lakehouse, ZoneFileSystem}
import graft.tools.MockObjectStoreFS
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** `ZoneFileSystem`: in-process permission bits equal the stock local
  * FileSystem's, the sticky bit takes the stock path, and
  * `Lakehouse.configure` installs it over an already-cached local FileSystem.
  */
class ZoneFileSystemSpec extends SparkSpec {

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def init[F <: FileSystem](fs: F): F = {
    val hc = new Configuration()
    hc.set("fs.permissions.umask-mode", "000")
    fs.initialize(URI.create("file:///"), hc)
    fs
  }

  private lazy val root = Files.createTempDirectory("graft-zonefs")

  test("created files and made directories get the stock FileSystem's bits") {
    val ours = init(new ZoneFileSystem)
    val stock = init(new LocalFileSystem)
    for (mode <- Seq("600", "640", "644", "700", "750", "755")) {
      def perms(fs: FileSystem, kind: String) = {
        val p = root.resolve(s"$kind-$mode-${fs.getClass.getSimpleName}")
        if (kind == "file") fs.create(new Path(p.toUri), octal(mode), true, 4096,
          1.toShort, 1L << 20, null).close()
        else assert(fs.mkdirs(new Path(p.toUri), octal(mode)))
        Files.getPosixFilePermissions(p)
      }
      for (kind <- Seq("file", "dir")) {
        val got = perms(ours, kind)
        assert(got === perms(stock, kind), s"$kind $mode")
        assert(got === PosixFilePermissions.fromString(octal(mode).toString), s"$kind $mode")
      }
    }
  }

  test("a sticky-bit request falls back to the stock setPermission") {
    val ours = init(new ZoneFileSystem)
    val dir = Files.createDirectory(root.resolve("sticky"))
    ours.setPermission(new Path(dir.toUri), octal("1755"))
    // the POSIX attribute view cannot carry the sticky bit; only the stock
    // path sets it
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ===
      Integer.parseInt("1755", 8))
  }

  test("configure replaces an already-cached local FileSystem, other schemes kept") {
    val hc = spark.sparkContext.hadoopConfiguration
    def resolve(p: String) = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    hc.set("fs.file.impl", classOf[LocalFileSystem].getName)
    FileSystem.getLocal(hc) match {
      case z: ZoneFileSystem => z.close()
      case _ =>
    }
    assert(!resolve(s"file:$root").isInstanceOf[ZoneFileSystem])
    hc.set("fs.mockfs.impl", classOf[MockObjectStoreFS].getName)
    val mock = resolve(s"mockfs://lake$root")
    Lakehouse.configure(spark)
    assert(resolve(s"file:$root").isInstanceOf[ZoneFileSystem])
    assert(resolve(s"mockfs://lake$root") eq mock)
  }
}
