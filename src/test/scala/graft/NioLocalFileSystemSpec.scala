package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.io.NioLocalFileSystem

/** The `file:` filesystem that `core-site.xml` wires into every session:
  * it is the one the shared test session gets, it leaves the same mode
  * bits on disk as Hadoop's stock local filesystem, and the site file is
  * the one place under src/ that wires it.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  test("the shared test session's file: filesystem is NioLocalFileSystem") {
    val conf = SparkTestSession.spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getLocal(conf).getClass == classOf[NioLocalFileSystem])
    assert(new HPath("file:///tmp").getFileSystem(conf).getClass == classOf[NioLocalFileSystem])
  }

  /** A fresh, uncached instance of `fs` over `file:///`. */
  private def local(fs: LocalFileSystem): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("create, mkdirs and setPermission leave the stock filesystem's mode bits") {
    val nio = local(new NioLocalFileSystem)
    val stock = local(new LocalFileSystem)
    val root = Files.createTempDirectory("niofs")
    Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "600" -> "rw-------", "700" -> "rwx------").foreach {
      case (octal, rwx) =>
        val perm = new FsPermission(octal)
        // each filesystem makes the same tree under its own sibling dir
        val made = Seq(nio -> "nio", stock -> "stock").map { case (fs, side) =>
          val dir = root.resolve(s"$octal-$side")
          def p(name: String) = new HPath(dir.resolve(name).toUri)
          fs.create(p("created"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
          assert(fs.mkdirs(p("made/inner"), perm))
          fs.create(p("chmodded")).close()
          fs.setPermission(p("chmodded"), perm)
          Seq("created", ".created.crc", "made", "made/inner", "chmodded", ".chmodded.crc")
            .map(n => n -> mode(dir.resolve(n)))
        }
        assert(made(0) == made(1), s"mode $octal")
        assert(made(0).toMap.apply("created") == rwx && made(0).toMap.apply("chmodded") == rwx)
    }
  }

  test("a mode above 0777 takes the stock path and still lands") {
    val nio = local(new NioLocalFileSystem)
    val dir = Files.createTempDirectory("niofs-sticky")
    nio.setPermission(new HPath(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1777", 8))
  }

  test("rename onto an existing file returns false and keeps both; onto a new path it moves the .crc too") {
    val nio = local(new NioLocalFileSystem)
    val dir = Files.createTempDirectory("niofs-rename")
    def p(name: String) = new HPath(dir.resolve(name).toUri)
    Seq("a", "b").foreach { n =>
      val out = nio.create(p(n))
      try out.writeBytes(n) finally out.close()
    }
    assert(!nio.rename(p("a"), p("b")))
    assert(Files.readString(dir.resolve("a")) == "a" && Files.readString(dir.resolve("b")) == "b")
    assert(nio.rename(p("a"), p("c")))
    assert(Files.readString(dir.resolve("c")) == "a")
    assert(Files.exists(dir.resolve(".c.crc")) && !Files.exists(dir.resolve(".a.crc")))
  }

  test("core-site.xml is the only Hadoop site file under src/ and the only place naming the fs.file key") {
    val key = "fs.file" + ".impl"
    // comments are dropped first (Scala and XML), so docs may still name the key
    def names(source: String): Boolean =
      source.replaceAll("""(?s)<!--.*?-->""", "").replaceAll("""(?s)/\*.*?\*/""", "")
        .replaceAll("//[^\n]*", "").contains(key)
    def siteFile(p: Path): Boolean = p.getFileName.toString.matches("""[\w.]+-site\.xml""")
    assert(names(s""".config("spark.hadoop.$key", "x")"""))
    assert(names(s"<name>$key</name>"))
    assert(!names(s"/** $key */ val x = 1 // $key\n<!-- $key -->"))
    assert(siteFile(Paths.get("a/hdfs-site.xml")) && !siteFile(Paths.get("core-site.xml.bak")))
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"$root not found from ${sys.props("user.dir")}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    val expected = Seq("src/main/resources/core-site.xml")
    assert(files.filter(siteFile).map(_.toString).sorted == expected)
    // ISO-8859-1 decodes any bytes, so binary resources cannot fail the read
    assert(files.filter(f => names(new String(Files.readAllBytes(f), "ISO-8859-1"))).map(_.toString).sorted == expected)
  }
}
