package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.ProcessCount

/** [[NioRawLocalFileSystem]]'s two in-JVM calls against Hadoop's own
  * `RawLocalFileSystem`, which runs `chmod` and `readlink` here (no
  * Hadoop native library): the same modes and the same statuses, and no
  * process from `org.apache.hadoop.util.Shell` where the input needs
  * none. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)
  private val Shell = "org.apache.hadoop.util.Shell"

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def hpath(p: JPath) = new Path(p.toString)
  /** The permission bits with the sticky, setuid and setgid bits. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def shellStarts[T](body: => T): Seq[ProcessCount.Start] =
    ProcessCount(body)._2.filter(_.from(Shell))

  test("setPermission gives the modes Hadoop's chmod gives, files and directories") {
    val umask = FsPermission.getUMask(conf)
    val perms = Seq("644", "755", "700", "600", "777").map(octal) ++ Seq(
      FsPermission.getFileDefault.applyUMask(umask),
      FsPermission.getDirDefault.applyUMask(umask))
    val root = Files.createTempDirectory("graft-nio-perm")
    val cases = for ((perm, i) <- perms.zipWithIndex; dir <- Seq(false, true)) yield {
      val Seq(a, b) = Seq("stock", "nio").map { who =>
        val p = root.resolve(s"$who-$i-$dir")
        if (dir) Files.createDirectory(p) else Files.write(p, Array[Byte](1, 2))
      }
      stock.setPermission(hpath(a), perm)
      (perm, a, b)
    }
    val forks = shellStarts(cases.foreach { case (perm, _, b) =>
      nio.setPermission(hpath(b), perm) })
    assert(forks.isEmpty, forks)
    cases.foreach { case (perm, a, b) =>
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a),
        s"$perm on $b")
      assert(mode(b) == mode(a) && mode(b) == perm.toShort, s"$perm on $b")
    }
  }

  test("create and mkdirs apply the umask'd defaults as Hadoop's do, in the JVM") {
    val root = Files.createTempDirectory("graft-nio-create")
    def made(fs: RawLocalFileSystem, who: String): (JPath, JPath) = {
      val f = root.resolve(s"$who-file")
      val d = root.resolve(s"$who-dir")
      fs.create(hpath(f)).close()
      assert(fs.mkdirs(hpath(d)))
      (f, d)
    }
    val (sf, sd) = made(stock, "stock")
    val ((nf, nd), starts) = ProcessCount(made(nio, "nio"))
    assert(!starts.exists(_.from(Shell)), starts)
    assert(mode(nf) == mode(sf))
    assert(mode(nd) == mode(sd))
  }

  test("a sticky-bit mode takes Hadoop's chmod") {
    val root = Files.createTempDirectory("graft-nio-sticky")
    val Seq(a, b) = Seq("stock", "nio").map(w => Files.createDirectory(root.resolve(w)))
    val sticky = octal("1777")
    stock.setPermission(hpath(a), sticky)
    val forks = shellStarts(nio.setPermission(hpath(b), sticky))
    assert(forks.exists(_.command.contains("chmod")), forks)
    assert(mode(b) == mode(a) && mode(b) == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus gives Hadoop's status for files, directories and symlinks") {
    val root = Files.createTempDirectory("graft-nio-link")
    val file = Files.write(root.resolve("file"), Array.fill[Byte](7)(1))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"),
      root.resolve("missing"))
    def view(s: FileStatus) = (s.isSymlink, s.getLen, s.isDirectory,
      if (s.isSymlink) Some(s.getSymlink) else None)
    def status(fs: RawLocalFileSystem, p: Path) =
      Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    val paths = Seq(file, dir, link, dangling).map(hpath)
    // qualified (file:/…), as FileContext passes them, and bare
    val qualified = paths.map(stock.makeQualified)
    val want = (qualified ++ paths).map(status(stock, _))
    assert(want.count(_.exists(_._1)) == 2, want) // bare link and dangling
    val (got, starts) = ProcessCount(qualified.map(status(nio, _)))
    assert(got ++ paths.map(status(nio, _)) == want)
    assert(!starts.exists(_.from(Shell)), starts)
    val missing = stock.makeQualified(hpath(root.resolve("missing")))
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }
}
