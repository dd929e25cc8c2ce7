package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.{Base64, EnumSet}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FsConstants,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.CreateFlag.{CREATE, OVERWRITE}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{LocalFs, NoForkRawLocalFileSystem}

/** The fork-free `file:` binding against stock Hadoop `LocalFs`, both
  * driven through `FileContext` the way Spark's checkpoint manager
  * drives them: every operation must give the same result, the same
  * `FileStatus` (times aside), the same permission bits and the same
  * `.crc` sidecars on disk.
  */
class LocalFsSpec extends AnyFunSuite {
  private val StockFs = "org.apache.hadoop.fs.local.LocalFs"

  private def context(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(LocalFs.Key, impl)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  private def octal(s: String): FsPermission =
    new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Permission bits, sticky/setuid/setgid included, as the kernel has them. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** Every entry under `root`: relative path, kind, mode, file bytes. */
  private def tree(root: JPath): Seq[String] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      val kind =
        if (Files.isSymbolicLink(p)) "l"
        else if (Files.isDirectory(p)) "d" else "f"
      val bytes = if (kind == "f")
        Base64.getEncoder.encodeToString(Files.readAllBytes(p)) else ""
      f"${root.relativize(p)} $kind ${mode(p)}%o $bytes"
    }.toSeq.sorted

  private def show(st: FileStatus): String =
    Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else "-", st.getReplication,
      st.getBlockSize, st.getPermission, st.getOwner, st.getGroup)
      .mkString(" ")

  /** The checkpoint manager's operations on a fresh `root`; one line per
    * operation with its result or exception class, `root` masked.
    */
  private def script(fc: FileContext, root: JPath): Seq[String] = {
    val base = root.toString
    val log = Seq.newBuilder[String]
    def q(rel: String) = new Path(s"file:$base/$rel")
    def attempt(label: String)(op: => Any): Unit =
      log += s"$label: " + Try(op).fold(_.getClass.getName, String.valueOf)
        .replace(base, "<root>")
    def write(p: Path, text: String, flags: CreateFlag*): Unit = {
      val out = fc.create(p, EnumSet.copyOf(flags.asJava))
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }

    attempt("mkdir -p")(fc.mkdir(q("d/e"), FsPermission.getDirDefault, true))
    attempt("mkdir 700")(fc.mkdir(q("private"), octal("700"), false))
    attempt("create")(write(q("d/a"), "alpha", CREATE))
    attempt("create existing")(write(q("d/a"), "beta", CREATE))
    attempt("create overwrite")(write(q("d/a"), "gamma", CREATE, OVERWRITE))
    attempt("create 600") {
      fc.create(q("d/secret"), EnumSet.of(CREATE),
        Options.CreateOpts.perms(octal("600"))).close()
    }
    attempt("rename")(fc.rename(q("d/a"), q("d/b")))
    attempt("create c")(write(q("d/c"), "delta", CREATE))
    attempt("rename onto existing")(fc.rename(q("d/c"), q("d/b")))
    attempt("rename overwrite")(
      fc.rename(q("d/c"), q("d/b"), Options.Rename.OVERWRITE))
    attempt("read") {
      val in = fc.open(q("d/b"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    attempt("list")(fc.util.listStatus(q("d")).map(_.getPath.getName)
      .sorted.mkString(","))
    attempt("setPermission 640")(fc.setPermission(q("d/b"), octal("640")))
    Files.createSymbolicLink(root.resolve("d/link"), root.resolve("d/b"))
    for (rel <- Seq("d/b", "d/secret", "d", "private", "missing", "d/link")) {
      attempt(s"linkStatus $rel")(show(fc.getFileLinkStatus(q(rel))))
      attempt(s"linkStatus unqualified $rel")(
        show(fc.getFileLinkStatus(new Path(s"$base/$rel"))))
      attempt(s"status $rel")(show(fc.getFileStatus(q(rel))))
    }
    attempt("create gone")(write(q("d/gone"), "epsilon", CREATE))
    attempt("delete file")(fc.delete(q("d/gone"), false))
    attempt("delete dir")(fc.delete(q("d/e"), true))
    attempt("delete missing")(fc.delete(q("missing"), false))
    log.result()
  }

  test("same results, FileStatus, permission bits and .crc sidecars as " +
      "stock LocalFs") {
    val stockFc = context(StockFs)
    val ownFc = context(classOf[LocalFs].getName)
    assert(stockFc.getDefaultFileSystem
      .isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
    assert(ownFc.getDefaultFileSystem.isInstanceOf[LocalFs])
    val stockRoot = Files.createTempDirectory("stockfs")
    val ownRoot = Files.createTempDirectory("noforkfs")
    val stock = script(stockFc, stockRoot)
    val own = script(ownFc, ownRoot)
    stock.zip(own).foreach { case (s, o) => assert(o == s) }
    assert(own.size == stock.size)
    assert(tree(ownRoot) == tree(stockRoot))
    // the comparison covers what it means to: sidecars, modes, a symlink
    val files = tree(ownRoot)
    assert(files.exists(_.startsWith("d/.b.crc f 644 ")), files)
    assert(files.exists(_.startsWith("d/b f 640 ")), files)
    assert(files.exists(_.startsWith("d/secret f 600 ")), files)
    assert(!files.exists(_.startsWith("d/.gone.crc")), files)
    assert(files.exists(_.startsWith("private d 700 ")), files)
    assert(files.exists(_.startsWith("d/link l ")), files)
    assert(own.exists(l => l.startsWith("linkStatus unqualified d/link:") &&
      l.contains(" false true ")), own)
  }

  test("setPermission on plain rwx modes starts no process") {
    val root = Files.createTempDirectory("nofork")
    val f = Files.write(root.resolve("x"), Array[Byte](1, 2, 3))
    val fs = new NoForkRawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    for (m <- Seq("640", "755", "600", "444")) {
      val (_, forks) = Forks.during(
        fs.setPermission(new Path(f.toUri), octal(m)))
      assert(mode(f) == Integer.parseInt(m, 8))
      assert(!forks.exists(_.contains(root.getFileName.toString)), forks)
    }
  }

  test("a sticky bit or a non-POSIX filesystem falls back to stock") {
    val root = Files.createTempDirectory("fallback")
    val conf = new Configuration()
    def init[F <: RawLocalFileSystem](fs: F): F = {
      fs.initialize(URI.create("file:///"), conf); fs
    }
    val stock = init(new RawLocalFileSystem)
    val own = init(new NoForkRawLocalFileSystem)
    // java.nio cannot set a sticky bit; stock chmod can
    val dirs = Seq("stock", "own")
      .map(n => Files.createDirectory(root.resolve(n)))
    stock.setPermission(new Path(dirs(0).toUri), octal("1755"))
    own.setPermission(new Path(dirs(1).toUri), octal("1755"))
    assert(mode(dirs(0)) == Integer.parseInt("1755", 8))
    assert(mode(dirs(1)) == mode(dirs(0)))
    // without POSIX attributes the stock path sets the bits
    val nonPosix = init(new NoForkRawLocalFileSystem {
      override protected def posix: Boolean = false
    })
    val f = Files.write(root.resolve("f"), Array[Byte](1))
    val (_, forks) = Forks.during(
      nonPosix.setPermission(new Path(f.toUri), octal("604")))
    assert(mode(f) == Integer.parseInt("604", 8))
    // stock forks chmod exactly when libhadoop is not loaded
    assert(forks.exists(c => c.startsWith("chmod") &&
      c.contains(root.getFileName.toString)) ==
      !NativeIO.isAvailable, forks)
  }
}
