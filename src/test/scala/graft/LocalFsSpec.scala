package graft

import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import graft.core.{Core, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem against Hadoop's stock one, call by
  * call, in a temp dir. */
class LocalFsSpec extends AnyFunSuite {
  private def tmp(): JPath = Files.createTempDirectory("localfs")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[T <: FileSystem](fs: T, c: Configuration): T = {
    fs.initialize(java.net.URI.create("file:///"), c)
    fs
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def hp(p: JPath): Path = new Path(p.toUri)

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("create, mkdirs and setPermission leave the mode bits Hadoop's chmod leaves") {
    for (umask <- Seq("022", "027", "077", "002")) {
      val modes = Seq("stock" -> new RawLocalFileSystem,
          "nio" -> new NioRawLocalFileSystem).map { case (side, raw) =>
        val fs = init(raw, conf(umask))
        val d = tmp()
        fs.create(hp(d.resolve("plain"))).close()
        fs.create(hp(d.resolve("explicit")), perm("754"), true,
          4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(hp(d.resolve("a/b/c")))
        fs.mkdirs(hp(d.resolve("m")), perm("751"))
        Files.createFile(d.resolve("set"))
        fs.setPermission(hp(d.resolve("set")), perm("640"))
        Files.createDirectory(d.resolve("sticky"))
        fs.setPermission(hp(d.resolve("sticky")), perm("1777"))
        side -> Seq("plain", "explicit", "a", "a/b", "a/b/c", "m", "set",
          "sticky").map(n => n -> mode(d.resolve(n)))
      }.toMap
      assert(modes("nio") == modes("stock"), s"umask $umask")
      // the cases are not vacuous: the umask and the sticky bit show
      assert(modes("nio").toMap.apply("sticky") == 0x3ff)
      assert(modes("nio").toMap.apply("plain") ==
        (0x1b6 & ~Integer.parseInt(umask, 8)))
    }
  }

  test("setPermission on a missing path fails as an IOException on both") {
    val d = tmp()
    for (raw <- Seq(new RawLocalFileSystem, new NioRawLocalFileSystem)) {
      val fs = init(raw, conf())
      intercept[java.io.IOException](
        fs.setPermission(hp(d.resolve("nope")), perm("644")))
    }
  }

  test("getFileLinkStatus: file, dir, symlink, dangling symlink, missing path") {
    val d = tmp()
    Files.write(d.resolve("file"), "abc".getBytes)
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    // Hadoop's readlink probe sees a link only through a bare path; on a
    // qualified `file:` path (what FileContext passes) it reads nothing
    // and reports the target's status. Both forms must match.
    def view(fs: FileSystem, n: String, qualified: Boolean)
        : Either[(Class[_], String), Seq[Any]] =
      try {
        val p = d.resolve(n)
        val s: FileStatus = fs.getFileLinkStatus(
          if (qualified) new Path(p.toUri) else new Path(p.toString))
        Right(Seq(s.getPath, s.getLen, s.isDirectory, s.isFile, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getModificationTime,
          s.getPermission, s.getOwner, s.getGroup))
      } catch { case e: java.io.IOException => Left(e.getClass -> e.getMessage) }
    val stock = init(new RawLocalFileSystem, conf())
    val nio = init(new NioRawLocalFileSystem, conf())
    for (n <- Seq("file", "dir", "link", "dangling", "missing");
         q <- Seq(false, true))
      assert(view(nio, n, q) == view(stock, n, q), s"$n qualified=$q")
    assert(view(nio, "link", false).map(_(4)) == Right(true))
    assert(view(nio, "dangling", false).map(_(4)) == Right(true))
    assert(view(nio, "file", true).map(_(4)) == Right(false))
    for (q <- Seq(false, true))
      assert(view(nio, "missing", q).left.map(_._1) ==
        Left(classOf[java.io.FileNotFoundException]))
  }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Reads through the checksummed stream: `FileContext.open(p)` without
    * a buffer size goes straight to the raw filesystem in Hadoop's
    * `FilterFs`, for stock `LocalFs` too. */
  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p, 4096)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def stockFc(): FileContext = {
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    assert(fc.getDefaultFileSystem.getClass == classOf[LocalFs])
    fc
  }

  private def nioFc(): FileContext = {
    val c = new Configuration()
    Core.forkFreeLocalFs.foreach { case (k, v) => c.set(k, v) }
    val fc = FileContext.getLocalFSFileContext(c)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    fc
  }

  test("FileContext.rename(OVERWRITE) onto an existing file moves data and .crc") {
    def listing(d: JPath): Seq[String] =
      Files.list(d).toArray.map(_.asInstanceOf[JPath].getFileName.toString).sorted.toSeq
    val results = Seq("stock" -> stockFc(), "nio" -> nioFc()).map { case (side, fc) =>
      val d = tmp()
      val (src, dst) = (hp(d.resolve("src")), hp(d.resolve("dst")))
      write(fc, dst, "old contents")
      write(fc, src, "new")
      assert(Files.exists(d.resolve(".dst.crc")) && Files.exists(d.resolve(".src.crc")))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      // read back through the stock FileContext, checksum verified
      side -> (listing(d), read(stockFc(), dst))
    }.toMap
    assert(results("nio") == results("stock"))
    assert(results("nio") == (Seq(".dst.crc", "dst"), "new"))
    // without OVERWRITE an existing destination is refused
    val fc = nioFc()
    val d = tmp()
    write(fc, hp(d.resolve("a")), "a")
    write(fc, hp(d.resolve("b")), "b")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      fc.rename(hp(d.resolve("a")), hp(d.resolve("b")), Options.Rename.NONE))
  }

  test("files written through the new bindings verify under stock checksums") {
    val d = tmp()
    val text = "payload " * 200
    // FileContext binding
    write(nioFc(), hp(d.resolve("fc")), text)
    // FileSystem binding, resolved from the same keys
    val c = new Configuration()
    Core.forkFreeLocalFs.foreach { case (k, v) => c.set(k, v) }
    val fs = hp(d).getFileSystem(c)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    val out = fs.create(hp(d.resolve("fsapi")))
    try out.write(text.getBytes("UTF-8")) finally out.close()

    val stockFs = init(new LocalFileSystem, new Configuration())
    for (n <- Seq("fc", "fsapi")) {
      assert(Files.exists(d.resolve(s".$n.crc")), n)
      assert(read(stockFc(), hp(d.resolve(n))) == text, n)
      val in = stockFs.open(hp(d.resolve(n)))
      try assert(new String(in.readAllBytes(), "UTF-8") == text, n)
      finally in.close()
      // verification is really on: a flipped byte fails the stock read
      val bytes = Files.readAllBytes(d.resolve(n))
      bytes(3) = (bytes(3) ^ 1).toByte
      Files.write(d.resolve(n), bytes)
      intercept[ChecksumException](read(stockFc(), hp(d.resolve(n))))
      val bad = stockFs.open(hp(d.resolve(n)))
      try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
    }
  }
}
