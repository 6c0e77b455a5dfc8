package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, LocalFs}

/** The fork-free local filesystem against Hadoop's stock classes, side
  * by side in one temp dir: the same permission bits, link answers,
  * rename refusals and checksum failures.
  */
class LocalFsSpec extends AnyFunSuite {

  private val local = URI.create("file:///")

  private def conf(umask: String = "022", bound: Boolean = false): Configuration = {
    val c = new Configuration()
    c.set("fs.permission.umask-mode", umask)
    if (bound) LocalFs.bind(c)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = { fs.initialize(local, c); fs }

  /** (stock, engine) FileContexts over `file:`. */
  private def contexts(umask: String = "022"): Seq[FileContext] = {
    val fcs = Seq(false, true).map(b => FileContext.getFileContext(local, conf(umask, b)))
    assert(fcs.map(_.getDefaultFileSystem.getClass) ==
      Seq(classOf[org.apache.hadoop.fs.local.LocalFs], classOf[ForkFreeLocalFs]))
    fcs
  }

  private def tmp(): File = Files.createTempDirectory("localfs").toFile

  private def mode(f: File): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("files, .crc sidecars and directories get the stock permission bits under the umask") {
    for (umask <- Seq("022", "077", "002", "027")) {
      val dir = tmp()
      val Seq(stock, engine) = Seq(new LocalFileSystem, new ForkFreeLocalFileSystem)
        .map(init(_, conf(umask)))
      val modes = Seq("stock" -> stock, "engine" -> engine).map { case (name, fs) =>
        val base = new Path(dir.getPath, name)
        fs.mkdirs(new Path(base, "a/b"))
        val out = fs.create(new Path(base, "a/b/f"))
        out.write(Array[Byte](1, 2, 3)); out.close()
        val d = new File(dir, name)
        Seq(new File(d, "a"), new File(d, "a/b"), new File(d, "a/b/f"), new File(d, "a/b/.f.crc"))
          .map(mode)
      }
      assert(modes(0) == modes(1), s"umask $umask")
      // FileContext (the checkpoint path) as well
      val Seq(s, e) = contexts(umask).zip(Seq("fcs", "fce")).map { case (fc, name) =>
        val p = new Path(dir.getPath, s"$name/x/y")
        fc.mkdir(p.getParent, FsPermission.getDirDefault, true)
        fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
        Seq(new File(dir, s"$name/x"), new File(dir, s"$name/x/y"), new File(dir, s"$name/x/.y.crc"))
          .map(mode)
      }
      assert(s == e, s"umask $umask (FileContext)")
    }
  }

  test("setPermission sets the stock bits, sticky bit included") {
    val dir = tmp()
    val Seq(stock, engine) = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
      .map(init(_, conf()))
    for (bits <- Seq(0, 0x1ff, 0x1a4, 0x1ed, 0x124, 0x1c0, 0x3ff)) {
      val got = Seq("stock" -> stock, "engine" -> engine).map { case (name, fs) =>
        val d = new File(dir, s"$name-$bits"); d.mkdir()
        val f = new File(dir, s"$name-$bits.f"); f.createNewFile()
        val perm = new FsPermission(bits.toShort)
        fs.setPermission(new Path(d.getPath), perm)
        fs.setPermission(new Path(f.getPath), new FsPermission((bits & 0x1ff).toShort))
        val out = (mode(d), mode(f), fs.getFileStatus(new Path(d.getPath)).getPermission)
        d.setWritable(true); d.setReadable(true); d.setExecutable(true)
        out
      }
      assert(got(0) == got(1), f"mode $bits%o")
    }
  }

  test("getFileLinkStatus gives the stock answer, qualified and unqualified") {
    val dir = tmp()
    val file = new File(dir, "file"); Files.write(file.toPath, "x".getBytes)
    val sub = new File(dir, "dir"); sub.mkdir()
    val link = new File(dir, "link"); Files.createSymbolicLink(link.toPath, Paths.get("file"))
    val dangling = new File(dir, "dangling")
    Files.createSymbolicLink(dangling.toPath, Paths.get(dir.getPath, "gone"))
    val missing = new File(dir, "missing")
    val Seq(stock, engine) = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
      .map(init(_, conf()))

    def status(fs: FileSystem, p: Path): Either[Class[_], String] =
      try Right(fs.getFileLinkStatus(p).toString)
      catch { case e: java.io.IOException => Left(e.getClass) }

    for (f <- Seq(file, sub, link, dangling, missing);
         p <- Seq(new Path(f.getPath), stock.makeQualified(new Path(f.getPath)))) {
      val want = status(stock, p)
      assert(status(engine, p) == want, p)
      if (f == missing) assert(want == Left(classOf[FileNotFoundException]), p)
    }
    // the link cases do exercise the link branch: an unqualified link
    // reads as a link, a scheme-qualified one (what FileContext passes)
    // as not a link, exactly as the forked readlink answers
    val unq = engine.getFileLinkStatus(new Path(link.getPath))
    assert(unq.isSymlink && unq.getSymlink == stock.makeQualified(new Path(file.getPath)))
    assert(engine.getFileLinkStatus(new Path(dangling.getPath)).isSymlink)
    assert(!engine.getFileLinkStatus(stock.makeQualified(new Path(link.getPath))).isSymlink)
  }

  test("FileContext rename without OVERWRITE still refuses an existing destination") {
    val dir = tmp()
    for ((fc, name) <- contexts().zip(Seq("stock", "engine"))) {
      val src = new Path(dir.getPath, s"$name-src"); val dst = new Path(dir.getPath, s"$name-dst")
      for (p <- Seq(src, dst)) {
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(p.getName.getBytes); out.close()
      }
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(fc.util.exists(src), name)
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src), name)
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes()) == s"$name-src", name) finally in.close()
    }
  }

  test("bytes changed after the write still fail the read with ChecksumException") {
    val dir = tmp()
    val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    def corrupt(f: File): Unit = {
      val b = Files.readAllBytes(f.toPath); b(1000) = (b(1000) ^ 0xff).toByte
      Files.write(f.toPath, b)
    }
    for ((fc, name) <- contexts().zip(Seq("fc-stock", "fc-engine"))) {
      val p = new Path(dir.getPath, name)
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(bytes); out.close()
      assert(new File(dir, s".$name.crc").exists, name)
      corrupt(new File(dir, name))
      // the sized open: a bare `open(p)` skips the check in stock
      // Hadoop too (FilterFs forwards it to the raw filesystem)
      intercept[ChecksumException] {
        val in = fc.open(p, 4096); try in.readAllBytes() finally in.close()
      }
    }
    for ((fs, name) <- Seq(new LocalFileSystem, new ForkFreeLocalFileSystem)
           .map(init(_, conf())).zip(Seq("fs-stock", "fs-engine"))) {
      val p = new Path(dir.getPath, name)
      val out = fs.create(p); out.write(bytes); out.close()
      corrupt(new File(dir, name))
      intercept[ChecksumException] {
        val in = fs.open(p); try in.readAllBytes() finally in.close()
      }
    }
  }
}
