package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** The in-process local filesystem against Hadoop's stock one: fresh,
  * uncached instances of each make the same calls in their own temp dir
  * and must leave the same permission bits, report the same statuses and
  * end each rename the same way. */
class LocalFsSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, nio) FileSystems, each `initialize`d afresh. */
  private def fileSystems(c: Configuration): Seq[LocalFileSystem] = {
    val fss = Seq(new LocalFileSystem, new NioLocalFileSystem)
    fss.foreach(_.initialize(root, c))
    fss
  }

  /** (stock, nio) FileContexts over new AbstractFileSystems. */
  private def contexts(c: Configuration): Seq[FileContext] = {
    val stock = AbstractFileSystem.createFileSystem(root, c)
    assert(stock.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    Seq(stock, new NioLocalFs(root, c)).map(FileContext.getFileContext(_, c))
  }

  /** Permission bits with the sticky bit, read past Hadoop. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x3ff

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("created files and nested mkdirs get the same bits under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val c = conf(umask)
      val modes = fileSystems(c).zip(contexts(c)).map { case (fs, fc) =>
        val dir = Files.createTempDirectory("localfs").toString
        fs.create(new Path(s"$dir/f")).close()
        fs.mkdirs(new Path(s"$dir/a/b/c"))
        write(fc, new Path(s"$dir/g/h"), "x")
        fc.mkdir(new Path(s"$dir/m/n"), FsPermission.getDirDefault, true)
        Seq("f", ".f.crc", "a", "a/b", "a/b/c", "g", "g/h", "g/.h.crc", "m", "m/n")
          .map(r => r -> mode(s"$dir/$r"))
      }
      assert(modes(0) == modes(1), s"umask $umask")
      val files = if (umask == "022") Integer.parseInt("644", 8) else Integer.parseInt("600", 8)
      assert(modes(1).toMap.apply("f") == files, s"umask $umask")
    }
  }

  test("setPermission on a directory sets the same bits, the sticky bit included") {
    val modes = Seq("0600", "0644", "0700", "0755", "0777", "1777").map(Integer.parseInt(_, 8))
    val set = fileSystems(conf("022")).map { fs =>
      val dir = Files.createTempDirectory("localfs").toString
      modes.map { m =>
        fs.setPermission(new Path(dir), new FsPermission(m.toShort))
        mode(dir)
      }
    }
    assert(set(0) == modes)
    assert(set(1) == modes)
  }

  test("getFileLinkStatus agrees on files, directories, links and missing paths") {
    val dir = Files.createTempDirectory("localfs")
    Files.write(dir.resolve("f"), "abc".getBytes("UTF-8"))
    Files.createDirectory(dir.resolve("d"))
    Files.createSymbolicLink(dir.resolve("l"), dir.resolve("f"))
    Files.createSymbolicLink(dir.resolve("x"), dir.resolve("gone"))
    def view(s: => FileStatus): Either[String, (Boolean, Option[Path], Boolean, Long)] =
      try {
        val st = s
        Right((st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None, st.isDirectory,
          st.getLen))
      } catch { case e: IOException => Left(e.getClass.getName) }
    val c = conf("022")
    for (name <- Seq("f", "d", "l", "x", "missing")) {
      val plain = new Path(dir.resolve(name).toString)
      for (p <- Seq(plain, plain.makeQualified(root, new Path("/")))) {
        val Seq(fsStock, fsNio) = fileSystems(c).map(fs => view(fs.getFileLinkStatus(p)))
        val Seq(fcStock, fcNio) = contexts(c).map(fc => view(fc.getFileLinkStatus(p)))
        assert(fsStock == fsNio, s"FileSystem $p")
        assert(fcStock == fcNio, s"FileContext $p")
        if (name == "missing")
          assert(fsNio == Left(classOf[FileNotFoundException].getName), p)
      }
    }
    // the unqualified link takes the symlink branch, not the plain one
    val link = new Path(dir.resolve("l").toString)
    assert(fileSystems(c)(1).getFileLinkStatus(link).isSymlink)
  }

  test("FileContext.rename ends the same way with and without OVERWRITE") {
    val c = conf("022")
    for (overwrite <- Seq(false, true); destExists <- Seq(false, true)) {
      val outcomes = contexts(c).map { fc =>
        val dir = Files.createTempDirectory("localfs").toString
        val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
        write(fc, src, "new")
        if (destExists) write(fc, dst, "old")
        val result =
          try {
            if (overwrite) fc.rename(src, dst, Options.Rename.OVERWRITE) else fc.rename(src, dst)
            "renamed"
          } catch { case e: IOException => e.getClass.getName }
        val listing = new java.io.File(dir).list().sorted.toSeq
        (result, listing, new String(Files.readAllBytes(Paths.get(s"$dir/dst")), "UTF-8"))
      }
      assert(outcomes(0) == outcomes(1), s"overwrite=$overwrite destExists=$destExists")
    }
  }
}
