package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLocalFileSystem, GraftLocalFs, NioRawLocalFileSystem}

/** The engine's `file:` file systems behave as Hadoop's stock local ones:
  * each check runs the same calls through graft's class and the stock
  * class on sibling temp directories and compares the POSIX mode bits
  * (sticky bit included) or the link status.
  */
class LocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val root = new URI("file:///")

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Permission bits, sticky bit included. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & octal("7777")

  private def init[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(root, conf)
    fs
  }

  private def umaskConf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def fileContext(impl: String, conf: Configuration): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(AbstractFileSystem.get(root, c), c)
  }

  /** Mode bits of what `write` creates under a fresh directory, relative
    * to that directory, in creation order.
    */
  private def created(write: Path => Seq[Path]): Seq[(String, Int)] = {
    val base = new Path(Files.createTempDirectory("graft_lfs").toUri)
    write(base).map(p => base.toUri.relativize(p.toUri).toString -> mode(p))
  }

  /** A directory, a data file in it and the file's checksum side file. */
  private def throughFileSystem(fs: FileSystem)(base: Path): Seq[Path] = {
    val dir = new Path(base, "d/e")
    assert(fs.mkdirs(dir))
    val file = new Path(dir, "part-0")
    val out = fs.create(file)
    try out.write("abc".getBytes(UTF_8)) finally out.close()
    Seq(new Path(base, "d"), dir, file, new Path(dir, ".part-0.crc"))
  }

  private def throughFileContext(fc: FileContext)(base: Path): Seq[Path] = {
    val dir = new Path(base, "d/e")
    fc.mkdir(dir, FsPermission.getDirDefault, true)
    val file = new Path(dir, "0")
    val out = fc.create(file, EnumSet.of(CreateFlag.CREATE))
    try out.write("abc".getBytes(UTF_8)) finally out.close()
    Seq(new Path(base, "d"), dir, file, new Path(dir, ".0.crc"))
  }

  test("the session's file: FileSystem and FileContext file system are graft's") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).getClass == classOf[GraftLocalFileSystem])
    assert(AbstractFileSystem.get(root, conf).getClass == classOf[GraftLocalFs])
    assert(FileSystem.get(root, conf).asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
  }

  Seq(None, Some("077")).foreach { umask =>
    val label = umask.fold("the default umask")(u => s"umask $u")

    test(s"files and directories made through the FileSystem view get the stock bits under $label") {
      val conf = umaskConf(umask)
      val stock = created(throughFileSystem(init(new LocalFileSystem(), conf)))
      val graft = created(throughFileSystem(init(new GraftLocalFileSystem, conf)))
      assert(graft == stock)
      if (umask.nonEmpty) assert(graft.map(_._2).forall(m => (m & octal("77")) == 0), graft)
    }

    test(s"files and directories made through the FileContext view get the stock bits under $label") {
      val conf = umaskConf(umask)
      val stock = created(throughFileContext(
        fileContext("org.apache.hadoop.fs.local.LocalFs", conf)))
      val graft = created(throughFileContext(
        fileContext(classOf[GraftLocalFs].getName, conf)))
      assert(graft == stock)
      if (umask.nonEmpty) assert(graft.map(_._2).forall(m => (m & octal("77")) == 0), graft)
    }
  }

  test("an explicit setPermission, with or without the sticky bit, sets the stock bits") {
    val conf = new Configuration()
    def apply(fs: FileSystem)(base: Path): Seq[Path] = {
      val file = new Path(base, "f")
      fs.create(file).close()
      fs.setPermission(file, new FsPermission(octal("640").toShort))
      val dir = new Path(base, "sticky")
      fs.mkdirs(dir)
      fs.setPermission(dir, new FsPermission(octal("1777").toShort))
      Seq(file, dir)
    }
    val stock = created(apply(init(new RawLocalFileSystem, conf)))
    val graft = created(apply(init(new NioRawLocalFileSystem, conf)))
    assert(graft == stock)
    assert(graft.map(_._2) == Seq(octal("640"), octal("1777")))
  }

  test("getFileLinkStatus matches the stock call for a file, a directory and a symlink") {
    val conf = new Configuration()
    val stock = init(new RawLocalFileSystem, conf)
    val graft = init(new NioRawLocalFileSystem, conf)
    val base = Files.createTempDirectory("graft_lfs")
    val file = Files.write(base.resolve("f"), "abc".getBytes(UTF_8))
    val dir = Files.createDirectory(base.resolve("d"))
    val link = Files.createSymbolicLink(base.resolve("l"), file)
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) Some(s.getSymlink) else None)
    // Both path forms: the stock call reads the link target of the path's
    // string, so it reports a link only for a path without a scheme.
    for (p <- Seq(file, dir, link); hp <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(fields(graft.getFileLinkStatus(hp)) == fields(stock.getFileLinkStatus(hp)), hp)
    assert(graft.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(base.resolve("missing").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](graft.getFileLinkStatus(missing))
  }

  test("a FileContext create then rename with overwrite replaces the target and its checksum") {
    val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    val base = new Path(Files.createTempDirectory("graft_lfs").toUri)
    def write(p: Path, text: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val target = new Path(base, "0")
    write(target, "old offsets")
    val tmp = new Path(base, ".0.tmp")
    write(tmp, "new offsets, longer")
    fc.rename(tmp, target, Options.Rename.OVERWRITE)
    assert(read(target) == "new offsets, longer") // the checksum is verified on read
    assert(!fc.util.exists(tmp))
    assert(!fc.util.exists(new Path(base, "..0.tmp.crc")))
    assert(fc.util.exists(new Path(base, ".0.crc")))
  }
}
