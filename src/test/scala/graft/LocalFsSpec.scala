package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkEnv
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** [[graft.io]]'s `file:` filesystem keeps the semantics of the classes
  * it replaces: the mode bits it creates and sets, link status, rename,
  * and that a [[GraftSession]] resolves `file:` to it on the driver and
  * in a task.
  */
class LocalFsSpec extends AnyFunSuite {
  import LocalFsSpec._

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft_localfs")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(FileUri, c); fs
  }

  /** The FileContext over [[NioLocalFs]]. */
  private def nioContext(c: Configuration): FileContext = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    FileContext.getLocalFSFileContext(cc)
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(p: java.nio.file.Path): String = new String(Files.readAllBytes(p), UTF_8)

  test("created files, .crc sidecars and directories get the bits Hadoop's local filesystem gives") {
    for (umask <- Seq("022", "077", "002")) {
      val c = conf(umask)
      val modes = Seq(
        init(new LocalFileSystem(), c) -> FileContext.getLocalFSFileContext(c),
        init(new NioLocalFileSystem, c) -> nioContext(c)).map { case (fs, fc) =>
        assert(fc.getDefaultFileSystem.getClass.getSimpleName ===
          (if (fs.isInstanceOf[NioLocalFileSystem]) "NioLocalFs" else "LocalFs"))
        val d = tmp()
        val base = new Path(d.toUri)
        write(fs, new Path(base, "a/b/plain"), "x")
        fs.create(new Path(base, "explicit"), new FsPermission("640"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(base, "m/n"))
        fc.create(new Path(base, "fc/file"),
          java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        fc.mkdir(new Path(base, "fc/dir"), FsPermission.getDirDefault, true)
        Seq("a", "a/b", "a/b/plain", "a/b/.plain.crc", "explicit", ".explicit.crc",
          "m", "m/n", "fc", "fc/file", "fc/.file.crc", "fc/dir")
          .map(rel => rel -> mode(d.resolve(rel)))
      }
      assert(modes(1) === modes(0), s"umask $umask")
      val m = modes(0).toMap
      val mask = oct(umask)
      assert(m("a/b/plain") === (oct("666") & ~mask), s"umask $umask")
      assert(m("m/n") === (oct("777") & ~mask), s"umask $umask")
    }
  }

  test("setPermission round-trips every mode 0000–0777, and a sticky mode still applies") {
    val fs = init(new NioRawLocalFileSystem, conf("022"))
    val d = tmp()
    val f = Files.createFile(d.resolve("f"))
    for (m <- 0 to oct("777")) {
      val perm = new FsPermission(m.toShort)
      fs.setPermission(new Path(f.toUri), perm)
      assert(Files.getPosixFilePermissions(f) ===
        PosixFilePermissions.fromString(perm.toString), f"mode $m%04o")
      assert(mode(f) === m, f"mode $m%04o")
    }
    val sticky = Files.createDirectory(d.resolve("sticky"))
    fs.setPermission(new Path(sticky.toUri), new FsPermission(oct("1755").toShort))
    assert(mode(sticky) === oct("1755"))
    intercept[FileNotFoundException] {
      fs.setPermission(new Path(d.resolve("missing").toUri), new FsPermission("644"))
    }
  }

  test("getFileLinkStatus: a symlink with its qualified target, a file's own status, FNF when missing") {
    val fs = init(new NioLocalFileSystem, conf("022"))
    val d = tmp()
    val target = Files.write(d.resolve("target"), "abc".getBytes(UTF_8))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val ls = fs.getFileLinkStatus(new Path(link.toUri))
    assert(ls.isSymlink)
    assert(ls.getSymlink === fs.makeQualified(new Path(target.toString)))
    assert(ls.getPath === fs.makeQualified(new Path(link.toUri)))
    assert(fs.getLinkTarget(new Path(link.toUri)) === new Path(target.toString))
    val fcs = nioContext(conf("022")).getFileLinkStatus(new Path(link.toUri))
    assert(fcs.isSymlink && fcs.getSymlink === new Path(target.toUri))

    val file = new Path(target.toUri)
    val (a, b) = (fs.getFileLinkStatus(file), fs.getFileStatus(file))
    assert(!a.isSymlink)
    assert((a.getPath, a.getLen, a.isDirectory, a.getModificationTime, a.getPermission) ===
      (b.getPath, b.getLen, b.isDirectory, b.getModificationTime, b.getPermission))
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(d.resolve("nope").toUri)))
  }

  test("rename onto an existing file returns false and leaves that file unchanged") {
    val fs = init(new NioLocalFileSystem, conf("022"))
    val d = tmp()
    val (src, dst) = (new Path(d.resolve("src").toUri), new Path(d.resolve("dst").toUri))
    write(fs, src, "new")
    write(fs, dst, "old")
    assert(!fs.rename(src, dst))
    assert(read(d.resolve("dst")) === "old")
    assert(read(d.resolve("src")) === "new")
    val moved = new Path(d.resolve("moved").toUri)
    assert(fs.rename(src, moved))
    assert(read(d.resolve("moved")) === "new")
    assert(Files.exists(d.resolve(".moved.crc")) && !Files.exists(d.resolve(".src.crc")))
  }

  test("FileContext rename: FileAlreadyExistsException with NONE, replaced with OVERWRITE") {
    val c = conf("022")
    val fc = nioContext(c)
    val fs = init(new NioLocalFileSystem, c)
    val d = tmp()
    val (src, dst) = (new Path(d.resolve("src").toUri), new Path(d.resolve("dst").toUri))
    write(fs, src, "new")
    write(fs, dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(d.resolve("dst")) === "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(d.resolve("dst")) === "new")
    assert(!Files.exists(d.resolve("src")))
    assert(fc.open(dst).readAllBytes().toSeq === "new".getBytes(UTF_8).toSeq)
  }

  test("a GraftSession resolves file: to these classes on the driver and in a task") {
    val spark = TestSpark.spark
    val expected = Seq.fill(3)(classOf[NioLocalFileSystem].getName) :+
      classOf[NioLocalFs].getName
    assert(resolved(spark.sparkContext.hadoopConfiguration) === expected)
    // in a task, from the Hadoop configuration an executor builds out of
    // its SparkConf
    val inTask = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
      val c = new Configuration()
      SparkEnv.get.conf.getAllWithPrefix("spark.hadoop.").foreach { case (k, v) => c.set(k, v) }
      resolved(c)
    }.collect().head
    assert(inTask === expected)
  }
}

object LocalFsSpec {
  val FileUri = new URI("file:///")

  def oct(digits: String): Int = Integer.parseInt(digits, 8)

  /** The classes `file:` resolves to under `c`: FileSystem (cached,
    * `getLocal`, uncached) and FileContext.
    */
  def resolved(c: Configuration): Seq[String] = Seq(
    FileSystem.get(FileUri, c).getClass.getName,
    FileSystem.getLocal(c).getClass.getName,
    FileSystem.newInstance(FileUri, c).getClass.getName,
    FileContext.getFileContext(FileUri, c).getDefaultFileSystem.getClass.getName)
}
