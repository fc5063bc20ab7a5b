package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem. [[GraftSession]] installs
  * [[NioLocalFileSystem]] as `fs.file.impl` and [[NioLocalFs]] as
  * `fs.AbstractFileSystem.file.impl`, so every local write goes through
  * [[NioRawLocalFileSystem]]: parquet and JSON output, the streaming
  * offset/commit logs and state-store deltas (FileContext), and the
  * `.crc` sidecar of each.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` sets the mode of
  * every file, sidecar and directory it creates by spawning `chmod`, and
  * answers `getFileLinkStatus` (which every FileContext create and rename
  * asks, for both paths and their checksums) by spawning `readlink` on
  * the `file:/…` string, which never resolves. The raw subclass sets the
  * same bits through `java.nio` and answers a non-link through
  * `getFileStatus`; it defers to Hadoop only for a sticky bit (no POSIX
  * file permission carries it) and for a real symlink.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(
      pathToFile(p).toPath, NioRawLocalFileSystem.posix(permission.toShort))
    catch {
      case _: NoSuchFileException => throw new FileNotFoundException(
        s"File $p does not exist")
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else {
      // Hadoop reads the link of the path's string; without the scheme
      // that string is the file's own path
      val st = super.getFileLinkStatus(Path.getPathWithoutSchemeAndAuthority(f))
      st.setPath(makeQualified(f))
      st
    }

  // FileContext asks for a link's target by its qualified path, which
  // Hadoop's `readlink` of the path's string cannot resolve
  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
}

object NioRawLocalFileSystem {
  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: bit 8 down to bit 0 of the mode
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (perm, i) => perm -> (1 << (8 - i)) }

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (perm, bit) => if ((mode & bit) != 0) set.add(perm) }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. `rename` onto an existing file returns
  * false and leaves that file alone, as the `file:` class it replaces
  * did (Hive's `ProxyLocalFileSystem`, which `hive-exec`'s ServiceLoader
  * entry made the effective `file:` class) and as the `FileSystem`
  * contract asks; the raw rename would replace it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `fs.AbstractFileSystem.file.impl`: the FileContext `file:` filesystem,
  * Hadoop's `LocalFs` (checksums over a `DelegateToFileSystem`) with
  * [[NioRawLocalFileSystem]] underneath.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(NioLocalFs.raw(uri, conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs`, whose constructors are package-private, over
    * the raw subclass.
    */
  private def raw(uri: URI, conf: Configuration): DelegateToFileSystem =
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }
}
