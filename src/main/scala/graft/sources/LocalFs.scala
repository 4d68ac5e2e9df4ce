package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` FileSystem without a process per call. With no
  * native Hadoop library loaded, `RawLocalFileSystem` runs `chmod` for
  * every create and mkdir (a checksummed create runs a second one for
  * its `.crc` sidecar) and `readlink` for every `getFileLinkStatus`,
  * which a FileContext rename asks twice. This class does both through
  * java.nio and leaves what NIO cannot do the same way to Hadoop's own
  * code, so permission bits, `.crc` sidecars and every answer stay
  * Hadoop's. `graft.GraftExtensions` installs it.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod %04o` on the file. Hadoop applied the umask before this
    * call. Hadoop's own code takes a sticky bit, a set-id bit already
    * on the file (chmod keeps it on a directory, NIO would clear it), a
    * file store with no POSIX view and any failure, so an error is
    * Hadoop's error.
    */
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val done = !perm.getStickyBit && (try {
      val f = pathToFile(p).toPath
      // 0xe00: the set-uid, set-gid and sticky bits (octal 7000)
      (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xe00) == 0 && {
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(
          Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString))
        true
      }
    } catch {
      case _: IOException | _: UnsupportedOperationException | _: IllegalArgumentException => false
    })
    if (!done) super.setPermission(p, perm)
  }

  /** Hadoop runs `readlink` on `new File(f.toString)` and, when it
    * prints nothing, answers `getFileStatus(f)`, which throws
    * FileNotFoundException for a missing path. The same path is probed
    * here; a link, or a path NIO cannot map, goes to Hadoop.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = try Files.isSymbolicLink(new File(f.toString).toPath)
      catch { case _: InvalidPathException => true }
    if (link) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** Hadoop's checksummed `LocalFileSystem` over the raw class above. Its
  * `rename` refuses an existing destination file, as the FileSystem
  * contract says and as Hive's `ProxyLocalFileSystem` does; Spark's
  * Hive jars register that class for `file://`, so it served every
  * session before, and rename-if-absent writers rely on it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The FileContext twin (Spark's checkpoint manager renames through
  * FileContext): Hadoop's `LocalFs`, a `ChecksumFs` over `RawLocalFs`,
  * with the raw class above underneath. Like `LocalFs` it serves
  * `file:///` whatever URI it is built for.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
        conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      // what Hadoop's RawLocalFs overrides
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
