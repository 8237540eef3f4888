package graft.sources

import java.io.{FileNotFoundException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files, LinkOption, NoSuchFileException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of a graft session. Without `libhadoop`,
  * Hadoop's `RawLocalFileSystem` shells out for POSIX metadata: every
  * create and `mkdirs` forks `chmod`, every permission read forks
  * `ls -ld` and every FileContext rename forks `readlink`. A
  * partitioned transfer or a streaming checkpoint pays hundreds of
  * process spawns per call for metadata the JDK reads and writes
  * in-process. This subclass does the same operations through the
  * `unix` attribute view (one `stat` or `chmod` syscall, sticky bit
  * included), so the resulting modes, owners and groups are the ones
  * the stock implementation produces. Whatever the view cannot express
  * exactly goes to the superclass: modes with bits outside 0777, a
  * directory carrying setuid/setgid (which `chmod 0755` keeps but
  * `chmod(2)` clears), a real symlink's link status, and any platform
  * without the view. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    val file = pathToFile(p).toPath
    if (!unixView || (mode & ~Rwx) != 0) super.setPermission(p, permission)
    else {
      val old = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      if ((old & IfMt) == IfDir && (old & SetId) != 0) super.setPermission(p, permission)
      else Files.setAttribute(file, "unix:mode", Integer.valueOf(mode))
    }
  }

  /** The stock status, field for field, with permission, owner and group
    * read on first use instead of by `ls -ld`. */
  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
      new NioFileStatus(a.size, a.isDirectory, getDefaultBlockSize(f),
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory), file.getPath)
    }

  /** A directory's entries come from [[getFileStatus]]; a plain file's
    * single status is built by the superclass directly, so rebuild it. */
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f) match {
    case Array(s) if unixView && !s.isInstanceOf[NioFileStatus] => Array(getFileStatus(f))
    case all => all
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (unixView && !Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

private object NioRawLocalFileSystem {
  val unixView: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // st_mode bits, in octal: 0777, 01000, 06000, 0170000, 040000
  val Rwx = 0x1ff
  val Sticky = 0x200
  val SetId = 0xc00
  val IfMt = 0xf000
  val IfDir = 0x4000
}

/** Permission, owner and group load on first access, as `ls -ld` would
  * report them: the link itself is read, not its target, and a file
  * gone before the read keeps the default permission and empty names. */
final class NioFileStatus(length: Long, isDir: Boolean, blockSize: Long,
    mtime: Long, atime: Long, path: Path, localPath: String)
  extends FileStatus(length, isDir, 1, blockSize, mtime, atime, null, null, null, path) {
  import NioRawLocalFileSystem.{Rwx, Sticky}

  @volatile private var loaded = false

  private def load(): Unit = if (!loaded) synchronized {
    if (!loaded) {
      try {
        val a = Files.readAttributes(Paths.get(localPath), "unix:mode,owner,group",
          LinkOption.NOFOLLOW_LINKS)
        val mode = a.get("mode").asInstanceOf[Int]
        setPermission(new FsPermission((mode & (Rwx | Sticky)).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      } catch {
        case _: NoSuchFileException => setPermission(null)
        case e: java.io.IOException => throw new UncheckedIOException(e)
      }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
}

/** `LocalFileSystem` (the checksummed `file:` FileSystem) over
  * [[NioRawLocalFileSystem]]; `FileSystem.getLocal` casts to that type. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's `file:` filesystem over [[NioRawLocalFileSystem]]:
  * the checksummed stack Hadoop's `LocalFs` builds over `RawLocalFs`.
  * Streaming checkpoints and the HDFS-backed state store write through
  * FileContext, not through `fs.file.impl`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
