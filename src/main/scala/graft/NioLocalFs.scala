package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.{FileTime, PosixFilePermission}
import java.security.Principal

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` with its metadata calls made as syscalls.
  *
  * Without `libhadoop` the stock class forks a process for each of them:
  * `chmod` in `setPermission` (every create and mkdirs with a permission),
  * `readlink` in `getFileLinkStatus`, and `ls -ld` when a status's
  * permission, owner or group is read. A streaming checkpoint commit makes
  * hundreds of these calls per micro-batch. Here they are `java.nio.file`
  * calls on the same inode, with the stock results: permission bits are the
  * mode's `01777` (what `ls -ld` parses), times are in milliseconds, and a
  * path that cannot be stat'ed is a `FileNotFoundException`. Everything
  * else, data I/O and rename included, is the inherited code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private lazy val blockSize = getDefaultBlockSize(new Path("/"))

  /** `chmod` for the rwx bits; NIO cannot set the sticky bit, so a
    * permission that carries one takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermission.values.filter(q => (bits & (0x100 >> q.ordinal)) != 0).toSet.asJava)
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    status(file, stat(f, file))
  }

  /** The status of `f` itself. For a symlink this is the stock one: the
    * target's attributes as a non-directory, with the link's path and its
    * target qualified against the link's parent. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val link = stat(f, file, LinkOption.NOFOLLOW_LINKS)
    if ((link.mode & S_IFMT) != S_IFLNK) status(file, link)
    else {
      val target = FSLinkResolver.qualifySymlinkTarget(getUri, f, getLinkTarget(f))
      try {
        val to = getFileStatus(f)
        new FileStatus(to.getLen, false, to.getReplication, to.getBlockSize,
          to.getModificationTime, to.getAccessTime, to.getPermission, to.getOwner, to.getGroup,
          target, f)
      } catch { // a dangling link
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)

  /** A directory's children go through [[getFileStatus]] in the inherited
    * code; a plain file is listed as its own status. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  private def status(file: File, s: Stat): FileStatus =
    new FileStatus(s.size, (s.mode & S_IFMT) == S_IFDIR, 1, blockSize, s.mtime, s.atime,
      s.permission, s.owner, s.group,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
}

object NioRawLocalFileSystem {
  private val Attributes = "unix:mode,size,lastModifiedTime,lastAccessTime,owner,group"
  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val S_IFLNK = 0xa000

  private final case class Stat(mode: Int, size: Long, mtime: Long, atime: Long,
      owner: String, group: String) {
    def permission: FsPermission = new FsPermission((mode & 0x3ff).toShort)
  }

  /** One `stat` (or `lstat`) of `file`; like `File.exists`, any failure
    * reads as a missing file. */
  private def stat(f: Path, file: File, options: LinkOption*): Stat = {
    val a = try Files.readAttributes(file.toPath, Attributes, options: _*)
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
    def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[Principal].getName
    Stat(a.get("mode").asInstanceOf[Integer], a.get("size").asInstanceOf[java.lang.Long],
      time("lastModifiedTime"), time("lastAccessTime"), name("owner"), name("group"))
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` entry point that
  * Spark's checkpoint manager writes through: Hadoop's `LocalFs` (a
  * `ChecksumFs`) with [[NioRawLocalFileSystem]] under it. */
final class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]: the same server
  * defaults and name rule as the stock class. */
private final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
