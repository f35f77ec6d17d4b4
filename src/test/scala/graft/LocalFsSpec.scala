package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] and [[NioLocalFs]] against Hadoop's stock
  * `RawLocalFileSystem` and `LocalFs` on the same files: statuses,
  * permissions as created and as set, listings, missing paths, and a
  * checkpoint-style `FileContext.rename(…, OVERWRITE)` with its `.crc`
  * sibling. The stock classes run their fork path here (no `libhadoop`). */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  conf.set("fs.permissions.umask-mode", "027")

  private def init(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
  private val stock = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)

  private def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
    if (s.isSymlink) Some(s.getSymlink) else None, s.getModificationTime, s.getAccessTime,
    s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize)

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def tmp(): JPath = Files.createTempDirectory("graft-localfs")

  test("create with a permission and mkdirs apply the umask as the stock file system does") {
    val d = tmp()
    for ((fs, name) <- Seq(stock -> "s", nio -> "n")) {
      assert(fs.mkdirs(new Path(d.toString, s"$name/sub"), new FsPermission("777")))
      fs.create(new Path(d.toString, s"$name/sub/f"), new FsPermission("666"), false, 4096,
        1.toShort, 1L << 25, null).close()
    }
    assert(mode(d.resolve("n/sub")) == "rwxr-x---")
    assert(mode(d.resolve("n/sub/f")) == "rw-r-----")
    for (rel <- Seq("sub", "sub/f"))
      assert(mode(d.resolve(s"n/$rel")) == mode(d.resolve(s"s/$rel")), rel)
  }

  test("setPermission sets the same bits") {
    val d = tmp()
    for (name <- Seq("s", "n")) Files.createFile(d.resolve(name))
    stock.setPermission(new Path(d.toString, "s"), new FsPermission("604"))
    nio.setPermission(new Path(d.toString, "n"), new FsPermission("604"))
    assert(mode(d.resolve("n")) == "rw----r--")
    assert(mode(d.resolve("n")) == mode(d.resolve("s")))
  }

  test("a permission with the sticky bit falls back to chmod and keeps the bit") {
    val d = tmp()
    val p = new Path(d.toString, "t")
    assert(nio.mkdirs(p))
    nio.setPermission(p, new FsPermission("1751"))
    val unixMode = Files.getAttribute(d.resolve("t"), "unix:mode").asInstanceOf[Integer] & 0x3ff
    assert(unixMode == Integer.parseInt("1751", 8), "java.nio alone cannot set the sticky bit")
    assert(nio.getFileStatus(p).getPermission.getStickyBit)
    assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)))
  }

  test("getFileStatus: a file and a directory read the same as stock") {
    val d = tmp()
    Files.write(d.resolve("f"), "twelve bytes".getBytes)
    for (p <- Seq(new Path(d.toString, "f"), new Path(d.toString), new Path(d.toUri.toString))) {
      val n = nio.getFileStatus(p)
      assert(fields(n) == fields(stock.getFileStatus(p)), p)
    }
    val f = nio.getFileStatus(new Path(d.toString, "f"))
    assert(f.getLen == 12 && !f.isDirectory && f.getPermission.toShort != 0)
    assert(f.getOwner.nonEmpty && f.getGroup.nonEmpty)
    assert(nio.getFileStatus(new Path(d.toString)).isDirectory)
  }

  test("getFileLinkStatus: a symlink is not dereferenced; a plain file reads as its status") {
    val d = tmp()
    Files.write(d.resolve("target"), "abc".getBytes)
    Files.createSymbolicLink(d.resolve("link"), d.resolve("target").getFileName)
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone").getFileName)
    // unqualified paths: stock `readlink` gets the path as a plain string,
    // so only this form shows it the link
    for (name <- Seq("link", "dangling", "target")) {
      val p = new Path(d.toString, name)
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), name)
    }
    val link = nio.getFileLinkStatus(new Path(d.toUri.toString, "link"))
    assert(link.isSymlink && !link.isDirectory)
    assert(link.getSymlink.toUri.getScheme == "file")
    assert(link.getSymlink.toUri.getPath == d.resolve("target").toString)
    assert(link.getLen == 3, "length of the target")
    assert(nio.getLinkTarget(new Path(d.toString, "link")) == new Path("target"))
    assert(!nio.getFileLinkStatus(new Path(d.toUri.toString, "target")).isSymlink)
  }

  test("listStatus: a directory and a plain file list as stock") {
    val d = tmp()
    Files.createDirectory(d.resolve("sub"))
    Files.write(d.resolve("a"), "1".getBytes)
    Files.write(d.resolve("sub/b"), "22".getBytes)
    def list(fs: FileSystem, p: Path) = fs.listStatus(p).map(fields).sortBy(_._1.toString).toSeq
    for (p <- Seq(new Path(d.toString), new Path(d.toString, "sub"), new Path(d.toString, "a")))
      assert(list(nio, p) == list(stock, p), p)
    assert(list(nio, new Path(d.toString)).map(_._1.getName) == Seq("a", "sub"))
  }

  test("a missing path is a FileNotFoundException") {
    val missing = new Path(tmp().toString, "nope/deeper")
    for (fs <- Seq(stock, nio)) {
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.listStatus(missing))
    }
  }

  test("FileContext rename with OVERWRITE: same files, same bytes, the .crc moves along") {
    /** A checkpoint-manager commit on `impl`: write a temp file, rename it
      * over an existing one; the tree left behind, as path -> bytes. */
    def commit(impl: String): (Map[String, Seq[Byte]], FsPermission) = {
      val c = new Configuration(conf)
      c.set("fs.AbstractFileSystem.file.impl", impl)
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      val root = tmp()
      def write(name: String, body: String): Path = {
        val p = new Path(root.toUri.toString, s"offsets/$name")
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          CreateOpts.createParent())
        out.write(body.getBytes)
        out.close()
        p
      }
      val dst = write("7", "v1\nold")
      fc.rename(write(".7.tmp", "v1\nnew"), dst, Options.Rename.OVERWRITE)
      val tree = Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
      (tree, fc.getFileStatus(dst).getPermission)
    }
    val (stockTree, stockPerm) = commit("org.apache.hadoop.fs.local.LocalFs")
    val (nioTree, nioPerm) = commit(classOf[NioLocalFs].getName)
    assert(nioTree.keySet == Set("offsets/7", "offsets/.7.crc"))
    assert(nioTree("offsets/7") == "v1\nnew".getBytes.toSeq)
    assert(nioTree == stockTree)
    assert(nioPerm == stockPerm)
  }
}
