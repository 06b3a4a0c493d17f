package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The engine's fork-free local file system (graft/io/LocalFs.scala):
  * bound to `file` by the shipped core-site.xml, and leaving the same
  * files, bytes and mode bits as stock Hadoop for every operation the
  * checkpoint, state-store and sink writers use. */
class LocalFsSpec extends AnyFunSuite {

  private val fileUri = URI.create("file:///")

  /** Stock Hadoop and the engine's classes, each side on its own root
    * under one umask; both FileSystem and FileContext views. */
  private case class Side(fs: FileSystem, fc: FileContext, raw: FileSystem, root: Path)

  private def sides(root: JPath, umask: String): (Side, Side) = {
    val conf = new Configuration()
    conf.set(FsPermission.UMASK_LABEL, umask)
    def side(name: String, fs: FileSystem, raw: FileSystem, afs: AbstractFileSystem) = {
      fs.initialize(fileUri, conf)
      raw.initialize(fileUri, conf)
      val dir = root.resolve(name)
      Files.createDirectories(dir)
      Side(fs, FileContext.getFileContext(afs, conf), raw, new Path(dir.toUri))
    }
    // stock: what `file:` resolves to without the shipped binding
    val stockConf = new Configuration(conf)
    stockConf.unset("fs.file.impl")
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    (side("stock", FileSystem.getFileSystemClass("file", stockConf).getConstructor().newInstance(),
        new RawLocalFileSystem(), AbstractFileSystem.createFileSystem(fileUri, stockConf)),
      side("nio", new NioLocalFileSystem(), new NioRawLocalFileSystem(),
        new NioLocalFs(fileUri, conf)))
  }

  /** Every entry under `root`: relative path, full st_mode, file bytes. */
  private def tree(root: Path): Seq[(String, Int, String)] = {
    val base = java.nio.file.Paths.get(root.toUri)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).map { p =>
      val bytes = if (Files.isRegularFile(p)) new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1) else ""
      (base.relativize(p).toString, Files.getAttribute(p, "unix:mode").asInstanceOf[Int], bytes)
    }.toSeq.sorted
    finally walk.close()
  }

  private def withRoot(body: JPath => Unit): Unit = {
    val root = Files.createTempDirectory("localfs-spec")
    try body(root)
    finally Files.walk(root).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def write(out: java.io.OutputStream, text: String): Unit =
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()

  private val createFlags = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)

  test("a fresh Configuration binds file:// to the engine's classes") {
    val conf = new Configuration()
    val fs = FileSystem.get(fileUri, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
  }

  test("mkdirs, create, sticky and setgid directories: same mode bits as stock under a umask") {
    withRoot { root =>
      val (stock, nio) = sides(root, "027")
      for (s <- Seq(stock, nio)) {
        val shared = new Path(s.root, "shared")
        Files.createDirectory(java.nio.file.Paths.get(shared.toUri))
        Files.setAttribute(java.nio.file.Paths.get(shared.toUri), "unix:mode", Int.box(Integer.parseInt("2770", 8)))
        assert(s.fs.mkdirs(new Path(shared, "a/b"), new FsPermission("755")))
        assert(s.fs.mkdirs(new Path(s.root, "plain/c")))
        write(s.fs.create(new Path(s.root, "plain/c/part-0")), "fs create")
        write(s.fs.create(new Path(shared, "a/part-1"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null), "fs create with a permission")
        s.fc.mkdir(new Path(s.root, "ctx/d"), FsPermission.getDirDefault, true)
        write(s.fc.create(new Path(s.root, "ctx/d/offset-0"), createFlags, Options.CreateOpts.createParent()), "fc create")
        s.fs.setPermission(new Path(s.root, "plain"), new FsPermission("1777"))
        s.fs.setPermission(new Path(s.root, "plain/c/part-0"), new FsPermission("600"))
      }
      val got = tree(nio.root)
      assert(got.exists(_._1 == "plain/c/.part-0.crc"), got.map(_._1))
      assert(got == tree(stock.root))
    }
  }

  test("FileContext rename with OVERWRITE onto an existing file moves data and .crc as stock does") {
    withRoot { root =>
      val (stock, nio) = sides(root, "022")
      for (s <- Seq(stock, nio)) {
        val (src, dst) = (new Path(s.root, "commits/.1.tmp"), new Path(s.root, "commits/1"))
        write(s.fc.create(dst, createFlags, Options.CreateOpts.createParent()), "old entry")
        write(s.fc.create(src, createFlags, Options.CreateOpts.createParent()), "new entry, longer")
        s.fc.rename(src, dst, Options.Rename.OVERWRITE)
      }
      val got = tree(nio.root)
      assert(got.map(_._1) == Seq("commits", "commits/.1.crc", "commits/1"), got.map(_._1))
      assert(got.last._3 == "new entry, longer")
      assert(got == tree(stock.root))
    }
  }

  test("FileSystem rename onto a new name, an existing file and a directory as stock") {
    withRoot { root =>
      val (stock, nio) = sides(root, "022")
      def renames(s: Side) = {
        for (name <- Seq("a", "b", "c")) write(s.fs.create(new Path(s.root, s"out/$name")), name)
        assert(s.fs.mkdirs(new Path(s.root, "dir")))
        Seq(("a", "moved"), ("b", "c"), ("moved", "dir")).map { case (from, to) =>
          s.fs.rename(new Path(s.root, s"out/$from"), new Path(s.root, if (to == "dir") to else s"out/$to"))
        }
      }
      val got = renames(nio)
      assert(got == Seq(true, false, true), "a rename onto an existing file is refused")
      assert(got == renames(stock))
      assert(tree(nio.root) == tree(stock.root))
    }
  }

  test("getFileLinkStatus: file, directory, symlink, dangling symlink and missing path as stock") {
    withRoot { root =>
      val (stock, nio) = sides(root, "022")
      def status(st: FileStatus) =
        (st.getPath.toUri.getPath.replaceFirst("/(stock|nio)/", "/"), st.isDirectory, st.isSymlink,
          Try(st.getSymlink.toUri.getPath.replaceFirst("/(stock|nio)/", "/")).toOption,
          st.getLen, st.getModificationTime, st.getPermission, st.getOwner)
      // Stock Hadoop runs `readlink` on the path's string form, so it sees
      // a link only when asked by a scheme-less path; FileContext always
      // qualifies. Both forms are compared.
      def links(s: Side) = {
        val dir = java.nio.file.Paths.get(s.root.toUri)
        Files.write(dir.resolve("file"), "x".getBytes(StandardCharsets.UTF_8))
        Files.createDirectory(dir.resolve("dir"))
        Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
        Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
        for (name <- Seq("file", "dir")) Files.setLastModifiedTime(dir.resolve(name), FileTime.fromMillis(1L << 40))
        for {
          name <- Seq("file", "dir", "link", "dangling", "missing")
          qualified = new Path(s.root, name)
          p <- Seq(qualified, Path.getPathWithoutSchemeAndAuthority(qualified))
        } yield {
          def attempt(st: => FileStatus) = Try(status(st)).toEither.left.map(_.getClass)
          (name, p.toUri.getScheme, attempt(s.raw.getFileLinkStatus(p)), attempt(s.fs.getFileLinkStatus(p)),
            attempt(s.fc.getFileLinkStatus(p)))
        }
      }
      val got = links(nio)
      assert(got.filter(_._1 == "missing").forall(_._3 == Left(classOf[FileNotFoundException])), got.last)
      assert(got.filter(g => g._1 != "missing" && g._2 == null).forall(_._3.isRight))
      assert(got.filter(g => g._1.contains("link") || g._1 == "dangling").exists(_._3.exists(_._3)),
        "a scheme-less symlink reports as one")
      assert(got == links(stock))
    }
  }
}
