package graft.core

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FsConstants, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] answers as Hadoop's stock local file system does, and
  * [[LocalFs.install]] makes it the file:// implementation of the JVM.
  */
class LocalFsSpec extends AnyFunSuite {

  LocalFs.install(new Configuration())

  private val uri = FsConstants.LOCAL_FS_URI
  private val conf = new Configuration()
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(uri, conf); fs }
  private lazy val ours = init(new LocalFs)
  private lazy val stock = init(new RawLocalFileSystem)

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("file and dir modes match the stock file system's (0644 / 0755 under umask 022)") {
    assert(conf.get("fs.permissions.umask-mode", "022") == "022")
    val root = Files.createTempDirectory("graft-localfs-mode").toString
    def make(fs: FileSystem, tag: String): (Path, Path) = {
      val dir = new Path(s"$root/$tag-dir/sub")
      assert(fs.mkdirs(dir))
      val file = new Path(dir, "part-0.json")
      val out = fs.create(file)
      out.write("{}\n".getBytes(UTF_8))
      out.close()
      (dir, file)
    }
    val (oDir, oFile) = make(ours, "ours")
    val (sDir, sFile) = make(stock, "stock")
    assert(mode(oDir) == mode(sDir) && mode(oDir) == Integer.parseInt("755", 8))
    assert(mode(oFile) == mode(sFile) && mode(oFile) == Integer.parseInt("644", 8))
    // the checksummed wrapper writes the data file and its .crc the same way
    val checked = FileSystem.get(uri, conf)
    assert(checked.isInstanceOf[LocalFs.ForFileSystem], checked.getClass)
    val (_, cFile) = make(checked, "checked")
    assert(mode(cFile) == Integer.parseInt("644", 8))
    assert(mode(new Path(cFile.getParent, ".part-0.json.crc")) == Integer.parseInt("644", 8))
    // an explicit mode is set exactly, and a missing path is a FileNotFoundException
    ours.setPermission(oFile, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode(oFile) == Integer.parseInt("640", 8))
    intercept[FileNotFoundException](ours.setPermission(new Path(s"$root/missing"), FsPermission.getFileDefault))
  }

  test("a sticky-bit mode falls back to Hadoop's own chmod") {
    // NIO cannot set the sticky bit; its presence shows super handled it
    val dir = new Path(Files.createTempDirectory("graft-localfs-sticky").toString)
    ours.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    assert(ours.getFileStatus(dir).getPermission.getStickyBit)
  }

  test("getFileLinkStatus matches the stock file system on a file, a dir and a symlink") {
    val root = Files.createTempDirectory("graft-localfs-link")
    val file = Files.write(root.resolve("f.json"), "{}\n".getBytes(UTF_8))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val dangling = Files.createSymbolicLink(root.resolve("gone"), root.resolve("nothing"))
    // the stock call reads a qualified path's link as its target (its
    // `readlink` gets "file:/..."), and a dangling one then as missing
    def view(fs: FileSystem, p: Path) = scala.util.Try(fs.getFileLinkStatus(p)).map { st =>
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        if (st.isSymlink) Some(st.getSymlink) else None)
    }.toEither.left.map(_.getClass)
    for (p <- Seq(file, dir, link, dangling); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(view(ours, path) == view(stock, path), path)
    }
    // an unqualified path to a real link reads as one, with its target
    val st = ours.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink && st.getSymlink.toUri.getPath == file.toString)
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("FileContext renames with OVERWRITE onto an existing checkpoint file") {
    val fc = FileContext.getFileContext(uri, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.ForFileContext], fc.getDefaultFileSystem.getClass)
    val dir = new Path(Files.createTempDirectory("graft-localfs-ctx").toUri)
    def put(p: Path, body: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      out.write(body.getBytes(UTF_8))
      out.close()
    }
    val committed = new Path(dir, "offsets/0")
    val temp = new Path(dir, "offsets/.0.tmp")
    put(committed, "v1\nold")
    put(temp, "v1\nnew")
    fc.rename(temp, committed, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(temp))
    val in = fc.open(committed)
    try assert(new String(in.readAllBytes(), UTF_8) == "v1\nnew") finally in.close()
    // the checksum moved with the file and matches the new bytes
    assert(fc.util.exists(new Path(dir, "offsets/.0.crc")))
    assert(!fc.util.exists(new Path(dir, "offsets/..0.tmp.crc")))
    assert(mode(committed) == Integer.parseInt("644", 8))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      put(temp, "v1\nagain")
      fc.rename(temp, committed, Options.Rename.NONE)
    }
  }

  test("install replaces a stock file:// instance cached before it") {
    FileSystem.get(uri, conf).close() // drop ours from the JVM-wide cache
    val stockConf = new Configuration()
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val cachedStock = FileSystem.get(uri, stockConf)
    try {
      assert(cachedStock.getClass == classOf[LocalFileSystem])
      // the cache is keyed by scheme and user, not conf: every lookup now gets the stock one
      assert(FileSystem.get(uri, conf) eq cachedStock)
      assert(LocalFs.claim(conf) == Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl"))
    } finally {
      // however claim went, leave ours cached for the suites that follow
      if (FileSystem.get(uri, conf) eq cachedStock) cachedStock.close()
    }
    val fs = FileSystem.get(uri, conf)
    assert(fs.isInstanceOf[LocalFs.ForFileSystem], fs.getClass)
    assert(FileSystem.get(uri, conf) eq fs)
  }

  test("a file:// implementation the user set is left in place") {
    val cached = FileSystem.get(uri, conf)
    val user = new Configuration()
    user.set("fs.file.impl", classOf[LocalFileSystem].getName)
    assert(LocalFs.claim(user) == Seq("fs.AbstractFileSystem.file.impl"))
    assert(user.getClass("fs.file.impl", null) == classOf[LocalFileSystem])
    assert(FileSystem.get(uri, conf) eq cached, "claim closed a cached instance")
    // a site-file setting counts as the user's too, for either key
    val site = new Configuration()
    site.addResource(new java.io.ByteArrayInputStream(
      """<configuration><property><name>fs.AbstractFileSystem.file.impl</name>
        |<value>org.apache.hadoop.fs.local.LocalFs</value></property></configuration>"""
        .stripMargin.getBytes(UTF_8)), "site.xml")
    assert(LocalFs.claim(site) == Seq("fs.file.impl"))
    assert(site.get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.LocalFs")
  }
}
