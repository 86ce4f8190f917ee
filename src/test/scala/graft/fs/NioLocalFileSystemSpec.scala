package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** graft's local file systems against stock Hadoop, operation by
  * operation, in temp directories: the same modes, statuses, `.crc`
  * files and errors.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private val Local = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = { fs.initialize(Local, c); fs }

  /** (stock, graft) pairs: the checksummed file systems and the raw ones. */
  private def pairs(c: Configuration): Seq[(String, FileSystem, FileSystem)] = Seq(
    ("LocalFileSystem", init(new LocalFileSystem, c), init(new NioLocalFileSystem, c)),
    ("RawLocalFileSystem", init(new RawLocalFileSystem, c), init(new NioRawLocalFileSystem, c)))

  /** A `FileContext` over stock `LocalFs` or over [[NioLocalFs]]. */
  private def fileContext(stock: Boolean, c: Configuration): FileContext = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl",
      (if (stock) classOf[LocalFs] else classOf[NioLocalFs]).getName)
    FileContext.getFileContext(Local, cc)
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def tmp(): JPath = Files.createTempDirectory("nio-local-fs")

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** Every path under `root`, relative, with its mode and, for a file,
    * its bytes. */
  private def tree(root: JPath): Map[String, (String, Seq[Byte])] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> (f"${mode(p)}%04o",
        if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil)
    }.toMap
    finally s.close()
  }

  test("create and mkdirs leave the stock modes and .crc files under umask 022 and 077") {
    for ((umask, file, dir) <- Seq(("022", "0644", "0755"), ("077", "0600", "0700"))) {
      val c = conf(umask)
      for ((what, stock, nio) <- pairs(c)) {
        val trees = Seq(stock, nio).map { fs =>
          val root = tmp()
          val out = fs.create(new Path(root.toString, "a/b/f"))
          out.write("bytes".getBytes(UTF_8))
          out.close()
          assert(fs.mkdirs(new Path(root.toString, "m/n")))
          tree(root)
        }
        assert(trees(1) === trees(0), s"$what, umask $umask")
        assert(trees(1)("a/b/f")._1 === file, s"$what, umask $umask")
        assert(trees(1)("m/n")._1 === dir, s"$what, umask $umask")
        assert(trees(1).contains("a/b/.f.crc") === what.startsWith("Local"), what)
      }
      val trees = Seq(true, false).map { stock =>
        val fc = fileContext(stock, c)
        val root = tmp()
        val out = fc.create(new Path(root.toString, "a/f"),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
        out.write("bytes".getBytes(UTF_8))
        out.close()
        fc.mkdir(new Path(root.toString, "m/n"), FsPermission.getDirDefault, true)
        tree(root)
      }
      assert(trees(1) === trees(0), s"FileContext, umask $umask")
      assert(trees(1)("a/f")._1 === file && trees(1)("m/n")._1 === dir, s"umask $umask")
      assert(trees(1).contains("a/.f.crc"))
    }
  }

  test("setPermission sets the stock modes; a sticky bit falls back to Hadoop's chmod") {
    for ((what, stock, nio) <- pairs(conf("022"));
         m <- Seq("0000", "0123", "0644", "0700", "0755", "0777", "1777").map(octal)) {
      val modes = Seq(stock, nio).map { fs =>
        val root = tmp()
        val f = Files.createFile(root.resolve("f"))
        val d = Files.createDirectory(root.resolve("d"))
        for (p <- Seq(f, d)) fs.setPermission(new Path(p.toString), new FsPermission(m.toShort))
        (mode(f), mode(d))
      }
      assert(modes(1) === modes(0), f"$what, mode $m%04o")
      assert(modes(1)._2 === m, f"$what, mode $m%04o on a directory")
    }
  }

  test("setPermission on a missing path throws an IOException, as Hadoop's does") {
    for ((_, stock, nio) <- pairs(conf("022")); fs <- Seq(stock, nio)) {
      val missing = new Path(tmp().toString, "missing")
      intercept[java.io.IOException](fs.setPermission(missing, new FsPermission(octal("0644").toShort)))
    }
  }

  /** What a status says, field by field (FileStatus.equals compares
    * paths only), or the class of the exception it threw. */
  private def linkStatus(fs: FileSystem, p: Path): Either[Class[_], Seq[Any]] =
    scala.util.Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass).map(s =>
      Seq(s.getPath, s.getLen, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))

  test("getFileLinkStatus matches Hadoop's on files, directories, symlinks and missing paths") {
    val root = tmp()
    Files.write(root.resolve("f"), "bytes".getBytes(UTF_8))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    for ((what, stock, nio) <- pairs(conf("022"))) {
      for (name <- Seq("f", "d", "link", "dangling", "missing")) {
        val plain = new Path(root.toString, name)
        for (p <- Seq(plain, stock.makeQualified(plain)))
          assert(linkStatus(nio, p) === linkStatus(stock, p), s"$what, $p")
      }
      // Hadoop reports a symlink it is handed by its plain path
      for (name <- Seq("link", "dangling"))
        assert(nio.getFileLinkStatus(new Path(root.toString, name)).isSymlink, s"$what, $name")
      assert(linkStatus(nio, new Path(root.toString, "missing")) ===
        Left(classOf[FileNotFoundException]), what)
    }
  }

  test("a FileContext rename moves the .crc, with and without OVERWRITE") {
    val trees = Seq(true, false).map { stock =>
      val fc = fileContext(stock, conf("022"))
      val root = tmp()
      def put(name: String, body: String): Path = {
        val p = new Path(root.toString, name)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(body.getBytes(UTF_8))
        out.close()
        p
      }
      def read(p: Path): String = {
        val in = fc.open(p)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      val dst = new Path(root.toString, "dst")
      fc.rename(put("src", "first"), dst)
      assert(read(dst) === "first")
      val second = put("second", "second")
      intercept[FileAlreadyExistsException](fc.rename(second, dst))
      fc.rename(second, dst, Options.Rename.OVERWRITE)
      assert(read(dst) === "second", "the checksum verifies against the moved .crc")
      tree(root)
    }
    assert(trees(1) === trees(0))
    assert(trees(1).keySet === Set("dst", ".dst.crc"))
  }

  test("FileSystem.rename refuses to replace a file, as the ProxyLocalFileSystem it displaces does") {
    val c = conf("022")
    val runs = Seq(init(new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem, c),
        init(new NioLocalFileSystem, c)).map { fs =>
      val root = tmp()
      def at(name: String) = new Path(root.toString, name)
      for (name <- Seq("a", "b")) {
        val out = fs.create(at(name))
        out.write(name.getBytes(UTF_8))
        out.close()
      }
      fs.mkdirs(at("d"))
      (Seq(fs.rename(at("a"), at("b")), fs.rename(at("a"), at("c")), fs.rename(at("b"), at("d"))),
        tree(root))
    }
    assert(runs(1) === runs(0))
    assert(runs(1)._1 === Seq(false, true, true), "onto a file, to a new name, into a directory")
  }

  /** The child processes `f` starts on this thread, as JFR records them. */
  private def processStarts(f: => Unit): Int = {
    val r = new jdk.jfr.Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      try f finally r.stop()
      val out = Files.createTempFile("process-starts", ".jfr")
      r.dump(out)
      val me = Thread.currentThread.getId
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .count(e => e.getThread != null && e.getThread.getJavaThreadId == me)
    } finally r.close()
  }

  test("graft's file systems start no child process where stock Hadoop starts them") {
    val c = conf("022")
    // stock first: it also runs Hadoop's one-off Shell class set-up
    val counts = Seq(true, false).map { stock =>
      val fs = if (stock) init(new LocalFileSystem, c) else init(new NioLocalFileSystem, c)
      val fc = fileContext(stock, c)
      val root = tmp()
      processStarts {
        fs.create(new Path(root.toString, "a/f")).close()
        fs.mkdirs(new Path(root.toString, "m/n"))
        fs.setPermission(new Path(root.toString, "a/f"), new FsPermission(octal("0600").toShort))
        fs.getFileLinkStatus(new Path(root.toString, "a/f"))
        val src = new Path(root.toString, "src")
        fc.create(src, java.util.EnumSet.of(CreateFlag.CREATE)).close()
        fc.rename(src, new Path(root.toString, "a/f"), Options.Rename.OVERWRITE)
      }
    }
    info(s"child processes started: stock ${counts(0)}, graft ${counts(1)}")
    assert(counts(0) > 0, "stock Hadoop without libhadoop forks chmod and readlink")
    assert(counts(1) === 0)
  }
}
