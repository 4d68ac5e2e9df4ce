package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.sources.{NioLocalFileSystem, NioLocalFs, Warehouse}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The `file://` FileSystem the graft extension installs starts no
  * process per call and changes nothing Hadoop's stock local
  * FileSystem produces: permission bits, `.crc` sidecars and checksum
  * verification, link answers.
  */
class LocalFsSpec extends SparkSpec {
  private val Local = URI.create("file:///")
  private def conf = sc.hadoopConfiguration

  /** The command lines of the processes the JVM started while `body`
    * ran, except those of Spark's own background threads, which run at
    * any time: the artifact cleanup of a session another suite dropped
    * (`rm -rf`) and the heartbeat's one-time page-size probe (`getconf`).
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val background = Seq("org.apache.spark.sql.artifact.ArtifactManager", "org.apache.spark.Heartbeater")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-ps", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists { f =>
          background.exists(f.getMethod.getType.getName.startsWith)
        }))
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  /** The class Hadoop resolves for `file://` when no conf names one:
    * Hive's `ProxyLocalFileSystem` when Spark's Hive jars are on the
    * class path, else Hadoop's `LocalFileSystem`.
    */
  private val stockFs = FileSystem.getFileSystemClass("file", new Configuration())

  /** The session's conf with `fs.file.impl` / `fs.AbstractFileSystem.file.impl`
    * naming the graft classes (`nio`) or the stock ones.
    */
  private def confFor(nio: Boolean, extra: (String, String)*): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", (if (nio) classOf[NioLocalFileSystem] else stockFs).getName)
    c.set("fs.AbstractFileSystem.file.impl",
      (if (nio) classOf[NioLocalFs] else classOf[LocalFs]).getName)
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }

  test("local FileSystem: every graft session reads and writes file:// through the graft classes") {
    assert(FileSystem.get(Local, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sessionState.newHadoopConf()).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(Local, conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // a class the configuration already names is kept; Hadoop's default is replaced
    val c = new Configuration(false)
    c.set("fs.file.impl", "my.CountingFileSystem")
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    GraftExtensions.installLocalFs(c)
    assert(c.get("fs.file.impl") === "my.CountingFileSystem")
    assert(c.get("fs.AbstractFileSystem.file.impl") === classOf[NioLocalFs].getName)
  }

  test("local FileSystem: commits, parquet writes and checkpoint renames start no process") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-localfs").toString
    // one-time JVM set-up (Hadoop's Shell probes `setsid` when its class
    // loads) happens before the recording
    spark.range(1).write.parquet(s"$dir/warm")
    val started = processStarts {
      val wh = new Warehouse(spark, s"$dir/wh")
      def rows(from: Long, to: Long) =
        spark.range(from, to).toDF("k").withColumn("v", $"k" * 2)
      wh.atomicPublish("t", rows(0, 100))
      wh.append("t", rows(100, 200))
      wh.upsert("t", rows(50, 150).withColumn("v", lit(-1L)), Seq("k"))
      assert(wh.read("t").count() === 200)
      spark.range(0, 10).write.parquet(s"$dir/plain")
      val fs = FileSystem.get(Local, conf)
      fs.mkdirs(new Path(s"$dir/fs/d"))
      fs.create(new Path(s"$dir/fs/d/a")).close()
      fs.rename(new Path(s"$dir/fs/d/a"), new Path(s"$dir/fs/d/b"))
      fs.setPermission(new Path(s"$dir/fs/d/b"), new FsPermission("640"))
      // the checkpoint manager's write: a temp file renamed over the target
      val fc = FileContext.getFileContext(Local, conf)
      val tmp = new Path(s"$dir/ckpt/.1.tmp")
      val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      out.write(1); out.close()
      fc.rename(tmp, new Path(s"$dir/ckpt/1"), Options.Rename.OVERWRITE)
    }
    assert(started.isEmpty, s"${started.size} processes started: ${started.distinct.take(5)}")
  }

  test("local FileSystem: permission bits equal the stock class's under umask 027") {
    val root = Files.createTempDirectory("graft-perm")
    def modes(nio: Boolean): Map[String, (Int, String)] = {
      val base = root.resolve(if (nio) "nio" else "stock")
      val fs = FileSystem.newInstance(Local, confFor(nio, "fs.permissions.umask-mode" -> "027"))
      def p(rel: String) = new Path(base.resolve(rel).toString)
      try {
        fs.mkdirs(p("d/e"))
        fs.create(p("d/f")).close()
        fs.create(p("g")).close()
        fs.mkdirs(p("h"), new FsPermission("755"))
        fs.setPermission(p("g"), new FsPermission("640"))
        fs.setPermission(p("d/e"), new FsPermission("750"))
        // what NIO cannot set the same way: a sticky bit, and a
        // directory whose set-gid bit chmod keeps
        fs.mkdirs(p("s"))
        fs.setPermission(p("s"), new FsPermission("1777"))
        fs.mkdirs(p("sg"))
        Files.setAttribute(base.resolve("sg"), "unix:mode", Integer.valueOf(Integer.parseInt("2770", 8)))
        fs.setPermission(p("sg"), new FsPermission("750"))
        val fc = FileContext.getFileContext(Local, fs.getConf)
        fc.create(p("c/x"), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
        fc.mkdir(p("c/y"), FsPermission.getDirDefault, true)
      } finally fs.close()
      Files.walk(base).iterator.asScala.map { f =>
        base.relativize(f).toString ->
          (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xfff, // octal 7777
            java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
      }.toMap
    }
    val stock = modes(nio = false)
    assert(stock("g")._2 === "rw-r-----" && stock("d/f")._2 === "rw-r-----" &&
      stock("d")._2 === "rwxr-x---" && stock("s")._1 === Integer.parseInt("1777", 8) &&
      stock("sg")._1 === Integer.parseInt("2750", 8) && stock.contains(".g.crc") &&
      stock.contains("c/.x.crc"), s"the stock class set unexpected bits: $stock")
    assert(modes(nio = true) === stock)
  }

  test("local FileSystem: .crc sidecars are written and a flipped data byte fails the read") {
    val dir = Files.createTempDirectory("graft-crc")
    val fs = FileSystem.get(Local, conf)
    val out = fs.create(new Path(dir.resolve("a").toString))
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    assert(Files.exists(dir.resolve(".a.crc")))
    val f = dir.resolve("a")
    val data = Files.readAllBytes(f)
    data(100) = (data(100) ^ 1).toByte
    Files.write(f, data)
    intercept[ChecksumException] {
      val in = fs.open(new Path(f.toString))
      try in.readFully(new Array[Byte](4096)) finally in.close()
    }
    // FileContext writes the sidecar too (its open does not verify,
    // with Hadoop's LocalFs as with NioLocalFs)
    FileContext.getFileContext(Local, conf)
      .create(new Path(dir.resolve("b").toString), EnumSet.of(CreateFlag.CREATE)).close()
    assert(Files.exists(dir.resolve(".b.crc")))
  }

  test("local FileSystem: rename onto an existing file is refused, as by the stock class") {
    val dir = Files.createTempDirectory("graft-rename")
    val results = Seq(true, false).map { nio =>
      val fs = FileSystem.newInstance(Local, confFor(nio))
      val base = dir.resolve(if (nio) "nio" else "stock").toString
      try {
        Seq("a", "b").foreach(n => fs.create(new Path(s"$base/$n")).close())
        (fs.rename(new Path(s"$base/a"), new Path(s"$base/b")),
          fs.rename(new Path(s"$base/a"), new Path(s"$base/c")),
          fs.listStatus(new Path(base)).map(_.getPath.getName).sorted.toSeq)
      } finally fs.close()
    }
    assert(results.head === results.last)
  }

  test("local FileSystem: link status answers as stock Hadoop on links, files and missing paths") {
    val dir = Files.createTempDirectory("graft-link")
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("link"), target)
    Files.createSymbolicLink(dir.resolve("dirlink"), dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def answer(status: => FileStatus): Either[String, Seq[Any]] =
      try {
        val s = status
        Right(Seq(s.isSymlink, s.isDirectory, s.getLen, s.getPath,
          if (s.isSymlink) s.getSymlink else None))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    val Seq(nio, stock) = Seq(true, false).map { n =>
      val c = confFor(n)
      (FileSystem.newInstance(Local, c), FileContext.getFileContext(Local, c))
    }
    for (name <- Seq("target", "sub", "link", "dirlink", "dangling", "gone");
         p <- Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri))) {
      assert(answer(nio._1.getFileLinkStatus(p)) === answer(stock._1.getFileLinkStatus(p)), s"FileSystem $p")
      assert(answer(nio._2.getFileLinkStatus(p)) === answer(stock._2.getFileLinkStatus(p)), s"FileContext $p")
    }
    assert(answer(stock._1.getFileLinkStatus(new Path(dir.resolve("link").toString)))
      .exists(_.head == true), "the stock answer for a link path must be a link")
    Seq(nio._1, stock._1).foreach(_.close())
  }
}
