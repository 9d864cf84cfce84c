package graft.store

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.functions._

import graft.ProcessStarts
import graft.model.Synthetic
import graft.streaming.StreamingOps

/** The `file:` filesystem registered in core-site.xml (`LocalFs.scala`):
  * the engine's writes start no `chmod`/`readlink` process, and every
  * override gives the stock `RawLocalFileSystem` result: modes, link
  * status, errors, and the stock call itself for a sticky-bit mode. */
class LocalFsSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private def tempDir(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    StreamingOps.deleteOnExit(d)
    d
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** (relative path, octal mode) of everything under `root`, root excluded. */
  private def modes(root: JPath): Seq[(String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).toSeq
      .map(p => root.relativize(p).toString -> Integer.toOctalString(mode(p))).sortBy(_._1)

  private def oct(s: String): Short = Integer.parseInt(s, 8).toShort

  private def forked(commands: Seq[String]): Set[String] =
    commands.map(ProcessStarts.program).toSet

  /** Two one-second micro-batch files, a flush file that closes their
    * windows and an empty one that evicts them, through the ordered file
    * stream into the parquet sink (the `stream_windows` path). */
  private def shortStream(): org.apache.spark.sql.DataFrame = {
    val stage = tempDir("localfs_stream")
    val events = spark.range(8000).select($"id".as("event_id"), ($"id" % 4).as("user_id"),
      ($"id" / 4).cast("long").multiply(1000000L).as("ts"), sin($"id" / 40.0).as("value"))
    val t0 = System.currentTimeMillis() - 60000L
    for (f <- 0 until 2)
      StreamingOps.stageFileAs(events.filter($"ts" >= f * 1000000000L &&
        $"ts" < (f + 1) * 1000000000L), stage, s"b$f.parquet", t0 + 1000L * f)
    val flush = events.limit(4).select(($"event_id" + 100000L).as("event_id"), $"user_id",
      lit(1000500000000L).as("ts"), lit(0.0).as("value"))
    StreamingOps.stageFileAs(flush, stage, "flush.parquet", t0 + 2000L)
    StreamingOps.stageFileAs(flush.filter(lit(false)), stage, "z_evict.parquet", t0 + 3000L)
    StreamingOps.runToParquetOrdered(spark, stage.toString, "localfs_stream",
      df => StreamingOps.windowedSegmentsStream(df, nChannels = 4, rate = 1000.0,
        windowDur = "1 second", watermark = "2 seconds", contextDur = "100 milliseconds"))
  }

  test("a partitioned table write and a short stream start no chmod or readlink") {
    val root = tempDir("localfs_store")
    val raw = Synthetic.segments(spark, 1.0, 4, 400.0, seed = 4)
    val ((table, sink), commands) = ProcessStarts.during {
      new NwbStore(root.toString, spark).writeProcessing("x", raw, partitionByChannel = true)
      (root.resolve("preprocessing/x"), shortStream())
    }
    val sinkFiles = sink.inputFiles
    assert(sinkFiles.nonEmpty && sink.count() > 0)
    assert(Files.list(table).iterator().asScala.count(_.getFileName.toString
      .startsWith("channel=")) == 4)
    val forks = forked(commands)
    assert(!forks("chmod") && !forks("readlink"), commands.mkString("\n"))

    // the stock modes under the default umask 022: files rw-r--r--,
    // directories rwxr-xr-x, for the table and the stream's sink and
    // checkpoint (data files, .crc files, metadata logs, state)
    val sinkRoot = java.nio.file.Paths.get(new URI(sinkFiles.head)).getParent.getParent
    for (dir <- Seq(table, sinkRoot.resolve("data"), sinkRoot.resolve("ckpt"))) {
      val ms = modes(dir)
      assert(ms.exists(_._1.endsWith(".crc")), ms.mkString("\n"))
      val wrong = ms.filterNot { case (p, m) =>
        m == (if (Files.isDirectory(dir.resolve(p))) "755" else "644") }
      assert(wrong.isEmpty, s"$dir: ${wrong.mkString(", ")}")
    }
  }

  test("files and directories get the umask-applied modes of the stock classes (umask 077)") {
    def tree(stock: Boolean): Seq[(String, String)] = {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", "077")
      if (stock) {
        conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
        conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
      }
      val root = tempDir("localfs_umask")
      val fs = FileSystem.newInstance(URI.create("file:///"), conf)
      try {
        fs.mkdirs(new Path(s"$root/fs/a/b"))
        val out = fs.create(new Path(s"$root/fs/a/b/part"))
        out.write(Array.fill[Byte](100)(1)); out.close()
      } finally fs.close()
      val fc = FileContext.getLocalFSFileContext(conf)
      fc.mkdir(new Path(s"$root/fc/c"), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(s"$root/fc/c/log"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(1); out.close()
      fc.rename(new Path(s"$root/fc/c/log"), new Path(s"$root/fc/c/log2"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      modes(root)
    }
    val nio = tree(stock = false)
    assert(nio == tree(stock = true))
    assert(nio.map(_._1).toSet == Set("fs", "fs/a", "fs/a/b", "fs/a/b/part", "fs/a/b/.part.crc",
      "fc", "fc/c", "fc/c/log2", "fc/c/.log2.crc"), nio.mkString("\n"))
    for ((p, m) <- nio)
      assert(m == (if (p.contains("part") || p.contains("log")) "600" else "700"), s"$p $m")
  }

  test("getFileLinkStatus gives the stock result for a file, a directory and a symlink") {
    val dir = tempDir("localfs_links")
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def fs(raw: RawLocalFileSystem) = { raw.initialize(URI.create("file:///"), new Configuration()); raw }
    val (nio, stock) = (fs(new NioRawLocalFileSystem), fs(new RawLocalFileSystem))
    def view(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else null)
    // plain paths, and qualified ones (which the stock `readlink` never
    // resolves, so it reports a qualified symlink as its target)
    for (p <- Seq(file, sub, link); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val (a, b) = (nio.getFileLinkStatus(path), stock.getFileLinkStatus(path))
      assert(view(a) == view(b), path)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(dir.resolve("nope").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("setPermission: rwx modes without a process, a sticky bit and errors through the stock call") {
    val dir = tempDir("localfs_perm")
    val fs = new NioRawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    val sub = Files.createDirectory(dir.resolve("d"))
    val (_, plain) = ProcessStarts.during(fs.setPermission(new Path(sub.toString),
      new FsPermission(oct("750"))))
    assert(plain.isEmpty && mode(sub) == oct("750"), plain)
    val (_, sticky) = ProcessStarts.during(fs.setPermission(new Path(sub.toString),
      new FsPermission(oct("1777"))))
    assert(mode(sub) == oct("1777"))
    if (!NativeIO.isAvailable) assert(forked(sticky) == Set("chmod"), sticky)
    intercept[IOException](fs.setPermission(new Path(dir.resolve("nope").toString),
      new FsPermission(oct("644"))))
  }

  test("a configuration without the registration is reported once, naming both properties") {
    assert(LocalFs.report(spark.sparkContext.hadoopConfiguration).isEmpty)
    assert(LocalFs.report(new Configuration()).isEmpty)
    // a deployment's own core-site.xml without the two properties
    val bare = new Configuration()
    bare.unset("fs.file.impl")
    bare.unset("fs.AbstractFileSystem.file.impl")
    val report = LocalFs.report(bare)
    assert(report.isDefined)
    for (p <- Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl"))
      assert(report.get.contains(s"$p="), report.get)
    assert(!report.get.contains("resolves to graft."), report.get)
    // one property missing is reported too
    val half = new Configuration()
    half.unset("fs.AbstractFileSystem.file.impl")
    assert(LocalFs.report(half).isDefined)
    // Session.build() passes the report on once per JVM, and never for a
    // registered configuration
    val warned = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(!graft.Session.reportLocalFs(spark.sparkContext.hadoopConfiguration, warned += _))
    assert(graft.Session.reportLocalFs(bare, warned += _))
    assert(!graft.Session.reportLocalFs(bare, warned += _))
    assert(warned == Seq(report.get))
    // the check changes nothing: the checksumming filesystems stay in place
    assert(FileSystem.getLocal(bare).isInstanceOf[LocalFileSystem])
  }

  test("the file: scheme resolves to the graft classes for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileContext.getLocalFSFileContext(new Configuration())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
