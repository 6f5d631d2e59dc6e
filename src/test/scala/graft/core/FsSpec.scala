package graft.core

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.etl.{JsonDirSource, Pipeline}

/** The session's local file system: the pipeline's writes start no child
  * process, and what it does instead keeps Hadoop's semantics. */
class FsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The process starts JFR records while `f` runs. */
  private def processStarts(f: => Unit): Seq[RecordedEvent] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      f
      r.stop()
      val file = Files.createTempFile("fs-spec", ".jfr")
      try {
        r.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq
      } finally Files.deleteIfExists(file)
    } finally r.close()
  }

  private def mkPipeline(): Pipeline = {
    val root = tmpDir("fs-pipe")
    new Pipeline(spark, new JsonDirSource(spark, fixtures),
      s"$root/lake", s"$root/wh", s"$root/state.json")
  }

  test("the recording sees the chmod fork of Hadoop's stock local file system") {
    // the control for the 0 below: the recorder does catch Hadoop's forks
    val stock = new RawLocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), conf)
    val dir = new Path(tmpDir("fs-stock"), "d")
    assert(processStarts(stock.mkdirs(dir): Unit).nonEmpty)
  }

  test("an incremental runStock and a runMarket start no child process") {
    mkPipeline().runStock("MSFT") // JVM-wide one-time start-up outside the recording
    // the driver's and the executor's heartbeats run `getconf PAGESIZE`
    // once per JVM (Spark's process-tree metrics), whenever the first of
    // them falls: run it now, not inside the recording
    org.apache.spark.sql.graft.Bridge.initProcfsMetrics()
    val p = mkPipeline()
    p.runStock("MSFT")
    p.state.advance("Stock", "AAPL", "2024-06-04")
    var inserted = (0L, 0L)
    val starts = processStarts { inserted = (p.runStock("AAPL"), p.runMarket("NASDAQ")) }
    assert(inserted === ((1L, 2L)))
    assert(starts.isEmpty, s"${starts.size} forks, first: " +
      starts.take(5).map(_.getString("command")).mkString("; "))
  }

  test("created files and directories get the umask-applied Hadoop mode") {
    // a umask unlike the process's, so the mode can only come from Hadoop
    val c = new org.apache.hadoop.conf.Configuration(conf)
    c.set("fs.permissions.umask-mode", "027")
    val fs = FileSystem.newInstance(java.net.URI.create("file:///"), c)
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem])
      val root = tmpDir("fs-mode")
      val dir = new Path(root, "d/e")
      val file = new Path(root, "f.txt")
      assert(fs.mkdirs(dir))
      fs.create(file).close()
      def mode(p: Path) = PosixFilePermissions.toString(
        Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))
      val umask = FsPermission.getUMask(c)
      assert(mode(dir) === FsPermission.getDirDefault.applyUMask(umask).toString)
      assert(mode(dir.getParent) === "rwxr-x---")
      assert(mode(file) === FsPermission.getFileDefault.applyUMask(umask).toString)
      assert(mode(file) === "rw-r-----")
    } finally fs.close()
  }

  test("renameOverwrite replaces an existing file and its .crc") {
    val root = tmpDir("fs-rename")
    val (src, dst) = (s"$root/src.json", s"$root/dst.json")
    Fs.writeString(spark, dst, "old")
    Fs.writeString(spark, src, "a longer new body")
    assert(Files.exists(Paths.get(s"$root/.dst.json.crc")))
    Fs.renameOverwrite(spark, src, dst)
    // the checksummed read fails on a .crc left from the old body
    assert(Fs.readString(spark, dst) === Some("a longer new body"))
    assert(!Files.exists(Paths.get(src)))
    assert(!Files.exists(Paths.get(s"$root/.src.json.crc")))
  }

  test("getFileLinkStatus reports a symlink and its target, a file as itself") {
    val root = tmpDir("fs-link")
    val target = Files.writeString(Paths.get(root, "target.txt"), "x")
    val link = Files.createSymbolicLink(Paths.get(root, "link.txt"), target)
    // scheme-less paths, as FileContext passes them down: Hadoop reads a
    // link through the path's string, so a `file:` path never reads as one
    val fs = Fs.fileSystem(spark, root)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath === target.toString)
    val fcSt = FileContext.getFileContext(conf).getFileLinkStatus(new Path(link.toString))
    assert(fcSt.isSymlink && fcSt.getSymlink.toUri.getPath === target.toString)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen === 1L)
  }

  test("file: resolves to the fork-free classes for FileSystem and FileContext") {
    val fs = Fs.fileSystem(spark, "file:/tmp")
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(java.net.URI.create("file:///"), conf)
      .getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs])
  }
}
