package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The session's local filesystem ([[LocalFs]]): no child process per
  * file, and the same modes, link statuses and checksums as Hadoop's stock
  * `RawLocalFileSystem` under the checksum layers.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), new Configuration()); fs }

  private def tmp(name: String): JPath = Files.createTempDirectory(name)

  /** One stateful micro-batch to a `file:` checkpoint on the session's
    * default (HDFS-backed) state store.
    */
  private def statefulBatch(ckpt: JPath): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Int]
    in.addData(1, 2, 3, 4, 5)
    val q = in.toDF().groupBy(($"value" % 2).as("k")).count()
      .writeStream.format("memory").queryName(s"localfs_${System.nanoTime}")
      .outputMode("complete").option("checkpointLocation", ckpt.toUri.toString).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("no Hadoop frame starts a process: checkpointed micro-batch, parquet write, mkdirs") {
    val dir = tmp("localfs_jfr")
    // Hadoop's one-time start-up probes (`Shell`'s setsid check) run here,
    // outside the recording: the test is about the spawns paid per file
    statefulBatch(dir.resolve("warm"))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      statefulBatch(dir.resolve("ckpt"))
      spark.range(100).write.parquet(dir.resolve("pq").toUri.toString)
      assert(FileSystem.get(dir.toUri, hadoopConf).mkdirs(new Path(dir.resolve("a/b/c").toUri)))
      // a spawn outside Hadoop, so an empty recording cannot pass
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val jfr = dir.resolve("spawns.jfr")
    rec.dump(jfr)
    rec.close()
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    def frames(e: jdk.jfr.consumer.RecordedEvent) =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName))
    assert(starts.exists(frames(_).contains(getClass.getName)), "the recording saw no spawn")
    val hadoop = starts.filter(frames(_).exists(_.startsWith("org.apache.hadoop")))
    assert(hadoop.isEmpty, hadoop.map(e => e.getString("command") + "\n  " +
      frames(e).take(12).mkString("\n  ")).mkString("\n"))
  }

  test("file and directory modes equal the stock filesystem's, default umask and explicit") {
    val ours = init(new LocalFs)
    val stock = init(new RawLocalFileSystem)
    def modes(fs: FileSystem): Seq[String] = {
      val d = tmp("localfs_mode")
      def p(n: String) = new Path(d.resolve(n).toUri)
      def mode(n: String) = PosixFilePermissions.toString(Files.getPosixFilePermissions(d.resolve(n)))
      fs.create(p("f")).close()
      assert(fs.mkdirs(p("d/e")))
      Seq("f0600" -> "600", "f0750" -> "750").foreach { case (n, m) =>
        fs.create(p(n)).close(); fs.setPermission(p(n), new FsPermission(m))
      }
      Seq("d0600" -> "600", "d0750" -> "750").foreach { case (n, m) =>
        assert(fs.mkdirs(p(n))); fs.setPermission(p(n), new FsPermission(m))
      }
      // the sticky bit is not a POSIX file permission: Hadoop's own path sets it
      assert(fs.mkdirs(p("sticky")))
      fs.setPermission(p("sticky"), new FsPermission("1777"))
      Seq("f", "d", "d/e", "f0600", "f0750", "d0600", "d0750").map(mode) :+
        fs.getFileStatus(p("sticky")).getPermission.toString
    }
    val got = modes(ours)
    assert(got === modes(stock))
    // a bare mkdirs takes the process umask; a create takes the configured 022
    assert(got.head === "rw-r--r--")
    assert(got.drop(3) === Seq("rw-------", "rwxr-x---", "rw-------", "rwxr-x---", "rwxrwxrwt"))
  }

  test("getFileLinkStatus equals the stock filesystem's: file, dir, symlink, dangling, missing") {
    val ours = init(new LocalFs)
    val stock = init(new RawLocalFileSystem)
    val d = tmp("localfs_link")
    Files.writeString(d.resolve("file"), "abc")
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    // what a caller can see: the status fields, or the exception's class
    def view(fs: FileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map(s => (s.getPath,
      s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime, s.getPermission,
      s.getOwner, s.getGroup, if (s.isSymlink) Some(s.getSymlink) else None))
      .recover { case e: IOException => e.getClass }
    for {
      n <- Seq("file", "dir", "link", "dangling", "missing")
      // FileContext passes qualified paths; FileSystem callers pass both forms
      p <- Seq(new Path(d.resolve(n).toString), new Path(d.resolve(n).toUri))
    } assert(view(ours, p) === view(stock, p), p)
    assert(ours.getFileLinkStatus(new Path(d.resolve("link").toString)).isSymlink)
    assert(ours.getFileLinkStatus(new Path(d.resolve("dangling").toString)).isSymlink)
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(d.resolve("missing").toUri)))
  }

  test("checksums are still written and enforced through both filesystem APIs") {
    val d = tmp("localfs_crc")
    val fs = FileSystem.get(d.toUri, hadoopConf)
    val fc = FileContext.getFileContext(d.toUri, hadoopConf)
    assert(fs.isInstanceOf[LocalFs.FileSystemImpl])
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.FileContextImpl])
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    def corrupted(p: Path): Unit = {
      val f = Paths.get(p.toUri)
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
      val bytes = Files.readAllBytes(f)
      bytes(1000) = (bytes(1000) ^ 1).toByte
      Files.write(f, bytes)
    }
    val viaFs = new Path(d.resolve("fs.bin").toUri)
    val out = fs.create(viaFs); out.write(payload); out.close()
    corrupted(viaFs)
    intercept[ChecksumException](fs.open(viaFs).readAllBytes())
    val viaFc = new Path(d.resolve("fc.bin").toUri)
    val out2 = fc.create(viaFc, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out2.write(payload); out2.close()
    corrupted(viaFc)
    // FileContext.open(path) skips ChecksumFs's checker (FilterFs forwards
    // it to the raw store); an explicit buffer size goes through it
    intercept[ChecksumException](fc.open(viaFc, 4096).readAllBytes())

    val ckpt = d.resolve("ckpt")
    statefulBatch(ckpt)
    val files = Files.walk(ckpt).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    val deltas = files.filter(_.getFileName.toString.endsWith(".delta"))
    assert(deltas.nonEmpty)
    deltas.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc beside $f")
      // Spark's own checkpoint file checksum, with its Hadoop sidecar
      assert(Files.exists(f.resolveSibling(s"${f.getFileName}.crc")), s"no checksum file for $f")
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc.crc")), f)
    }
    Seq("offsets/0", "commits/0").foreach { n =>
      assert(Files.exists(ckpt.resolve(n)) && Files.exists(ckpt.resolve(n).resolveSibling(".0.crc")), n)
    }
  }
}
