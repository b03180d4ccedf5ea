package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{EventGenerator, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming._

/** The session's local filesystem does its permission and symlink calls
  * in-process: no checkpoint, state-store or sink file forks a process, and
  * every result equals what Hadoop's shell route returns. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def localFs[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val nio = localFs(new NioRawLocalFileSystem)
  private lazy val stock = localFs(new RawLocalFileSystem)
  private def octal(s: String): FsPermission = new FsPermission(Integer.parseInt(s, 8).toShort)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the shared session resolves file: to the in-process classes on both routes") {
    val conf = spark.sessionState.newHadoopConf()
    // FileSystem caches the first file: instance of the JVM, whatever conf later asks
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.get(URI.create("file:///"), new Configuration()).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("a checkpointed stateful pipeline with a parquet sink spawns no process") {
    implicit val sq = spark.sqlContext
    val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val wire = new EventGenerator(seed = 11).asWire(spark, 400).withColumn("timestamp", lit(clock))
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[java.sql.Timestamp](2))).toSeq
    def run(): Unit = {
      val root = Files.createTempDirectory("graft_localfs")
      val mem = MemoryStream[(String, String, java.sql.Timestamp)]
      val qs = ClickstreamPipeline.start(mem.toDF().toDF("key", "value", "timestamp"),
        ClickstreamPipeline.SinkSet(
          Sinks.parquetAppend(root.resolve("raw").toString)(_, _),
          Sinks.parquetAppend(root.resolve("sessions").toString)(_, _),
          (df, _) => { df.count(); () }, (df, _) => { df.count(); () }),
        ClickstreamPipeline.Config(root.resolve("ck").toString,
          rawTrigger = Trigger.ProcessingTime(0), sessionTrigger = Trigger.ProcessingTime(0),
          hourlyTrigger = Trigger.ProcessingTime(0), dashboardTrigger = Trigger.ProcessingTime(0),
          fixedClock = Some(clock)))
      try wire.grouped(wire.size / 2 + 1).foreach { part =>
        mem.addData(part)
        qs.foreach(_.processAllAvailable())
      } finally qs.foreach(_.stop())
      qs.foreach(q => assert(q.recentProgress.count(_.numInputRows > 0) >= 2, q.name))
      assert(spark.read.parquet(root.resolve("raw").toString).count() > 0)
    }
    run() // one-time JVM set-up (Hadoop's shell probes, class loading) stays outside
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft_localfs", ".jfr")
    rec.start()
    try run() finally { rec.stop(); rec.dump(dump); rec.close() }
    val spawned = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))
    Files.delete(dump)
    assert(spawned.isEmpty, s"${spawned.size} processes spawned, e.g. ${spawned.take(5)}")
  }

  test("setPermission sets the same mode bits chmod does") {
    val file = Files.createFile(Files.createTempDirectory("graft_perm").resolve("f"))
    val dir = Files.createTempDirectory("graft_perm")
    for ((bits, want) <- Seq("640" -> "rw-r-----", "755" -> "rwxr-xr-x", "600" -> "rw-------")) {
      nio.setPermission(new Path(file.toString), octal(bits))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) == want, bits)
      nio.setPermission(new Path(dir.toString), octal(bits))
      assert(mode(dir) == Integer.parseInt(bits, 8), bits)
    }
    // what NIO cannot express goes to chmod: the sticky bit is set, and a
    // directory's setgid bit survives a four-digit mode
    nio.setPermission(new Path(dir.toString), octal("1777"))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    Files.setAttribute(dir, "unix:mode", Integer.parseInt("2755", 8))
    nio.setPermission(new Path(dir.toString), octal("750"))
    assert(mode(dir) == Integer.parseInt("2750", 8))
  }

  test("getFileLinkStatus matches NIO and Hadoop's shell route on every kind of path") {
    val dir = Files.createTempDirectory("graft_link")
    val file = Files.write(dir.resolve("file"), "abc".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def shape(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) s.getSymlink else null)
    def same(p: Path): FileStatus = {
      val got = nio.getFileLinkStatus(p)
      assert(shape(got) == shape(stock.getFileLinkStatus(p)), p)
      got
    }
    val fileSt = same(new Path(file.toString))
    assert(fileSt.isFile && !fileSt.isSymlink && fileSt.getLen == Files.size(file))
    assert(same(new Path(dir.toString)).isDirectory)
    val linkSt = same(new Path(link.toString))
    assert(linkSt.isSymlink && linkSt.getLen == Files.size(file))
    assert(linkSt.getSymlink == new Path("file:" + Files.readSymbolicLink(link)))
    assert(nio.getLinkTarget(new Path(link.toString)) == new Path(Files.readSymbolicLink(link).toString))
    val danglingSt = same(new Path(dangling.toString))
    assert(danglingSt.isSymlink && danglingSt.getLen == 0 && !Files.exists(dangling))
    assert(danglingSt.getSymlink == new Path("file:" + Files.readSymbolicLink(dangling)))
    // like Hadoop, a scheme-qualified path is looked up as written and never reads as a link
    assert(!same(new Path("file:" + link)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
    intercept[FileNotFoundException](stock.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("FileContext.rename with OVERWRITE replaces the target and its checksum") {
    val fc = FileContext.getFileContext(URI.create("file:///"), spark.sessionState.newHadoopConf())
    val dir = Files.createTempDirectory("graft_rename")
    def put(name: String, body: String): Path = {
      val p = new Path(dir.resolve(name).toUri)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
      try out.write(body.getBytes(UTF_8)) finally out.close()
      p
    }
    def crc(name: String): JPath = dir.resolve(s".$name.crc")
    val src = put("src", "new contents")
    val dst = put("dst", "old")
    val srcCrc = Files.readAllBytes(crc("src"))
    assert(!(srcCrc sameElements Files.readAllBytes(crc("dst"))))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(crc("src")))
    assert(Files.readAllBytes(crc("dst")) sameElements srcCrc)
    val in = fc.open(dst) // verifies the moved checksum against the moved data
    try assert(new String(in.readAllBytes(), UTF_8) == "new contents") finally in.close()
  }
}
