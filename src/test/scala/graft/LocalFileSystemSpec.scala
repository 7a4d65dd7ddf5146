package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.sources.mq.FileMQTransport
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

/** The `file:` binding in core-site.xml and the non-forking local
  * filesystem behind it: both Hadoop APIs resolve to it, it keeps the
  * forking filesystem's answers, and the checkpoint and parquet-write
  * paths start no chmod/readlink/ls process. */
class LocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  test("file: resolves to the non-forking filesystem for FileSystem and FileContext") {
    for (c <- Seq(conf, new Configuration())) {
      val fs = FileSystem.get(URI.create("file:///"), c)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem
        .isInstanceOf[NioRawLocalFileSystem])
      val afs = FileContext.getLocalFSFileContext(c).getDefaultFileSystem
      assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
    }
  }

  test("new files and directories get the umask-applied modes; " +
    "symlinks and missing files answer as before") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    val fc = FileContext.getLocalFSFileContext(conf)
    val umask = FsPermission.getUMask(conf)
    def mode(p: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    def expected(perm: FsPermission) =
      PosixFilePermissions.toString(PosixFilePermissions.fromString(
        perm.applyUMask(umask).toString))
    val root = Files.createTempDirectory("nio-fs")

    val file = root.resolve("sub/f.bin")
    val out = fs.create(new Path(file.toString))
    out.write(1)
    out.close()
    assert(mode(file) == expected(FsPermission.getFileDefault))
    assert(mode(file) == "rw-r--r--") // the default umask, 022
    val dir = root.resolve("made/by/fc")
    fc.mkdir(new Path(dir.toString), FsPermission.getDirDefault, true)
    assert(mode(dir) == expected(FsPermission.getDirDefault))
    assert(mode(dir) == "rwxr-xr-x")

    // a permission nio cannot express still lands (through the parent)
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer
      .parseInt("1777", 8).toShort))
    assert(Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] % 4096 ==
      Integer.parseInt("1777", 8))

    intercept[java.io.FileNotFoundException] {
      fs.setPermission(new Path(root.resolve("missing").toString),
        FsPermission.getFileDefault)
    }

    // a plain file's link status is its file status
    val st = fs.getFileLinkStatus(new Path(file.toString))
    assert(!st.isSymlink && st.isFile && st.getLen == 1L)
    assert(st.getModificationTime == fs.getFileStatus(new Path(file.toString))
      .getModificationTime)
    // a real symlink still reports itself and its target
    val link = root.resolve("link")
    Files.createSymbolicLink(link, file)
    val ls = fs.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath == file.toString)
    val fls = fc.getFileLinkStatus(new Path(link.toString))
    assert(fls.isSymlink && fls.getSymlink.toUri.getPath == file.toString)
  }

  test("no chmod/readlink/ls process starts on the checkpoint and " +
    "parquet-write paths (jdk.ProcessStart)") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val triggers = try {
      // the recording sees process starts at all
      new ProcessBuilder("true").start().waitFor()

      // a checkpointed ibmmq -> ibmmq query of one message per trigger
      val in = Files.createTempDirectory("nofork-in")
      val out = Files.createTempDirectory("nofork-out")
      val ckpt = Files.createTempDirectory("nofork-ckpt")
      Files.write(in.resolve("queue.jsonl"),
        (1 to 12).map(i => s"${1000 + i}\tm$i\n").mkString
          .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE)
      val q = spark.readStream.format("ibmmq").option("path", in.toString)
        .option("maxMessagesPerTrigger", "1").load()
        .select("value")
        .writeStream.format("ibmmq").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "relay query did not finish")
      assert(new FileMQTransport(out.toString).depth() == 12L)

      // a parquet saveAsTable: create, then append
      spark.sql("DROP TABLE IF EXISTS nofork_parquet")
      try {
        (1 to 50).map(i => (i, s"v$i")).toDF("id", "v")
          .write.format("parquet").saveAsTable("nofork_parquet")
        (51 to 100).map(i => (i, s"v$i")).toDF("id", "v")
          .write.mode("append").format("parquet").saveAsTable("nofork_parquet")
        assert(spark.table("nofork_parquet").count() == 100L)
      } finally spark.sql("DROP TABLE IF EXISTS nofork_parquet")
      q.recentProgress.count(_.numInputRows > 0)
    } finally rec.stop()
    val dump = Files.createTempFile("nofork", ".jfr")
    try {
      rec.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
        .asScala.filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").trim.split("\\s+").head
          .split('/').last).toSeq
      assert(triggers >= 10, s"only $triggers triggers")
      assert(commands.contains("true"),
        s"the recording saw no process start: $commands")
      val fsForks = commands.filter(Set("chmod", "readlink", "ls"))
      assert(fsForks.isEmpty, s"${fsForks.size} filesystem forks: " +
        commands.groupBy(identity).map { case (c, n) => s"$c x${n.size}" }
          .mkString(", "))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
