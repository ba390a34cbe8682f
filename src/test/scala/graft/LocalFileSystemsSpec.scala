package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{Layout, LocalFileSystems, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** graft's `file:` file systems behave as Hadoop's and start no `chmod` or
  * `readlink` process, on the session every suite shares. */
class LocalFileSystemsSpec extends SparkSuite {

  private def fileSystem(fs: FileSystem, umask: Option[String]): FileSystem = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Creates files and directories under `root` through `fs`; returns each
    * one's relative path and mode bits. */
  private def created(fs: FileSystem, root: NioPath): Seq[(String, String)] = {
    val r = new Path(root.toString)
    fs.mkdirs(new Path(r, "d/e"))
    fs.create(new Path(r, "d/f")).close()
    fs.mkdirs(new Path(r, "g"), new FsPermission("750"))
    fs.create(new Path(r, "g/h"), new FsPermission("640"), false, 4096,
      1.toShort, 1 << 20, null).close()
    fs.create(new Path(r, "i")).close()
    fs.setPermission(new Path(r, "i"), new FsPermission("604"))
    Files.walk(root).iterator().asScala.filterNot(_ == root).toSeq
      .map(p => root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      .sorted
  }

  test("files and directories get Hadoop's mode bits, under the default" +
      " umask and under 077") {
    for (umask <- Seq(None, Some("077"))) {
      val hadoop = created(fileSystem(new LocalFileSystem(), umask), tempDir("graft_fs_h"))
      val graft = created(fileSystem(new NioLocalFileSystem(), umask), tempDir("graft_fs_g"))
      assert(graft === hadoop, s"umask $umask")
      assert(hadoop.map(_._1).contains("d/.f.crc"))
    }
  }

  test("a sticky-bit mode takes Hadoop's path") {
    val fs = fileSystem(new NioRawLocalFileSystem(), None)
    val dir = tempDir("graft_fs_sticky")
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    assert(mode === Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus matches Hadoop's for a file, a directory and a symlink") {
    val root = tempDir("graft_fs_links")
    Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    val hadoop = fileSystem(new LocalFileSystem(), None)
    val graft = fileSystem(new NioLocalFileSystem(), None)
    def status(fs: FileSystem, p: Path) = {
      val s = fs.getFileLinkStatus(p)
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    }
    for (name <- Seq("f", "d", "l")) {
      val p = new Path(root.resolve(name).toString)
      assert(status(graft, p) === status(hadoop, p), name)
    }
    assert(status(graft, new Path(root.resolve("l").toString))._4)
  }

  test("install sets Hadoop's defaults to graft's classes and leaves a" +
      " user's value alone") {
    val conf = new Configuration()
    LocalFileSystems.install(conf)
    assert(conf.get("fs.file.impl") === classOf[NioLocalFileSystem].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") === classOf[NioLocalFs].getName)
    val user = new Configuration()
    user.set("fs.file.impl", "com.example.UserFs")
    user.set("fs.AbstractFileSystem.file.impl", "com.example.UserAfs")
    LocalFileSystems.install(user)
    assert(user.get("fs.file.impl") === "com.example.UserFs")
    assert(user.get("fs.AbstractFileSystem.file.impl") === "com.example.UserAfs")
  }

  test("the shared session's file: FileSystem and FileContext are graft's") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
  }

  /** The commands of the processes `body` starts, from a JFR recording. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = tempDir("graft_jfr").resolve("process.jfr")
    try rec.dump(file) finally rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
      .map(_.getString("command"))
  }

  /** A day-partitioned store of a fresh copy of sf0.001's events, then a
    * 3-batch file stream with a checkpoint into a parquet sink. */
  private def storeAndStream(): Unit = {
    val src = tempDir("graft_fs_src")
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      src.resolve("events.parquet"))
    Layout.ensureEventsByDay(spark, src.toString)
    val landing = tempDir("graft_fs_landing")
    (1 to 3).foreach(i => Files.writeString(landing.resolve(s"part-$i.txt"), s"line $i\n"))
    val out = tempDir("graft_fs_out")
    val q = spark.readStream.option("maxFilesPerTrigger", 1).text(landing.toString)
      .writeStream.format("parquet")
      .option("checkpointLocation", out.resolve("checkpoint").toString)
      .trigger(Trigger.AvailableNow())
      .start(out.resolve("sink").toString)
    try q.awaitTermination() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)
  }

  private def forks(cmds: Seq[String], tool: String): Int =
    cmds.count(_.split("\\s+").exists(a => a == tool || a.endsWith(s"/$tool")))

  test("a store write and a checkpointed stream start no chmod or readlink;" +
      " through Hadoop's stock file systems they do") {
    val graft = processesStartedBy(storeAndStream())
    assert(forks(graft, "chmod") === 0 && forks(graft, "readlink") === 0,
      graft.mkString("\n"))
    val stock = Seq(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    stock.foreach { case (k, v) => spark.conf.set(k, v) }
    val hadoop = try processesStartedBy(storeAndStream())
      finally stock.foreach { case (k, _) => spark.conf.unset(k) }
    assert(forks(hadoop, "chmod") > 0 && forks(hadoop, "readlink") > 0,
      hadoop.mkString("\n"))
  }
}
