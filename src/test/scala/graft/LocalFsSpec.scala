package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, lit}
import graft.plans.TxLog
import graft.runtime.{LocalFs, TempDirs, Warehouse}

/** [[LocalFs]]: the engine session's local filesystem sets modes without
  * forking `chmod`, and leaves exactly the modes stock Hadoop leaves. */
class LocalFsSpec extends SparkSpec {

  test("the engine session's local filesystem is LocalFs") {
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(spark.sessionState.newHadoopConf()).isInstanceOf[LocalFs])
  }

  /** Commands of the processes the JVM started while `body` ran. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("a partitioned table write and a TxLog append start no chmod process") {
    // the recording does see a process the JVM starts
    assert(processesStartedBy(new ProcessBuilder("true").start().waitFor())
      .exists(_.contains("true")))
    val root = java.nio.file.Paths.get(TempDirs.create("graft_localfs"))
    val wh = new Warehouse(spark, root.toString)
    val df = spark.range(0, 400).select(col("id"), (col("id") % 24).as("part"),
      lit("x").as("payload"))
    val cmds = processesStartedBy {
      wh.createTable("parts", df, partitionBy = Seq("part"))
      TxLog.append(root.resolve("log_parts"), df, Seq("part"))
    }
    assert(wh.read("parts").count() == 400)
    assert(TxLog.read(spark, root.resolve("log_parts")).count() == 400)
    val partDirs = Files.list(java.nio.file.Paths.get(wh.tablePath("parts"))).iterator.asScala
      .count(_.getFileName.toString.startsWith("part="))
    assert(partDirs == 24)
    assert(!cmds.exists(_.contains("chmod")), cmds.mkString("\n"))
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  /** (path relative to `root` → mode) of everything below `root`. */
  private def modesBelow(root: JPath): Map[String, Int] =
    Files.walk(root).iterator.asScala.filter(_ != root).toSeq
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  /** The same calls on a fresh `fs` under `umask`: every resulting
    * (relative path → mode) below its own temp root. */
  private def modesAfterCalls(fs: LocalFileSystem, umask: String): Map[String, Int] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    val root = Files.createTempDirectory("graft_modes")
    val base = new Path(root.toUri)
    def create(rel: String, perm: Option[FsPermission]): Unit = {
      val out = perm.fold(fs.create(new Path(base, rel)))(p =>
        fs.create(new Path(base, rel), p, true, 4096, 1.toShort, 1L << 20, null))
      out.write(Array[Byte](1, 2, 3)); out.close()
    }
    try {
      fs.mkdirs(new Path(base, "a/b/c"))
      fs.mkdirs(new Path(base, "d"), new FsPermission("750"))
      create("a/b/c/default.bin", None)
      create("d/explicit.bin", Some(new FsPermission("640")))
      create("new/parent/file.bin", None)
      create("chmod.bin", None)
      fs.setPermission(new Path(base, "chmod.bin"), new FsPermission("604"))
      fs.mkdirs(new Path(base, "dirchmod"))
      fs.setPermission(new Path(base, "dirchmod"), new FsPermission("711"))
      fs.mkdirs(new Path(base, "sticky"))
      fs.setPermission(new Path(base, "sticky"), new FsPermission("1777"))
      modesBelow(root)
    } finally {
      fs.close()
      Files.walk(root).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
  }

  for (umask <- Seq("022", "077")) test(s"modes equal stock Hadoop's under umask $umask") {
    val stock = modesAfterCalls(new LocalFileSystem(), umask)
    val ours = modesAfterCalls(new LocalFs(), umask)
    assert(ours == stock)
    assert(stock.contains("a/b/c/.default.bin.crc"), "checksum files are written")
    assert(stock("sticky") == Integer.parseInt("1777", 8))
    assert(stock("a/b/c/default.bin") ==
      (Integer.parseInt("666", 8) & ~Integer.parseInt(umask, 8)))
  }
}
