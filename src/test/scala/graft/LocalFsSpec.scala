package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.model.MetagameEvent
import graft.streaming.{AlertStateTable, FilePublisher, Sinks}

/** The process-free local filesystem that every graft session uses: it
  * is what the session resolves for `file:`, it leaves the same modes and
  * statuses on disk as Hadoop's `chmod`/`readlink` code path, and the
  * service path's checkpoint, state-store and segment writes start no
  * process.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private def conf = spark.sparkContext.hadoopConfiguration
  private def localFs: LocalFileSystem = FileSystem.getLocal(conf)

  test("the session resolves file: to the graft filesystems") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }

  test("setPermission leaves the same mode as chmod") {
    val dir = Files.createTempDirectory("localfs_perm")
    for (mode <- Seq("0644", "0755", "0700")) {
      val viaChmod = Files.createFile(dir.resolve(s"chmod_$mode"))
      val viaFs = Files.createFile(dir.resolve(s"fs_$mode"))
      val rc = new ProcessBuilder("chmod", mode, viaChmod.toString).start().waitFor()
      assert(rc == 0)
      localFs.setPermission(new Path(viaFs.toUri),
        new FsPermission(Integer.parseInt(mode, 8).toShort))
      assert(Files.getPosixFilePermissions(viaFs) ==
        Files.getPosixFilePermissions(viaChmod), s"mode $mode")
    }
  }

  test("getFileLinkStatus: a file or directory's status, a symlink, or not found") {
    val dir = Files.createTempDirectory("localfs_link")
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.getLen,
      s.getModificationTime, s.getPermission, s.isSymlink)
    for (p <- Seq(file, dir).map(p => new Path(p.toUri)))
      assert(fields(localFs.getFileLinkStatus(p)) == fields(localFs.getFileStatus(p)))
    assert(localFs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[FileNotFoundException] {
      localFs.getFileLinkStatus(new Path(dir.resolve("missing").toUri))
    }
  }

  test("the service path's checkpoint, state-store and segment writes start no chmod or readlink") {
    val dir = Files.createTempDirectory("localfs_census")
    val table = new AlertStateTable(dir.resolve("table").toString, compactEvery = 2)
    val publishDir = Files.createDirectories(dir.resolve("publish")).toString
    val publisher = new FilePublisher(publishDir)
    val mem = MemoryStream[MetagameEvent](spark)
    def ev(id: String, state: String, ts: Double) =
      MetagameEvent(id, 1, state, 17, 1, 40, 30, 20, 25, ts)

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      Seq(
        Seq(ev("17-1", "started", 1000), ev("19-2", "started", 1100)),
        Seq(ev("17-1", "ended", 2000), ev("13-9", "started", 2100)),
        Seq(ev("11-4", "started", 3000))
      ).foreach { events =>
        mem.addData(events)
        val queries = Seq(
          AlertStateTable.sink(mem.toDS(), table, ttlSeconds = Some(5400L))
            .option("checkpointLocation", dir.resolve("chk_state").toString),
          Sinks.publishStream(mem.toDS(), publisher)
            .option("checkpointLocation", dir.resolve("chk_publish").toString)
        ).map(_.start())
        queries.foreach(q => try q.awaitTermination() finally q.stop())
      }
    } finally rec.stop()

    val dump = dir.resolve("census.jfr")
    rec.dump(dump)
    rec.close()
    val starts = RecordingFile.readAllEvents(dump).asScala
      .map(e => (e.getString("command"),
        Option(e.getThread).map(_.getJavaName).getOrElse("?")))
    val spawned = starts.filter { case (cmd, _) =>
      cmd.contains("chmod") || cmd.contains("readlink") }
    assert(spawned.isEmpty, s"${spawned.size} chmod/readlink starts: ${spawned.take(5)}")

    assert(table.segmentDirs.exists(_.endsWith("b")), "no compaction ran")
    assert(table.snapshot(spark).select("id").as[String].collect().toSet ==
      Set("19-2", "13-9", "11-4"))
    assert(FilePublisher.consume(publishDir).size == 5)
  }
}
