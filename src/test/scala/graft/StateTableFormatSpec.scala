package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.CRC32
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AlertStateTable, AlertUpdate}

/** The state table's on-disk format: a segment file that does not match
  * the length and CRC32C its head names fails every read with an error
  * naming it, and a table of the earlier directory-segment layout (each
  * segment a directory of part files with Hadoop `.crc`s, head lines with
  * no checksum) reads unchanged and is adopted by its next compaction.
  */
class StateTableFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val batches = Seq(
    (1 to 40).map(i => AlertUpdate(f"k-$i%03d", "live", i, 17, 1000.0 + i)),
    (1 to 40 by 3).map(i => AlertUpdate(f"k-$i%03d", "removed", 100 + i, 17, 2000.0 + i)),
    Seq(AlertUpdate("k-900", "live", 300, 9, 3000.0)),
    Seq(AlertUpdate("k-002", "removed", 400, 17, 4000.0)))

  /** Newest row per id. */
  private def expected(n: Int): Set[AlertUpdate] = batches.take(n).flatten
    .groupBy(_.id).values.map(_.maxBy(u => (u.timestamp, u.eventId))).toSet

  private def rows(t: AlertStateTable): Set[AlertUpdate] =
    t.raw(spark).as[AlertUpdate].collect().toSet

  private def names(dir: Path): Seq[String] =
    graft.io.Dirs.list(dir).map(_.getFileName.toString).sorted

  /** The messages of an exception and all its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => s"${x.getClass.getName}: ${x.getMessage}").mkString("\n")

  /** Rewrite `p` with `f` applied to its bytes. */
  private def damage(p: Path)(f: Array[Byte] => Array[Byte]): Unit =
    Files.write(p, f(Files.readAllBytes(p)))

  private def flip(at: Int)(b: Array[Byte]): Array[Byte] = {
    val c = b.clone()
    c(at) = (c(at) ^ 0x5a).toByte
    c
  }

  test("a segment file with a flipped data byte, a flipped footer byte or a cut tail fails the read, naming the segment") {
    val dir = Files.createTempDirectory("alert_format_crc")
    val t = new AlertStateTable(dir.toString)
    t.merge(spark, batches(0).toDF())
    assert(rows(t) == expected(1))
    val seg = t.segmentDirs.last
    val p = dir.resolve(seg)
    val good = Files.readAllBytes(p)
    // parquet: "PAR1", column chunks (the data pages), footer, footer
    // length (4 bytes little-endian), "PAR1"
    val footerLen = ByteBuffer.wrap(good, good.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    val footer = good.length - 8 - footerLen
    assert(footer > 4 && footerLen > 0, s"footer at $footer, $footerLen bytes")
    val cases = Seq[(String, Array[Byte] => Array[Byte])](
      "data page" -> flip((4 + footer) / 2),
      "footer" -> flip(footer + footerLen / 2),
      "truncation" -> (b => java.util.Arrays.copyOf(b, b.length - 100)))
    cases.foreach { case (what, f) =>
      damage(p)(f)
      val e = intercept[java.io.IOException](t.raw(spark).collect())
      assert(e.getMessage.contains(seg) && e.getMessage.contains("fails its check"),
        s"$what: ${messages(e)}")
      intercept[java.io.IOException](new AlertStateTable(dir.toString).snapshot(spark))
      Files.write(p, good)
    }
    assert(rows(t) == expected(1))
  }

  /** A slot record of the earlier format: length, payload (the id, then
    * one bare segment name per line), CRC32 of the payload.
    */
  private def oldSlot(id: Long, segs: Seq[String]): Array[Byte] = {
    val payload = (id.toString +: segs).mkString("\n").getBytes(StandardCharsets.UTF_8)
    val crc = new CRC32
    crc.update(payload)
    ByteBuffer.allocate(payload.length + 8).putInt(payload.length)
      .put(payload).putInt(crc.getValue.toInt).array()
  }

  private val seg = (i: Int) => f"s$i%018dd"

  /** A table of the directory-segment layout after batches 0 and 1, built
    * by hand: each segment a directory holding one part file and its
    * `.crc`, two slots whose lines carry no checksum.
    */
  private def dirLayout(): Path = {
    val dir = Files.createTempDirectory("alert_format_dirs")
    (0 until 2).foreach(i => batches(i).toDF().coalesce(1).write
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir.resolve(seg(i + 1)).toString))
    Files.write(dir.resolve("_HEAD0"), oldSlot(1, Seq(seg(1))))
    Files.write(dir.resolve("_HEAD1"), oldSlot(2, Seq(seg(1), seg(2))))
    dir
  }

  test("a slot of the earlier format, with no checksums, decodes") {
    val dir = dirLayout()
    val t = new AlertStateTable(dir.toString)
    assert(t.versions == Seq(f"m${1}%018d", f"m${2}%018d"))
    assert(t.segmentDirs == Seq(seg(1), seg(2)))
    assert(t.rawAt(spark, t.versions.head).as[AlertUpdate].collect().toSet == expected(1))
  }

  test("a corrupt part file of a directory segment fails the read through its .crc, naming the segment") {
    val dir = dirLayout()
    val part = graft.io.Dirs.list(dir.resolve(seg(2)))
      .find(_.getFileName.toString.startsWith("part-")).get
    assert(Files.exists(part.resolveSibling(s".${part.getFileName}.crc")))
    damage(part)(b => flip(b.length / 2)(b))
    val e = intercept[Exception](rows(new AlertStateTable(dir.toString)))
    val all = messages(e)
    assert(all.contains("ChecksumException") && all.contains(seg(2)), all)
  }

  test("a table of the directory-segment layout reads unchanged, compacts into a file base, and its directories are collected") {
    val dir = dirLayout()
    val t = new AlertStateTable(dir.toString, compactEvery = 3)
    assert(rows(t) == expected(2))
    val live = expected(2).filter(_.status == "live")
    assert(t.snapshot(spark).as[AlertUpdate].collect().toSet == live)
    // compacts: the directory segments are folded into a one-file base,
    // and kept for the previous version
    t.merge(spark, batches(2).toDF())
    assert(rows(t) == expected(3))
    val base = t.segmentDirs.head
    assert(t.segmentDirs == Seq(base) && base.endsWith("b") &&
      Files.isRegularFile(dir.resolve(base)))
    assert(Files.isDirectory(dir.resolve(seg(1))) && Files.isDirectory(dir.resolve(seg(2))))
    // the next merge drops the earlier version, its directories with it
    t.merge(spark, batches(3).toDF())
    assert(rows(t) == expected(4))
    assert(rows(new AlertStateTable(dir.toString)) == expected(4))
    assert(names(dir).forall(n => Files.isRegularFile(dir.resolve(n))) &&
      !names(dir).exists(n => n == seg(1) || n == seg(2)),
      s"directory segments left: ${names(dir)}")
  }
}
