package graft.streaming

import java.io.{IOException, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeoutException
import java.util.zip.{CRC32, CRC32C, CheckedInputStream}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.io.Dirs
import graft.model.MetagameEvent

/** The durable face of the in-progress alert set: a keyed parquet table
  * maintained by `foreachBatch` merge — the reference's Mongo `alerts`
  * collection (`/root/reference/services/AlertService.py`) as a queryable
  * lake table, and the lower-risk alternative to in-flight state from
  * SURVEY.md §7 step 3.
  *
  * Merge semantics per micro-batch of [[AlertUpdate]]s: last-writer-wins
  * by (event time, eventId), matching [[AlertPipeline]]. Non-live updates
  * are kept as TOMBSTONE rows (not deleted) so a late-arriving older
  * `started` cannot resurrect a key; [[snapshot]] filters to the live
  * set. Re-merging a redelivered batch is a no-op, which makes
  * at-least-once micro-batch retries safe.
  *
  * Layout: a log-plus-compaction scheme (the shape Delta/Iceberg give you
  * for free — re-derived here on bare parquet). A version is a segment
  * list in application order. Each merge writes ONLY the batch's rows, as
  * given, as a new delta segment — O(|batch|) I/O, not O(|table|) — and
  * readers resolve last-writer-wins across and within segments. Once a
  * version would reach `compactEvery` segments, the merge folds everything
  * into a fresh base segment instead, so read amplification is bounded
  * and compaction cost amortizes to |table|/compactEvery per batch.
  *
  * A segment is one parquet file directly in the table directory,
  * `s<id>d` (a delta) or `s<id>b` (a base). Spark writes it into a
  * staging directory `s<id>dw` / `s<id>bw` as one part file with no
  * `_SUCCESS` marker; the part file is renamed to the segment's name and
  * the staging directory (with the part file's `.crc`) is deleted.
  *
  * Versions live in `max(retainGenerations, 2)` fixed head slots,
  * `_HEAD0`, `_HEAD1`, … — the superblock pattern of log-structured
  * stores. A slot holds one version record: the payload length, the
  * payload (the version id, then one `name length crc32c` line per
  * segment) and its CRC32. The newest valid record is the current
  * version; a torn or corrupt slot is ignored. A merge overwrites, in
  * place, the slot of the oldest retained version (never the current
  * one's) and forces it; a crash at any point leaves the current version
  * readable. GC then deletes every segment no retained version names, so
  * a reader that resolved the current version just before a merge still
  * finds every file it planned (the previous version is retained),
  * `rawAt` can time-travel the window, and the next merge sweeps the
  * orphans (segments, staging directories) of a merge that crashed.
  *
  * Integrity: every read checks each segment's byte length and whole-file
  * CRC32C against its head line before Spark opens it, and fails with an
  * error naming the segment. This replaces the Hadoop `.crc` sidecar.
  *
  * What is fsync'd, and why: every segment a head names (its one file),
  * then the table directory, so the segment's entry is durable before any
  * head names it, then the slot. The staging directory and the `.crc` are
  * never synced. A compacting merge still writes its delta — the batch's
  * plan must run exactly once — but no head ever names that delta, so it
  * is read back from its staging directory into the base and deleted
  * unsynced.
  *
  * The cost of freeing a block: on a filesystem mounted with online
  * discard, unlinking a file whose blocks were fsync'd, or removing a
  * directory that was, costs tens of milliseconds (58 ms for a 4 KiB
  * file and 49 ms for an empty directory on ext4 with `discard`, against
  * 0.3 ms for a directory never synced and 0.23 ms to overwrite a synced
  * file in place and `fdatasync` it), does not batch, and stalls every
  * other fsync on the device. So no commit unlinks, renames over or
  * truncates a synced file: a slot is overwritten without truncation and
  * a segment is one synced file. An ordinary merge fsyncs one segment
  * file and frees only its own unsynced staging entries; a 7-merge cycle
  * at the defaults frees 7 synced segments, all in the merge after a
  * compaction.
  *
  * Tables of earlier layouts are read and adopted: a segment that is a
  * directory (part files with `.crc`s, named by a head line without a
  * checksum) reads as before, the next compaction folds it into a file
  * base, and GC deletes it recursively. A directory with a `_CURRENT`
  * pointer to `m…` manifest files and no `_HEAD*` file that decodes
  * reads as its current manifest; the first merge writes that version to
  * a slot and drops the old pointer and manifests only after its own head
  * is forced.
  */
class AlertStateTable(path: String, compactEvery: Int = 8,
    retainGenerations: Int = 2)
    extends Serializable {
  import AlertStateTable.{Head, Segment}

  private val slots = math.max(retainGenerations, 2)

  private def file(name: String): Path = Paths.get(path, name)

  private def slotFile(i: Int): Path = file(s"_HEAD$i")

  /** The table directory's entry names; empty before the first merge. */
  private def entries: Seq[String] =
    try Dirs.list(Paths.get(path)).map(_.getFileName.toString)
    catch { case _: NoSuchFileException => Nil }

  private def readFile(p: Path): Option[Array[Byte]] =
    try Some(Files.readAllBytes(p))
    catch { case _: NoSuchFileException => None }

  /** The valid version records on disk, oldest first: every `_HEAD<i>`
    * that decodes, whatever `i` (so a reopen with another
    * `retainGenerations` still finds the newest). When no slot decodes,
    * the manifest `_CURRENT` names: a directory of the earlier layout,
    * whose adoption may have stopped with its first slot created but not
    * yet written. Its pointer is deleted only after a slot was forced, so
    * it is never read in place of a valid head.
    */
  private def heads(names: Seq[String]): Seq[Head] = {
    val slotted = names.flatMap(AlertStateTable.slotIndex)
      .flatMap(i => readFile(slotFile(i))
        .flatMap(AlertStateTable.decode).map(_.copy(slot = Some(i))))
    if (slotted.nonEmpty) slotted.sortBy(_.id)
    else (for {
      pointer <- readFile(file("_CURRENT"))
      manifest = new String(pointer, StandardCharsets.UTF_8).trim
      body <- readFile(file(manifest))
      id <- manifest.drop(1).toLongOption
    } yield Head(id, new String(body, StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).map(Segment(_, None))
      .toSeq, None)).toSeq
  }

  private def heads: Seq[Head] = heads(entries)

  /** Segment names (relative to `path`) of the current version, in
    * application order.
    */
  def segmentDirs: Seq[String] = current.map(_.name)

  private def current: Seq[Segment] =
    heads.lastOption.map(_.segments).getOrElse(Seq.empty)

  /** Last-writer-wins resolution. Tie-break beyond (timestamp, eventId):
    * a TTL "expired" update carries the SAME event coordinates as the
    * live row it retires, so on a dead tie the non-live status must win
    * (the deletion is causally later).
    */
  private def resolve(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val statusRank = when(col("status") === "live", 0).otherwise(1)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("timestamp").desc, col("eventId").desc, statusRank.desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      AlertStateTable.schema)

  /** A segment whose head line carries a length and CRC32C must match
    * them byte for byte before it is read.
    */
  private def verify(seg: Segment): Unit = seg.sum.foreach { want =>
    val got =
      try AlertStateTable.checksum(file(seg.name))
      catch { case e: NoSuchFileException =>
        throw new IOException(s"state-table segment ${seg.name} is missing", e) }
    if (got != want)
      throw new IOException(f"state-table segment ${seg.name} fails its check: " +
        f"${got._1} bytes with CRC32C ${got._2}%08x, its head names " +
        f"${want._1} bytes with CRC32C ${want._2}%08x")
  }

  /** Segment rows as written, read with the table's schema: inferring it
    * would launch a footer-reading job per read. Each segment is checked
    * first.
    */
  private def readRows(spark: SparkSession, segs: Seq[Segment]): DataFrame = {
    segs.foreach(verify)
    spark.read.schema(AlertStateTable.schema)
      .parquet(segs.map(s => s"$path/${s.name}"): _*)
  }

  private def readSegments(spark: SparkSession, segs: Seq[Segment]): DataFrame =
    if (segs.isEmpty) empty(spark)
    else resolve(readRows(spark, segs))

  /** All retained rows — live entries and tombstones, LWW-resolved. */
  def raw(spark: SparkSession): DataFrame =
    readSegments(spark, current)

  /** Retained versions, oldest → newest (time travel horizon =
    * `retainGenerations`). A version's name is `m` and its zero-padded
    * monotonic id, derived from the directory and so restart-safe; a
    * table of the earlier layout keeps its manifest names.
    */
  def versions: Seq[String] = heads.map(_.name)

  private def segmentsAt(version: String): Seq[Segment] =
    heads.find(_.name == version).map(_.segments).getOrElse(Seq.empty)

  /** The table as of a retained version — the lake-table time travel the
    * log+compact layout gives for free (Delta's `versionAsOf` analog,
    * bounded by the GC retention window).
    */
  def rawAt(spark: SparkSession, version: String): DataFrame =
    readSegments(spark, segmentsAt(version))

  /** The in-progress set (what the reference's Mongo collection holds). */
  def snapshot(spark: SparkSession): DataFrame =
    raw(spark).filter(col("status") === "live")

  /** CHANGE-DATA FEED between two retained versions — the Delta CDF
    * analog the log+compact layout gives for free, and the input that
    * makes downstream materialized views INCREMENTALLY maintainable
    * ([[LiveCountsView]]): one row per net change to the LIVE set,
    * Delta-CDF-shaped so aggregates fold it directly —
    * `insert` (post-image), `delete` (pre-image), and an
    * `update_preimage`/`update_postimage` pair (so a view keyed on any
    * column handles key-moving updates as −1/+1 without special cases).
    *
    * Scale shape: when `from`'s segments all survive into `to` (no
    * compaction crossed the window) the only ids that CAN have changed
    * are those appearing in `to`'s new delta segments — the feed reads
    * O(|delta|) and semi-joins both versions down to the candidates
    * before the full-outer compare, never diffing two full table scans.
    * A compaction inside the window rewrites history into one base
    * segment, so the feed falls back to the full diff — bounded by
    * `compactEvery` merges per occurrence.
    */
  def changesBetween(spark: SparkSession, fromVersion: String,
      toVersion: String): DataFrame = {
    val fromSegs = segmentsAt(fromVersion)
    val toSegs = segmentsAt(toVersion)
    val before0 = readSegments(spark, fromSegs)
    val after0 = readSegments(spark, toSegs)
    val (before, after) =
      if (fromSegs.forall(toSegs.contains)) {
        val newSegs = toSegs.filterNot(fromSegs.contains)
        if (newSegs.isEmpty) return changeFrame(spark, before0.limit(0),
          after0.limit(0))
        val cand = readRows(spark, newSegs).select(col("id")).distinct()
        (before0.join(cand, Seq("id"), "left_semi"),
          after0.join(cand, Seq("id"), "left_semi"))
      } else (before0, after0)
    changeFrame(spark, before, after)
  }

  private def changeFrame(spark: SparkSession, before: DataFrame,
      after: DataFrame): DataFrame = {
    val img = (d: DataFrame) => d.filter(col("status") === "live")
      .select(col("id"), struct(col("eventId"), col("worldId"),
        col("timestamp")).as("img"))
    val joined = img(before).withColumnRenamed("img", "b")
      .join(img(after).withColumnRenamed("img", "a"), Seq("id"), "full_outer")
    joined.select(col("id"), explode(
      when(col("b").isNull && col("a").isNotNull,
        array(struct(lit("insert").as("change"), col("a").as("img"))))
      .when(col("b").isNotNull && col("a").isNull,
        array(struct(lit("delete").as("change"), col("b").as("img"))))
      .when(col("b") =!= col("a"),
        array(struct(lit("update_preimage").as("change"), col("b").as("img")),
          struct(lit("update_postimage").as("change"), col("a").as("img"))))
      .otherwise(array())).as("c"))
      .select(col("id"), col("c.change").as("change"),
        col("c.img.eventId").as("eventId"),
        col("c.img.worldId").as("worldId"),
        col("c.img.timestamp").as("timestamp"))
  }

  /** Next version id: one past the highest id any head, manifest,
    * segment or staging directory carries. Derived from the DIRECTORY,
    * not a clock — `System.nanoTime` has an arbitrary per-boot origin, so
    * clock-named versions would sort wrongly after a restart of a
    * persistent table. Zero-padded to fixed width so lexicographic order
    * IS numeric order.
    */
  private def nextId(names: Seq[String], found: Seq[Head]): Long = {
    val ids = names
      .collect { case n if n.length > 1 && (n.head == 'm' || n.head == 's') =>
        n.drop(1).takeWhile(_.isDigit) }
      .filter(_.nonEmpty).map(_.toLong)
    (ids ++ found.map(_.id) :+ 0L).max + 1
  }

  /** The write option that, set to "false", stops the committer leaving
    * a `_SUCCESS` file in a segment.
    */
  private val noMarker = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

  /** Every filesystem step of a merge runs through here: `write` (one
    * Spark segment write), `rename` (a part file to its segment name),
    * `fsync` (one file), `dirsync`, `create` (a new empty slot file),
    * `head` (one slot write) and `delete` (one path). In the table it
    * only runs the step; a test overrides it to see the directory after
    * each step, as a crash there would leave it.
    */
  protected def fsStep(step: String)(run: => Unit): Unit = run

  /** The staging directory Spark writes segment `seg` into. */
  private def staging(seg: String): String = s"${seg}w"

  /** Write `df` into segment `seg`'s staging directory: one writer task,
    * so one part file, and no `_SUCCESS` marker.
    */
  private def write(seg: String, df: DataFrame): Unit = fsStep("write") {
    df.write.mode(SaveMode.Overwrite).option(noMarker, "false")
      .parquet(s"$path/${staging(seg)}")
  }

  /** Make a written segment a file of the table directory: rename the
    * staging directory's one part file to `seg`, delete what is left of
    * the staging directory (the part file's `.crc` and the directory,
    * neither ever synced, so freeing them is cheap), and fsync the file:
    * Spark's local-FS parquet writer never forces it to disk, so without
    * this a POWER loss could leave a head naming a segment whose data
    * blocks were lost. Same best-effort contract as
    * [[FilePublisher.syncFile]]. Returns the segment with its length and
    * CRC32C.
    */
  private def publish(seg: String): Segment = {
    val parts = Dirs.list(file(staging(seg)))
      .filter(_.getFileName.toString.startsWith("part-"))
    val part = parts match {
      case Seq(p) => p
      case _ => throw new IllegalStateException(
        s"state-table segment $seg: expected one part file, found $parts")
    }
    fsStep("rename")(Files.move(part, file(seg), StandardCopyOption.ATOMIC_MOVE))
    Metrics.add(AlertStateTable.FreedMetric, delete(staging(seg)))
    val sum = AlertStateTable.checksum(file(seg))
    fsStep("fsync")(FilePublisher.syncFile(file(seg)))
    Segment(seg, Some(sum))
  }

  /** Overwrite slot `i` in place with `head` and force it. The file is
    * never truncated (a truncate frees blocks too); a shorter record
    * leaves the old tail behind, which the length prefix skips. A slot
    * file created here is empty until the write, and needs its directory
    * entry forced after it.
    */
  private def writeSlot(i: Int, head: Head): Unit = {
    val p = slotFile(i)
    val created = !Files.exists(p)
    if (created) fsStep("create")(Files.createFile(p))
    fsStep("head") {
      val ch = FileChannel.open(p, StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.wrap(AlertStateTable.encode(head))
        while (buf.hasRemaining) ch.write(buf, buf.position().toLong)
        ch.force(true)
      } finally ch.close()
    }
    if (created) fsStep("dirsync")(FilePublisher.syncDir(Paths.get(path).toFile))
  }

  /** Merge one batch of updates into the table: write the batch as a new
    * delta segment (cost scales with the batch), fold into a fresh base
    * only when the version would reach `compactEvery` segments.
    *
    * The batch's plan runs exactly once, as the segment write: a
    * streaming batch's state-store version commits inside that action,
    * so it must run even when it yields no rows, and a second action
    * would recompute the whole stateful stage. The write counts its own
    * rows; an empty segment is deleted before any head is written.
    * The batch is written unresolved: readers and compaction resolve
    * last-writer-wins, so a duplicate id inside one segment is harmless.
    */
  def merge(spark: SparkSession, updates: DataFrame): Unit = synchronized {
    val names = entries
    val found = heads(names)
    val segs = found.lastOption.map(_.segments).getOrElse(Seq.empty)
    val id = nextId(names, found)
    val delta = s"s${AlertStateTable.pad(id)}d"
    val compacting = segs.length + 1 >= compactEvery
    val rows = Observation()
    write(delta, updates
      .select(AlertStateTable.schema.fieldNames.toIndexedSeq.map(col): _*)
      .coalesce(1)
      .observe(rows, count(lit(1)).as("rows")))
    // the count arrives through the session's listener bus, which drops
    // events when its queue overflows: wait a bounded time, and without
    // a count keep the segment (an empty write still leaves a readable
    // footer-only file) rather than stall the stream
    val written =
      try Some(Await.result(rows.future, 1.minute).getAs[Long]("rows"))
      catch { case _: TimeoutException => None }
    if (written.contains(0L)) {
      Metrics.add(AlertStateTable.FreedMetric, delete(staging(delta)))
      return
    }
    // a directory of the earlier layout: its current manifest becomes
    // the first head, so the new version's GC keeps its segments
    val committed = found match {
      case Seq(old) if old.slot.isEmpty =>
        writeSlot(0, old)
        Seq(old.copy(slot = Some(0)))
      case hs => hs
    }
    val newSegs =
      if (compacting) {
        val base = s"s${AlertStateTable.pad(id)}b"
        // the unsynced delta is read from its staging directory; one
        // partition before the resolve makes the base one file and meets
        // the window's clustering, so the plan has one shuffle
        write(base, resolve(readRows(spark, segs :+ Segment(staging(delta), None))
          .repartition(1)))
        Seq(publish(base))
      } else segs :+ publish(delta)
    // the new segment's directory entry is durable before a head names
    // it; then the slot of the oldest retained version (a missing or
    // invalid slot first) takes the new version — never the current
    // version's slot, so a torn write leaves the current one intact
    fsStep("dirsync")(FilePublisher.syncDir(Paths.get(path).toFile))
    val held = committed.flatMap(h => h.slot.map(_ -> h.id)).toMap
    val slot = (0 until slots).minBy(i => held.getOrElse(i, -1L))
    val head = Head(id, newSegs, Some(slot))
    writeSlot(slot, head)
    val freed = gc(committed.filterNot(_.slot.contains(slot)) :+ head)
    Metrics.add(AlertStateTable.MergesMetric, 1)
    Metrics.add(AlertStateTable.FreedMetric, freed)
    Metrics.set(AlertStateTable.SegmentsGauge, newSegs.length)
  }

  /** Delete what no retained version names, given every head on disk
    * after a commit, oldest first. A head in a slot beyond this table's
    * slot count (left by an instance with a larger `retainGenerations`)
    * is dropped once it falls out of the newest `slots` versions, before
    * its segments. The earlier layout's pointer and manifests go once a
    * head exists. Also sweeps the orphans of merges that crashed before
    * their head write, staging directories included. Returns the number
    * of entries deleted.
    */
  private def gc(after: Seq[Head]): Int = {
    val newest = after.takeRight(slots).toSet
    val names = entries
    val slotsFreed = names.flatMap(AlertStateTable.slotIndex)
      .filter(i => i >= slots && !newest.exists(_.slot.contains(i)))
      .map(i => delete(s"_HEAD$i")).sum
    val keep = after.filter(h => h.slot.exists(_ < slots) || newest(h))
      .flatMap(_.segments).map(_.name).toSet
    slotsFreed + names.filter(n => n.startsWith("_CURRENT") ||
        n.startsWith("m") || (n.startsWith("s") && !keep(n)))
      .map(delete).sum
  }

  /** Delete an entry of the table directory, depth first, one path per
    * step; returns the number of paths deleted.
    */
  private def delete(name: String): Int = {
    val paths =
      try Using.resource(Files.walk(file(name)))(_.iterator().asScala.toList)
      catch { case _: NoSuchFileException => Nil }
    var n = 0
    paths.reverse.foreach(p => fsStep("delete") {
      if (Files.deleteIfExists(p)) n += 1
    })
    n
  }
}

object AlertStateTable {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("status", StringType),
    StructField("eventId", IntegerType),
    StructField("worldId", IntegerType),
    StructField("timestamp", DoubleType)))

  /** `/metrics` series: versions committed, directory entries deleted
    * (both counters) and the current version's segment count (a gauge).
    */
  val MergesMetric = "table_merges"
  val FreedMetric = "table_entries_freed"
  val SegmentsGauge = "table_segments"

  private def pad(id: Long): String = f"$id%018d"

  /** A segment a version names, with the byte length and CRC32C of its
    * file; none for a directory segment of an earlier layout, or the
    * unsynced delta a compaction reads.
    */
  private final case class Segment(name: String, sum: Option[(Long, Int)]) {
    def line: String = sum.fold(name) { case (len, crc) => f"$name $len $crc%08x" }
  }

  private object Segment {
    def parse(line: String): Option[Segment] = line.split(' ') match {
      case Array(name) => Some(Segment(name, None))
      case Array(name, len, crc) =>
        for {
          l <- len.toLongOption
          c <- scala.util.Try(Integer.parseUnsignedInt(crc, 16)).toOption
        } yield Segment(name, Some((l, c)))
      case _ => None
    }
  }

  /** One version record and the slot it was read from (none for the
    * earlier layout's manifest).
    */
  private final case class Head(id: Long, segments: Seq[Segment],
      slot: Option[Int]) {
    def name: String = s"m${pad(id)}"
  }

  private def slotIndex(name: String): Option[Int] =
    if (name.startsWith("_HEAD")) name.drop(5).toIntOption.filter(_ >= 0)
    else None

  /** The byte length and CRC32C of a whole file. */
  private def checksum(p: Path): (Long, Int) =
    Using.resource(new CheckedInputStream(Files.newInputStream(p), new CRC32C)) { in =>
      val len = in.transferTo(OutputStream.nullOutputStream())
      (len, in.getChecksum.getValue.toInt)
    }

  /** A slot record: payload length, payload (the id, then one segment
    * line per segment, UTF-8), CRC32 of the payload.
    */
  private def encode(h: Head): Array[Byte] = {
    val payload = (h.id.toString +: h.segments.map(_.line)).mkString("\n")
      .getBytes(StandardCharsets.UTF_8)
    val crc = new CRC32
    crc.update(payload)
    ByteBuffer.allocate(payload.length + 8).putInt(payload.length)
      .put(payload).putInt(crc.getValue.toInt).array()
  }

  /** The record a slot holds, or None when it is torn or corrupt. A
    * segment line is `name length crc32c`, or a bare name (a directory
    * segment, or any slot of the earlier layout).
    */
  private def decode(bytes: Array[Byte]): Option[Head] = {
    val buf = ByteBuffer.wrap(bytes)
    if (bytes.length < 8) return None
    val n = buf.getInt()
    if (n < 0 || n > bytes.length - 8) return None
    val payload = new Array[Byte](n)
    buf.get(payload)
    val crc = new CRC32
    crc.update(payload)
    if (buf.getInt() != crc.getValue.toInt) return None
    new String(payload, StandardCharsets.UTF_8).split("\n").toSeq match {
      case first +: lines =>
        val segs = lines.map(Segment.parse)
        if (segs.exists(_.isEmpty)) None
        else first.toLongOption.map(Head(_, segs.flatten, None))
      case _ => None
    }
  }

  /** Wire the full pipeline: events → stateful updates → durable table.
    * `AvailableNow` drains-and-stops (batch/replay mode); pass a
    * processing-time trigger for a long-running service.
    */
  def sink(
      events: Dataset[MetagameEvent],
      table: AlertStateTable,
      ttlSeconds: Option[Long] = Some(5400L),
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[AlertUpdate] =
    AlertPipeline.updates(events, ttlSeconds)
      .writeStream.outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[AlertUpdate], _: Long) =>
        table.merge(batch.sparkSession, batch.toDF())
      }
}
