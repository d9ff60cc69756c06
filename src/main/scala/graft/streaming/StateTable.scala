package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
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
  * for free — re-derived here on bare parquet). `_CURRENT` atomically
  * points at a manifest file; the manifest lists segment directories in
  * application order. Each merge writes ONLY the batch's rows, as given,
  * as a new delta segment — O(|batch|) I/O, not O(|table|) — and readers
  * resolve last-writer-wins across and within segments. Once the manifest
  * exceeds `compactEvery` segments, the merge folds everything into a
  * fresh base segment, so read amplification is bounded and compaction
  * cost amortizes to |table|/compactEvery per batch.
  *
  * Crash safety: segments and manifests are immutable; `_CURRENT` swaps
  * via ATOMIC_MOVE, so a crash at any point leaves the previous manifest
  * fully readable. GC retains the previous manifest's segments for one
  * generation (delete N-2, not N-1): a reader that resolved `_CURRENT`
  * just before a swap still finds every file it planned.
  *
  * Files: a delta segment is ONE parquet file and a base is
  * `compactPartitions` key-ranged files, each beside its `.crc`; neither
  * carries a `_SUCCESS` marker, because the manifest plus the `_CURRENT`
  * swap is the commit record and nothing reads `_SUCCESS`. Every file a
  * merge writes is fsync'd and later deleted by GC, and on a filesystem
  * mounted with online discard each unlink of a synced file costs tens
  * of milliseconds (about 65 ms on ext4 with `discard`) while every
  * other fsync on the device waits behind it. So a delta is 3 directory
  * entries, not one file per writer task, and a base
  * `2 * compactPartitions + 1`.
  */
class AlertStateTable(path: String, compactEvery: Int = 8,
    retainGenerations: Int = 2, compactPartitions: Int = 8)
    extends Serializable {

  private def pointer: Path = Paths.get(path, "_CURRENT")

  private def manifestOf(name: String): Seq[String] = {
    val p = Paths.get(path, name)
    if (Files.exists(p))
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    else Seq.empty
  }

  private def currentManifestName: Option[String] =
    if (Files.exists(pointer))
      Some(new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8).trim)
        .filter(m => Files.exists(Paths.get(path, m)))
    else None

  /** Segment dirs (relative to `path`) of the current version, in
    * application order. Exposed for the cost-scaling spec.
    */
  def segmentDirs: Seq[String] =
    currentManifestName.map(manifestOf).getOrElse(Seq.empty)

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

  /** Segment rows as written, read with the table's schema: inferring it
    * would launch a footer-reading job per read.
    */
  private def readRows(spark: SparkSession, segs: Seq[String]): DataFrame =
    spark.read.schema(AlertStateTable.schema)
      .parquet(segs.map(s => s"$path/$s"): _*)

  private def readSegments(spark: SparkSession, segs: Seq[String]): DataFrame =
    if (segs.isEmpty) empty(spark)
    else resolve(readRows(spark, segs))

  /** All retained rows — live entries and tombstones, LWW-resolved. */
  def raw(spark: SparkSession): DataFrame =
    readSegments(spark, segmentDirs)

  /** Retained manifest versions, oldest → newest (time travel horizon =
    * `retainGenerations`; manifest names carry a zero-padded monotonic
    * version id derived from the directory, restart-safe).
    */
  def versions: Seq[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Seq.empty
    else Dirs.list(p).map(_.getFileName.toString)
      .filter(n => n.startsWith("m") && n != "_CURRENT").sorted
  }

  /** The table as of a retained manifest version — the lake-table time
    * travel the log+compact layout gives for free (Delta's `versionAsOf`
    * analog, bounded by the GC retention window).
    */
  def rawAt(spark: SparkSession, version: String): DataFrame =
    readSegments(spark, manifestOf(version))

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
    val fromSegs = manifestOf(fromVersion)
    val toSegs = manifestOf(toVersion)
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

  /** Next version id: one past the highest id any existing manifest or
    * segment carries. Derived from the DIRECTORY, not a clock —
    * `System.nanoTime` has an arbitrary per-boot origin, so clock-named
    * versions would sort wrongly after a restart of a persistent table.
    * Zero-padded to fixed width so lexicographic order IS numeric order.
    */
  private def nextId(): Long = {
    val p = Paths.get(path)
    val ids = if (!Files.exists(p)) Seq.empty[Long]
      else Dirs.list(p).map(_.getFileName.toString)
        .collect { case n if n.length > 1 && (n.head == 'm' || n.head == 's') =>
          n.drop(1).takeWhile(_.isDigit) }
        .filter(_.nonEmpty).map(_.toLong)
    (ids :+ 0L).max + 1
  }

  private def pad(id: Long): String = f"$id%018d"

  /** The write option that, set to "false", stops the committer leaving
    * a `_SUCCESS` file in a segment.
    */
  private val noMarker = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

  /** fsync every file in a freshly-written segment directory, then the
    * directory itself: Spark's local-FS parquet writer never forces the
    * part files to disk, so without this a POWER loss could leave the
    * durable pointer referencing a segment whose data blocks were lost —
    * the manifest/pointer fsyncs below only cover the metadata chain.
    * Same best-effort contract as [[FilePublisher.syncFile]].
    */
  private def syncSegment(seg: String): Unit = {
    val d = Paths.get(path, seg)
    Dirs.list(d).filter(Files.isRegularFile(_))
      .foreach(FilePublisher.syncFile)
    FilePublisher.syncDir(d.toFile)
  }

  /** Merge one batch of updates into the table: write the batch as a new
    * delta segment (cost scales with the batch), fold into a fresh base
    * only when the segment count reaches `compactEvery`.
    *
    * The batch's plan runs exactly once, as the segment write: a
    * streaming batch's state-store version commits inside that action,
    * so it must run even when it yields no rows, and a second action
    * would recompute the whole stateful stage. The write counts its own
    * rows; an empty segment is deleted before any manifest is written.
    * The batch is written unresolved: readers and compaction resolve
    * last-writer-wins, so a duplicate id inside one segment is harmless.
    * It is written as one file, with no `_SUCCESS` marker (see the class
    * doc for why the file count matters).
    */
  def merge(spark: SparkSession, updates: DataFrame): Unit = synchronized {
    val prevManifest = currentManifestName
    val segs = prevManifest.map(manifestOf).getOrElse(Seq.empty)
    val id = nextId()
    val delta = s"s${pad(id)}d"
    val rows = Observation()
    updates
      .select(AlertStateTable.schema.fieldNames.toIndexedSeq.map(col): _*)
      .coalesce(1)
      .observe(rows, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).option(noMarker, "false")
      .parquet(s"$path/$delta")
    // the count arrives through the session's listener bus, which drops
    // events when its queue overflows: wait a bounded time, and without
    // a count keep the segment (an empty write still leaves a readable
    // footer-only file) rather than stall the stream
    val written =
      try Some(Await.result(rows.future, 1.minute).getAs[Long]("rows"))
      catch { case _: TimeoutException => None }
    if (written.contains(0L)) {
      deleteRecursively(Paths.get(path, delta))
      return
    }
    syncSegment(delta)
    val newSegs =
      if (segs.length + 1 >= compactEvery) {
        val base = s"s${pad(id)}b"
        // key-RANGE the compacted output: `compactPartitions` writer
        // tasks each own a contiguous id range, so a 100× key space
        // compacts as parallel files instead of funneling the whole
        // table through one writer task — compaction wall-clock scales
        // with the cluster, and each output file covers a disjoint key
        // interval (a range-predicate reader can skip files via parquet
        // min/max on id). Ranging BEFORE the resolve lets its window
        // reuse the range partitioning: one shuffle, not two.
        resolve(readRows(spark, segs :+ delta)
          .repartitionByRange(compactPartitions, col("id")))
          .write.mode(SaveMode.Overwrite).option(noMarker, "false")
          .parquet(s"$path/$base")
        syncSegment(base)
        Seq(base)
      } else segs :+ delta
    // immutable manifest file, then atomic pointer swap; each write is
    // fsync'd and the directory is fsync'd after the swap so a POWER
    // loss (not just a process crash) can't forget an acknowledged merge
    // while the streaming checkpoint survives
    val manifest = s"m${pad(id)}"
    val manifestPath = Paths.get(path, manifest)
    Files.write(manifestPath,
      newSegs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    FilePublisher.syncFile(manifestPath)
    val tmp = Paths.get(path, "_CURRENT.tmp")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    FilePublisher.syncFile(tmp)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    FilePublisher.syncDir(Paths.get(path).toFile)
    // retain the newest `retainGenerations` manifests (always including
    // the one just swapped in and its predecessor): racing readers keep
    // their planned files, and rawAt() can time-travel the window
    val retained = versions.takeRight(math.max(retainGenerations, 2)).toSet
    gc(keepManifests = retained ++ Set(manifest) ++ prevManifest)
  }

  /** Drop manifests and segments unreachable from the retained manifest
    * generations. Also sweeps orphans from merges that crashed between
    * segment write and pointer swap.
    */
  private def gc(keepManifests: Set[String]): Unit = {
    val keepSegs = keepManifests.flatMap(manifestOf)
    Dirs.list(Paths.get(path)).foreach { p =>
      val name = p.getFileName.toString
      val stale =
        (name.startsWith("m") && !keepManifests.contains(name)) ||
        (name.startsWith("s") && !keepSegs.contains(name))
      if (stale) deleteRecursively(p)
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
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
