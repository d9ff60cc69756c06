package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.model.MetagameEvent
import graft.streaming.{AlertStateTable, AlertUpdate}

/** The durable foreachBatch-merge state table: create → count → remove →
  * count across micro-batches (the reference's simulate_alert harness
  * against the lake-table backend), plus idempotent re-merge.
  */
class StateTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ev(id: String, state: String, ts: Double): MetagameEvent =
    MetagameEvent(id, 1, state, 17, 1, 40, 30, 20, 25, ts)

  test("create -> count -> remove -> count across micro-batches") {
    val dir = Files.createTempDirectory("alert_table").toString
    val table = new AlertStateTable(dir)
    val mem = MemoryStream[MetagameEvent](spark)

    mem.addData(Seq(ev("17-1", "started", 1000), ev("19-2", "started", 1100)))
    val q1 = AlertStateTable.sink(mem.toDS(), table, ttlSeconds = None).start()
    try q1.awaitTermination() finally q1.stop()
    assert(table.snapshot(spark).count() == 2)

    mem.addData(Seq(ev("17-1", "ended", 2000)))
    val q2 = AlertStateTable.sink(mem.toDS(), table, ttlSeconds = None).start()
    try q2.awaitTermination() finally q2.stop()
    val live = table.snapshot(spark).select("id").as[String].collect().toSet
    assert(live == Set("19-2"))
  }

  test("late older started does not resurrect a removed key in the table") {
    val dir = Files.createTempDirectory("alert_table3").toString
    val table = new AlertStateTable(dir)
    table.merge(spark, Seq(AlertUpdate("17-1", "removed", 2, 17, 2000.0)).toDF())
    // a retried/late batch delivers the original (older) live update
    table.merge(spark, Seq(AlertUpdate("17-1", "live", 1, 17, 1000.0)).toDF())
    assert(table.snapshot(spark).count() == 0,
      "tombstone must outrank the older live update")
    // the same race inside ONE batch, with more duplicate ids: the delta
    // segment keeps every row, and both reads and the compaction that
    // folds it into a base equal the last-writer-wins fold
    val oneDir = Files.createTempDirectory("alert_table3b").toString
    val one = new AlertStateTable(oneDir, compactEvery = 2)
    val batch = Seq(AlertUpdate("17-1", "removed", 2, 17, 2000.0),
      AlertUpdate("17-1", "live", 1, 17, 1000.0),
      AlertUpdate("19-2", "live", 3, 19, 1500.0),
      AlertUpdate("19-2", "live", 4, 19, 1500.0),
      AlertUpdate("13-9", "live", 5, 13, 3000.0),
      AlertUpdate("13-9", "expired", 5, 13, 3000.0))
    // newest (timestamp, eventId) per id; a non-live status wins a dead tie
    def fold(us: Seq[AlertUpdate]): Set[AlertUpdate] =
      us.groupBy(_.id).values.map(_.maxBy(u =>
        (u.timestamp, u.eventId, if (u.status == "live") 0 else 1))).toSet
    def rows = one.raw(spark).as[AlertUpdate].collect().toSet
    def segRows = spark.read.parquet(s"$oneDir/${one.segmentDirs.last}").count()
    one.merge(spark, batch.toDF())
    assert(segRows == batch.length)
    assert(rows == fold(batch))
    val later = AlertUpdate("11-4", "live", 7, 11, 4000.0)
    one.merge(spark, Seq(later).toDF())
    assert(one.segmentDirs.length == 1 && one.segmentDirs.head.endsWith("b"))
    assert(segRows == 4)
    assert(rows == fold(batch :+ later))
  }

  test("merge cost scales with the batch, not the table") {
    val dir = Files.createTempDirectory("alert_table4").toString
    val table = new AlertStateTable(dir)
    val seed = (1 to 2000)
      .map(i => AlertUpdate(s"k-$i", "live", i, 17, 1000.0 + i))
    table.merge(spark, seed.toDF())
    table.merge(spark, (1 to 5)
      .map(i => AlertUpdate(s"k-$i", "removed", 90000 + i, 17, 90000.0 + i))
      .toDF())
    val segs = table.segmentDirs
    assert(segs.length == 2, s"expected base + one delta, got $segs")
    // the delta segment holds ONLY the batch's keys — per-batch I/O is
    // O(|batch|), unlike the round-1 full-table rewrite
    assert(spark.read.parquet(s"$dir/${segs.last}").count() == 5)
    assert(table.snapshot(spark).count() == 1995)
  }

  test("compaction bounds the segment count and preserves state") {
    val dir = Files.createTempDirectory("alert_table5").toString
    val table = new AlertStateTable(dir, compactEvery = 3)
    (1 to 7).foreach { i =>
      table.merge(spark,
        Seq(AlertUpdate(s"k-$i", "live", i, 17, 1000.0 + i)).toDF())
      assert(table.segmentDirs.length < 3,
        s"merge $i left ${table.segmentDirs.length} segments")
    }
    assert(table.snapshot(spark).count() == 7)
    // only files reachable from the retained manifests remain on disk
    val onDisk = new java.io.File(dir).list().count(_.startsWith("s"))
    assert(onDisk <= table.segmentDirs.length + 3,
      s"stale segments not GC'd: $onDisk on disk")
  }

  test("compaction writes key-ranged parallel files, reads unchanged") {
    val dir = Files.createTempDirectory("alert_table_kr").toString
    val table = new AlertStateTable(dir, compactEvery = 2, compactPartitions = 4)
    // enough distinct keys that every one of the 4 ranges is non-empty;
    // several merges so compaction has definitely run
    (1 to 3).foreach { gen =>
      table.merge(spark, (1 to 40).map(i =>
        AlertUpdate(f"k-$i%03d", if (i % 5 == 0) "dead" else "live",
          gen * 100 + i, 17, 1000.0 * gen + i)).toDF())
    }
    // the current generation is one compacted base segment...
    val segs = table.segmentDirs
    assert(segs.length == 1 && segs.head.endsWith("b"),
      s"expected a single compacted base, got $segs")
    // ...made of MULTIPLE key-ranged part files (a 100x key space
    // compacts in parallel, not through one writer task)
    val parts = new java.io.File(s"$dir/${segs.head}")
      .listFiles().filter(f => f.getName.startsWith("part-"))
    assert(parts.length == 4,
      s"expected 4 key-ranged files, got ${parts.map(_.getName).toSeq}")
    // files cover DISJOINT key intervals: per-file id ranges must not
    // overlap (this is what lets a range-predicate reader skip files)
    val ranges = parts.sortBy(_.getName).map { f =>
      val ids = spark.read.parquet(f.getPath)
        .select("id").as[String].collect().sorted
      (ids.head, ids.last)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping key ranges: $ranges")
      case _ => ()
    }
    // and the resolved state is exactly what the merges said
    assert(table.snapshot(spark).count() == 32) // 40 keys - 8 dead
    assert(table.raw(spark).count() == 40)
    val k7 = table.snapshot(spark)
      .filter(org.apache.spark.sql.functions.col("id") === "k-007")
      .select("eventId").as[Int].collect()
    assert(k7.toSeq == Seq(307), "newest generation must win per key")
  }

  /** The file names of one segment directory. */
  private def segFiles(dir: String, seg: String): Seq[String] =
    new java.io.File(s"$dir/$seg").list().toSeq.sorted

  test("a delta segment is one part file, a base compactPartitions, neither with _SUCCESS") {
    val dir = Files.createTempDirectory("alert_table_files").toString
    val table = new AlertStateTable(dir, compactEvery = 3, compactPartitions = 4)
    val batch = (gen: Int) => (1 to 40).map(i => AlertUpdate(f"k-$i%03d",
      "live", gen * 100 + i, 17, 1000.0 * gen + i)).toDF()
      .repartition(4) // several writer tasks upstream of the segment write
    table.merge(spark, batch(1))
    val delta = table.segmentDirs.last
    assert(delta.endsWith("d"))
    val files = segFiles(dir, delta)
    val part = files.filter(_.startsWith("part-"))
    assert(part.length == 1 && files == Seq(s".${part.head}.crc", part.head),
      s"a delta is one part file and its checksum: $files")
    (2 to 3).foreach(g => table.merge(spark, batch(g)))
    val base = table.segmentDirs.head
    assert(table.segmentDirs.length == 1 && base.endsWith("b"))
    val baseFiles = segFiles(dir, base)
    assert(baseFiles.count(_.startsWith("part-")) == 4 &&
      baseFiles.length == 8, s"a base is 4 part files and checksums: $baseFiles")
  }

  test("only a compaction and the merge after it free directory entries: at most 24 a cycle, and the default base is one file") {
    val dir = Files.createTempDirectory("alert_table_freed")
    val table = new AlertStateTable(dir.toString)
    def tree: Set[String] = scala.util.Using.resource(Files.walk(dir))(
      _.iterator().asScala.map(dir.relativize(_).toString).toSet)
    def key(p: java.nio.file.Path) = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    def slotKeys = graft.io.Dirs.list(dir)
      .filter(_.getFileName.toString.startsWith("_HEAD")).map(p => p -> key(p))
    // seven keys over four writer tasks, so a multi-file base could form
    val freed = (1 to 22).map { g =>
      val before = tree
      val keys = slotKeys
      table.merge(spark, (0 until 7).map(i => AlertUpdate(s"k-$i", "live",
        g * 10 + i, 17, 1000.0 * g + i)).toDF().repartition(4))
      // a slot is overwritten in place, never replaced
      keys.foreach { case (p, k) => assert(key(p) == k, s"$p was replaced") }
      (before -- tree).size
    }
    // compactEvery 8: merges 8, 15 and 22 compact (each frees only its
    // unsynced delta); 9 and 16 free the compacted segments
    val compacting = Set(8, 15, 22)
    val after = compacting.map(_ + 1)
    freed.zipWithIndex.foreach { case (n, i) =>
      if (!compacting(i + 1) && !after(i + 1))
        assert(n == 0, s"merge ${i + 1} freed $n entries")
    }
    Seq(9 to 15, 16 to 22).foreach { cycle =>
      val n = cycle.map(m => freed(m - 1)).sum
      assert(n <= 24, s"merges $cycle freed $n entries: $freed")
    }
    val base = table.segmentDirs.head
    val files = segFiles(dir.toString, base)
    assert(table.segmentDirs == Seq(base) && base.endsWith("b") &&
      files.length == 2 && files.count(_.startsWith("part-")) == 1,
      s"the default base is one part file and its checksum: $files")
    assert(table.snapshot(spark).count() == 7)
  }

  test("snapshot, rawAt and changesBetween are unchanged across a compaction") {
    // the same merges into a table that compacts every 3 and one that
    // never does: every read of every version must agree
    val compacting = new AlertStateTable(
      Files.createTempDirectory("alert_table_cmp").toString,
      compactEvery = 3, retainGenerations = 10)
    val flat = new AlertStateTable(
      Files.createTempDirectory("alert_table_flat").toString,
      compactEvery = 100, retainGenerations = 10)
    val batches = (1 to 7).map(g => (1 to 12).map { i =>
      val k = (g * 5 + i) % 20
      AlertUpdate(s"k-$k", if ((g + i) % 4 == 0) "removed" else "live",
        g * 100 + i, k, 1000.0 * g + i)
    })
    batches.foreach { b =>
      compacting.merge(spark, b.toDF())
      flat.merge(spark, b.toDF())
    }
    assert(compacting.versions == flat.versions && flat.versions.length == 7)
    assert(compacting.segmentDirs.length < 3 && flat.segmentDirs.length == 7)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(compacting.snapshot(spark)) == rows(flat.snapshot(spark)))
    val vs = flat.versions
    vs.foreach(v =>
      assert(rows(compacting.rawAt(spark, v)) == rows(flat.rawAt(spark, v)), v))
    // every step, and the whole window (both cross compactions)
    (vs.sliding(2).map(w => (w(0), w(1))).toSeq :+ ((vs.head, vs.last)))
      .foreach { case (a, b) =>
        assert(rows(compacting.changesBetween(spark, a, b)) ==
          rows(flat.changesBetween(spark, a, b)), s"$a -> $b")
      }
  }

  test("merges hold no file descriptors open") {
    val dir = Files.createTempDirectory("alert_table_fds").toString
    val table = new AlertStateTable(dir)
    val merge = (g: Int) => table.merge(spark,
      Seq(AlertUpdate(s"k-${g % 7}", "live", g, 17, 1000.0 + g)).toDF())
    def openFds = new java.io.File("/proc/self/fd").list().length
    (1 to 5).foreach(merge) // warm up the writer
    val before = openFds
    (6 to 55).foreach(merge)
    val grown = openFds - before
    assert(grown <= 20, s"50 merges left $grown more file descriptors open")
  }

  test("a reader planned before a merge survives the swap (one-generation retention)") {
    val dir = Files.createTempDirectory("alert_table6").toString
    val table = new AlertStateTable(dir)
    table.merge(spark, Seq(AlertUpdate("17-1", "live", 1, 17, 1000.0)).toDF())
    val reader = table.raw(spark) // plans (lists files of) version N
    table.merge(spark, Seq(AlertUpdate("19-2", "live", 2, 19, 2000.0)).toDF())
    // version N's segments must still exist: collect() reads the old files
    assert(reader.count() == 1)
  }

  test("time travel: rawAt reads a retained earlier version") {
    val dir = Files.createTempDirectory("alert_table7").toString
    val table = new AlertStateTable(dir, retainGenerations = 3)
    table.merge(spark, Seq(AlertUpdate("17-1", "live", 1, 17, 1000.0)).toDF())
    table.merge(spark, Seq(AlertUpdate("19-2", "live", 2, 19, 2000.0)).toDF())
    table.merge(spark, Seq(AlertUpdate("17-1", "removed", 3, 17, 3000.0)).toDF())
    val vs = table.versions
    assert(vs.length == 3, s"3 merges with retainGenerations=3: $vs")
    def liveAt(v: String) = table.rawAt(spark, v)
      .filter("status = 'live'").select("id").as[String].collect().toSet
    assert(liveAt(vs(0)) == Set("17-1"))
    assert(liveAt(vs(1)) == Set("17-1", "19-2"))
    assert(liveAt(vs(2)) == Set("19-2"))
    // a fourth merge rolls the oldest version out of the window
    table.merge(spark, Seq(AlertUpdate("13-9", "live", 4, 13, 4000.0)).toDF())
    assert(table.versions.length == 3 && !table.versions.contains(vs(0)))
  }

  test("version ids stay monotonic across table instances (restart safety)") {
    val dir = Files.createTempDirectory("alert_table8").toString
    val t1 = new AlertStateTable(dir, retainGenerations = 4)
    t1.merge(spark, Seq(AlertUpdate("17-1", "live", 1, 17, 1000.0)).toDF())
    t1.merge(spark, Seq(AlertUpdate("19-2", "live", 2, 19, 2000.0)).toDF())
    val before = t1.versions
    // a NEW instance on the same path (process restart): its version ids
    // must continue after the existing ones, not restart from a clock
    val t2 = new AlertStateTable(dir, retainGenerations = 4)
    t2.merge(spark, Seq(AlertUpdate("13-9", "live", 3, 13, 3000.0)).toDF())
    val after = t2.versions
    assert(after.take(before.length) == before,
      "pre-restart versions must still sort first")
    assert(after.last > before.last, "new version must sort newest")
    assert(t2.snapshot(spark).count() == 3)
  }

  test("registry stream_inprogress routes through the durable table and equals the batch query") {
    val sf = SparkTestSession.sf
    val streamed = SparkEntry.queries("stream_inprogress")(spark, sf)
      .as[(Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    // confluence: the stateful streaming path must agree with the
    // declarative batch window query (they share a DuckDB oracle)
    val batch = SparkEntry.queries("k23_inprogress_set")(spark, sf)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    // and the registry query must leave NO driver-side memory-sink
    // table behind — the durable AlertStateTable is the sink now, and
    // its published live snapshot is what the query returns
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_")),
      "stream_inprogress must not register a memory-sink table")
    val tables = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_inprog_${ProcessHandle.current().pid()}")
    assert(java.nio.file.Files.exists(tables),
      "expected the durable table dir for this process")
    val raw = new AlertStateTable(
      graft.io.Dirs.list(tables).head.resolve("table").toString)
      .snapshot(spark)
      .select(org.apache.spark.sql.functions.col("id").cast("long"),
        org.apache.spark.sql.functions.col("eventId").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(raw == streamed,
      "the registry result must BE the durable table's live snapshot")
  }

  test("re-merging the same updates is a no-op (at-least-once safety)") {
    val dir = Files.createTempDirectory("alert_table2").toString
    val table = new AlertStateTable(dir)
    val updates = Seq(
      AlertUpdate("17-1", "live", 1, 17, 1000.0),
      AlertUpdate("19-2", "removed", 2, 19, 1100.0)).toDF()
    table.merge(spark, updates)
    val first = table.snapshot(spark).collect().map(_.toString).sorted
    table.merge(spark, updates) // redelivery
    val second = table.snapshot(spark).collect().map(_.toString).sorted
    assert(first.sameElements(second))
    assert(first.length == 1)
    // an empty batch is a no-op too: no version, no segment, no orphan
    val before = layout(table, dir)
    table.merge(spark, Seq.empty[AlertUpdate].toDF())
    assert(layout(table, dir) == before)
  }

  /** (versions, segmentDirs, every `s*` directory on disk). */
  private type Layout = (Seq[String], Seq[String], Seq[String])
  private def layout(table: AlertStateTable, dir: String): Layout =
    (table.versions, table.segmentDirs,
      new java.io.File(dir).list().filter(_.startsWith("s")).sorted.toSeq)

  test("a no-data watermark batch from the sink leaves the table untouched") {
    val dir = Files.createTempDirectory("alert_table_nodata").toString
    val layouts = scala.collection.mutable.ArrayBuffer.empty[(Layout, Layout)]
    val table = new AlertStateTable(dir) {
      override def merge(s: org.apache.spark.sql.SparkSession,
          updates: org.apache.spark.sql.DataFrame): Unit = {
        val before = layout(this, dir)
        super.merge(s, updates)
        layouts += ((before, layout(this, dir)))
      }
    }
    val mem = MemoryStream[MetagameEvent](spark)
    mem.addData(Seq(ev("17-1", "started", 1000), ev("19-2", "started", 1100)))
    // TTL on: the watermark advance schedules a no-data batch, whose
    // update set is empty (nothing is old enough to expire)
    val q = AlertStateTable.sink(mem.toDS(), table, ttlSeconds = Some(5400L))
      .start()
    try q.awaitTermination() finally q.stop()
    val inputs = q.recentProgress.toSeq.map(_.numInputRows)
    assert(inputs == Seq(2L, 0L), s"expected a data then a no-data batch: $inputs")
    assert(layouts.length == 2)
    assert(layouts(0)._1 != layouts(0)._2, "the data batch must add a version")
    assert(layouts(1)._1 == layouts(1)._2,
      s"the no-data batch changed the table: ${layouts(1)}")
    assert(table.snapshot(spark).count() == 2)
  }
}
