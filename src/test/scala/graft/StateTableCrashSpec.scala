package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AlertStateTable, AlertUpdate}

/** The state table's durable protocol at every crash point: a merge stops
  * after each filesystem step (segment write, rename out of the staging
  * directory, file fsync, directory fsync, slot create, slot write,
  * delete) of a plain merge, a compacting merge, the merge that GCs a
  * compaction's inputs and the merge that adopts a table of the earlier
  * layout; a fresh instance on the same directory must then read an
  * acknowledged prefix, read no unreferenced segment, and sweep every
  * orphan at its next merge. A crash inside a Spark write is built by
  * hand. Each merge runs once, copying its directory after every step,
  * and single-row batches keep each case to a few Spark jobs.
  */
class StateTableCrashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A table that copies its directory to `at(k)` after its `k`-th
    * filesystem step: each copy is what a crash after that step leaves.
    */
  private final class Recording(dir: Path, at: Int => Path)
      extends AlertStateTable(dir.toString, compactEvery = 3) {
    var steps = 0
    override protected def fsStep(step: String)(run: => Unit): Unit = {
      run
      steps += 1
      copyTree(dir, at(steps))
    }
  }

  private def table(dir: Path, retain: Int = 2) =
    new AlertStateTable(dir.toString, compactEvery = 3, retainGenerations = retain)

  // one row each; at compactEvery 3, m1 and m2 are plain, m3 compacts
  // and m4 GCs m3's inputs
  private val batches = Seq(
    AlertUpdate("k-1", "live", 1, 1, 1000.0),
    AlertUpdate("k-2", "live", 2, 2, 2000.0),
    AlertUpdate("k-1", "removed", 3, 1, 3000.0),
    AlertUpdate("k-3", "live", 4, 3, 4000.0),
    AlertUpdate("k-2", "removed", 5, 2, 5000.0)).map(Seq(_))

  /** Newest row per id. */
  private def fold(us: Seq[AlertUpdate]): Set[AlertUpdate] =
    us.groupBy(_.id).values.map(_.maxBy(u => (u.timestamp, u.eventId))).toSet

  /** The table after the first `n` batches. */
  private def expected(n: Int): Set[AlertUpdate] = fold(batches.take(n).flatten)

  private def rows(t: AlertStateTable): Set[AlertUpdate] =
    t.raw(spark).as[AlertUpdate].collect().toSet

  private def merge(t: AlertStateTable, n: Int): Unit =
    t.merge(spark, batches(n).toDF())

  private def names(dir: Path): Seq[String] =
    graft.io.Dirs.list(dir).map(_.getFileName.toString).sorted

  private def copyTree(from: Path, to: Path): Unit =
    Using.resource(Files.walk(from))(_.iterator().asScala.toList).foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  /** The current version reads exactly the segments its head names, and
    * every retained version is readable: no orphan is read, no named
    * segment is missing.
    */
  private def readsOnlyReferenced(t: AlertStateTable, dir: Path): Unit = {
    assert(segmentsOf(dir, t.raw(spark)).toSet == t.segmentDirs.toSet,
      s"the current version reads outside ${t.segmentDirs}")
    t.versions.foreach(v => segmentsOf(dir, t.rawAt(spark, v)))
  }

  /** The table-directory entries (segment files or directories) a read
    * plans files from.
    */
  private def segmentsOf(dir: Path, df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.inputFiles.toSeq
      .map(f => dir.toRealPath().relativize(Paths.get(new java.net.URI(f)).toRealPath())
        .getName(0).toString)
      .distinct

  /** Nothing on disk but the slots and the retained versions' segments. */
  private def noOrphans(t: AlertStateTable, dir: Path): Unit = {
    val named = t.versions.flatMap(v => segmentsOf(dir, t.rawAt(spark, v))).toSet
    val onDisk = names(dir)
    assert(onDisk.filter(_.startsWith("s")).toSet == named,
      s"orphans left: $onDisk, named $named")
    assert(onDisk.forall(n => n.startsWith("s") || n.startsWith("_HEAD")),
      s"unexpected entries: $onDisk")
  }

  /** Every file under `dir` by relative path, with its bytes. */
  private def tree(dir: Path): Seq[(String, Seq[Byte])] =
    Using.resource(Files.walk(dir))(_.iterator().asScala.toList)
      .filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .sortBy(_._1)

  /** Run merge `j` (batch index) from the acknowledged directory `start`
    * and check every point where it can stop: a fresh table there reads
    * an acknowledged prefix and only referenced segments, and the
    * redelivered batch's merge acknowledges it and leaves no orphan. A
    * step that leaves the same files as the one before (an fsync) is
    * checked once. Returns the merge's step count and the directory it
    * completed in.
    */
  private def everyCrashPoint(root: Path, start: Path, j: Int): (Int, Path) = {
    val at = (k: Int) => root.resolve(s"m${j + 1}_k$k")
    val run = root.resolve(s"m${j + 1}")
    copyTree(start, run)
    copyTree(start, at(0))
    val rec = new Recording(run, at)
    merge(rec, j)
    val trees = (0 until rec.steps).map(k => tree(at(k)))
    (0 until rec.steps).filter(k => k == 0 || trees(k) != trees(k - 1))
      .foreach { k =>
        val fresh = table(at(k))
        val got = rows(fresh)
        assert(got == expected(j) || got == expected(j + 1),
          s"merge ${j + 1} stopped after step $k: $got is no acknowledged prefix")
        readsOnlyReferenced(fresh, at(k))
        // the stream redelivers the batch that did not acknowledge
        merge(fresh, j)
        assert(rows(fresh) == expected(j + 1), s"merge ${j + 1}, step $k")
        noOrphans(fresh, at(k))
      }
    (rec.steps, run)
  }

  test("a merge stopped after any filesystem step leaves an acknowledged prefix, and the next merge sweeps its orphans") {
    val root = Files.createTempDirectory("alert_crash")
    var start = Files.createDirectories(root.resolve("empty"))
    val steps = (0 to 3).map { j =>
      val (n, done) = everyCrashPoint(root, start, j)
      start = done
      n
    }
    // a plain merge: write into the staging directory, rename the part
    // file out, delete the staging .crc and directory, fsync the segment
    // file, sync the table directory, then create, write and dir-sync a
    // new slot (m1, m2) or overwrite an existing one; a compacting merge
    // adds the delta write before its base's and the three deletes of
    // the delta's staging directory; the GC after it deletes two
    // one-file deltas
    assert(steps == Seq(9, 9, 11, 9), steps)
  }

  test("a crash inside a Spark write leaves a staging directory that is never read and the next merge sweeps") {
    val dir = Files.createTempDirectory("alert_crash_write")
    val t = table(dir)
    merge(t, 0)
    merge(t, 1)
    // the third merge's write stopped mid-task: a committed part file cut
    // short and an attempt's truncated file under `_temporary`
    val whole = Files.readAllBytes(dir.resolve(t.segmentDirs.last))
    val cut = java.util.Arrays.copyOf(whole, whole.length / 2)
    val stage = dir.resolve(seg(3) + "w")
    val attempt = Files.createDirectories(stage.resolve(
      "_temporary/0/_temporary/attempt_202601010000_0003_m_000000_3"))
    Files.write(attempt.resolve("part-00000-3.snappy.parquet"), cut)
    Files.write(stage.resolve("part-00000-2.snappy.parquet"), cut)
    val fresh = table(dir)
    assert(rows(fresh) == expected(2))
    readsOnlyReferenced(fresh, dir)
    merge(fresh, 2)
    assert(rows(fresh) == expected(3))
    assert(!Files.exists(stage), s"the staging directory stays: ${names(dir)}")
    noOrphans(fresh, dir)
    assert(rows(table(dir)) == expected(3))
  }

  test("garbage in the newest slot: the table reads the previous version") {
    val dir = Files.createTempDirectory("alert_crash_torn")
    val t = table(dir)
    merge(t, 0)
    merge(t, 1)
    val slots = names(dir).filter(_.startsWith("_HEAD"))
    assert(slots == Seq("_HEAD0", "_HEAD1"))
    val older = t.versions.head
    // the second merge wrote the second slot
    Files.write(dir.resolve("_HEAD1"),
      "not a version record".getBytes(StandardCharsets.UTF_8))
    val fresh = table(dir)
    assert(fresh.versions == Seq(older))
    assert(rows(fresh) == expected(1))
    // the next merge takes the unreadable slot and sweeps the lost
    // version's segment
    merge(fresh, 2)
    assert(rows(fresh) == fold(batches(0) ++ batches(2)))
    assert(fresh.versions.length == 2 && fresh.versions.head == older)
    noOrphans(fresh, dir)
  }

  test("a reopen with another retainGenerations finds the newest version in any slot") {
    val dir = Files.createTempDirectory("alert_crash_retain")
    val wide = table(dir, retain = 4)
    (0 until 4).foreach(merge(wide, _))
    assert(names(dir).count(_.startsWith("_HEAD")) == 4)
    val newest = wide.versions.last
    // the newest version sits in _HEAD3, a slot the narrow table never writes
    val narrow = table(dir, retain = 2)
    assert(narrow.versions.last == newest)
    assert(rows(narrow) == expected(4))
    merge(narrow, 4)
    assert(rows(narrow) == expected(5))
    merge(narrow, 4)
    assert(rows(narrow) == expected(5))
    // two merges later, the extra slots are gone and two versions remain
    assert(names(dir).filter(_.startsWith("_HEAD")) == Seq("_HEAD0", "_HEAD1"))
    assert(narrow.versions.length == 2)
    noOrphans(narrow, dir)
    val again = table(dir, retain = 4)
    assert(again.versions == narrow.versions && rows(again) == expected(5))
  }

  private val seg = (i: Int) => f"s$i%018dd"
  private val man = (i: Int) => f"m$i%018d"

  /** A table of the earlier layout after batches 0 and 1, built by hand
    * once: two delta segments, a manifest per version and a pointer to
    * the newest.
    */
  private lazy val oldLayout: Path = {
    val dir = Files.createTempDirectory("alert_crash_old")
    (0 until 2).foreach(i => batches(i).toDF().coalesce(1).write
      .parquet(dir.resolve(seg(i + 1)).toString))
    def put(name: String, body: String): Unit =
      Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8))
    put(man(1), seg(1))
    put(man(2), s"${seg(1)}\n${seg(2)}")
    put("_CURRENT", man(2))
    dir
  }

  private def copyOfOldLayout(): Path = {
    val dir = Files.createTempDirectory("alert_crash_adopt")
    copyTree(oldLayout, dir)
    dir
  }

  test("a table of the earlier _CURRENT-and-manifest layout is adopted, not collected") {
    val dir = copyOfOldLayout()
    val t = table(dir)
    assert(t.versions == Seq(man(2)))
    assert(t.segmentDirs == Seq(seg(1), seg(2)))
    assert(rows(t) == expected(2))
    merge(t, 2) // compacts: the old segments are read, not lost
    assert(rows(t) == expected(3))
    assert(t.versions == Seq(man(2), man(3)))
    assert(!names(dir).exists(n => n.startsWith("m") || n.startsWith("_CURRENT")),
      s"the earlier layout's pointer and manifests stay: ${names(dir)}")
    assert(Files.exists(dir.resolve(seg(1))),
      "the adopted version is retained for one generation")
    assert(rows(table(dir)) == expected(3))
    merge(t, 3)
    assert(rows(t) == expected(4) && rows(table(dir)) == expected(4))
    noOrphans(t, dir)
  }

  test("the merge that adopts the earlier layout leaves an acknowledged prefix at every crash point") {
    val root = Files.createTempDirectory("alert_crash_adopt_steps")
    val (steps, _) = everyCrashPoint(root, oldLayout, 2)
    // write the delta; create, write and dir-sync _HEAD0 with the adopted
    // version; the compaction's base write, rename, staging deletes (2),
    // fsync and directory sync; create, write and dir-sync _HEAD1; delete
    // the unsynced delta's staging directory (3), the pointer and both
    // manifests
    assert(steps == 19, steps)
  }

  test("an earlier-layout table whose first slot is empty or garbage reads its manifest, and the next merge keeps its segments") {
    Seq(Array.emptyByteArray,
        "not a version record".getBytes(StandardCharsets.UTF_8)).foreach { torn =>
      val dir = copyOfOldLayout()
      Files.write(dir.resolve("_HEAD0"), torn)
      val t = table(dir)
      assert(t.versions == Seq(man(2)) && rows(t) == expected(2))
      merge(t, 2)
      assert(rows(t) == expected(3))
      assert(Files.exists(dir.resolve(seg(1))) && Files.exists(dir.resolve(seg(2))),
        s"the adopted version's segments were collected: ${names(dir)}")
      assert(rows(table(dir)) == expected(3))
      noOrphans(t, dir)
    }
  }
}
