package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of everything this library derives once and then
  * reuses: a named entry owns its key, its scope and its build, and is
  * declared once, next to its build code. Callers go through `apply`
  * (build or adopt); the bench, the scale rungs and the specs walk
  * [[builds]] and call `ensure`, which is true when that call did the
  * build.
  *
  *  - [[Shared]] (on disk): published under [[SharedArtifacts.root]]
  *    through the staging → `_READY` → rename protocol and adopted by
  *    any later session or process. The key fingerprints the source
  *    tables the entry declares plus its layout tag.
  *  - [[Memo]] (in memory): built once per process and dataset version
  *    into a run directory of its own. The key fingerprints EVERY table
  *    of the dataset plus the layout tag, so a kept result can never
  *    outlive a change to any input it read.
  *  - [[ReplayGroup]]: streaming faces replayed concurrently as one memo
  *    of their read-backs; a rerun forgets the group and the memos it
  *    declares it repays.
  */
private[graft] object Materialized {

  type Q = (SparkSession, String) => DataFrame

  sealed trait Entry {
    def name: String
    /** The tables of `d` the key fingerprints. */
    def tables(d: String): Seq[String]
    def key(d: String): String
    /** Build or adopt; true when this call did the build. */
    def ensure(s: SparkSession, d: String): Boolean
  }

  /** A shared artifact: `build` writes into a private staging directory
    * and the registry publishes it at `<root>/<prefix><key>`; `apply`
    * and `ensure` hand that directory to `adopt` (a read, a catalog
    * registration) and `apply` returns what it makes of it.
    */
  final class Shared[A] private[Materialized] (val name: String,
      prefix: String, layout: String, sources: Seq[String],
      adopt: (SparkSession, Path) => A,
      build: (SparkSession, String, Path) => Unit) extends Entry {
    def tables(d: String): Seq[String] = sources
    // the first source's fingerprint carries the layout and the others'
    // fingerprints, so any declared source's change rotates the key
    def key(d: String): String = SharedArtifacts.fingerprint(d, sources.head,
      layout + sources.tail.map(SharedArtifacts.fingerprint(d, _)).mkString)
    def base(d: String): Path = SharedArtifacts.root.resolve(prefix + key(d))
    def apply(s: SparkSession, d: String): A = publish(s, d)._1
    def ensure(s: SparkSession, d: String): Boolean = publish(s, d)._2

    private def publish(s: SparkSession, d: String): (A, Boolean) = {
      val base = this.base(d)
      val fresh = !SharedArtifacts.isReady(base)
      if (fresh) {
        val staging = SharedArtifacts.stagingFor(base)
        build(s, d, staging)
        SharedArtifacts.publish(staging, base)
      }
      // refresh the stale-sweep lease on every use, not just on build
      SharedArtifacts.markUsed(base)
      (adopt(s, base), fresh)
    }
  }

  /** Several entries timed as one bench item. */
  final class Together private[Materialized] (val name: String,
      val parts: Seq[Entry]) extends Entry {
    def tables(d: String): Seq[String] = parts.flatMap(_.tables(d)).distinct
    def key(d: String): String = parts.map(_.key(d)).mkString("+")
    def ensure(s: SparkSession, d: String): Boolean =
      parts.map(_.ensure(s, d)).contains(true)
  }

  /** A process-scope replay or build: `build` runs at most once per
    * key, into a run directory no other key's run ever trashes, and its
    * value (a path or path-backed view, never a session-bound frame) is
    * kept until [[forget]]. `adopts` names the shared entries the build
    * reads, for tools that pre-build them.
    */
  final class Memo[A] private[Materialized] (val name: String,
      val prefix: String, layout: String, adopts0: => Seq[Entry],
      build: (SparkSession, String, Path) => A) extends Entry {
    lazy val adopts: Seq[Entry] = adopts0
    def tables(d: String): Seq[String] = datasetTables(d)
    def key(d: String): String = processKey(name, layout, d)
    def apply(s: SparkSession, d: String): A = run(s, d)._1
    def ensure(s: SparkSession, d: String): Boolean = run(s, d)._2
    def forget(d: String): Unit = memos.remove(key(d))

    private def run(s: SparkSession, d: String): (A, Boolean) = {
      val k = key(d)
      memoized(k)(build(s, d, taggedRunDir(prefix, tagOf(k))))
    }
  }

  /** Streaming faces that share one replay bill: the first member
    * invoked runs every member concurrently on a small pool (the fixed
    * start/stop and checkpoint costs overlap instead of summing) and
    * keeps each read-back frame. A member failure fails the run and
    * keeps nothing, so the next invocation retries. Pool width 4: wide
    * enough to overlap every member's fixed costs, narrow enough that
    * the local cores still feed each query's own tasks.
    */
  final class ReplayGroup private[Materialized] (val group: String,
      members0: => Map[String, Q], repays0: => Seq[Memo[_]]) extends Entry {
    val name: String = s"stream_grp_$group"
    lazy val members: Map[String, Q] = members0
    /** Memos a member adopts that a [[rerun]] must pay for again. */
    lazy val repays: Seq[Memo[_]] = repays0
    def tables(d: String): Seq[String] = datasetTables(d)
    def key(d: String): String = processKey(name, "replaygrp:v3", d)
    def apply(s: SparkSession, d: String): Map[String, DataFrame] =
      memoized(key(d))(runAll(s, d))._1
    def ensure(s: SparkSession, d: String): Boolean =
      memoized(key(d))(runAll(s, d))._2
    /** The registry face of one member: its kept read-back. */
    def face(member: String): Q = (s, d) => apply(s, d)(member)

    /** Forget the group and the memos it repays, then run it again:
      * every member recomputes from a fresh run directory while the
      * shared stagings and unlisted memos are adopted.
      */
    def rerun(s: SparkSession, d: String): Unit = {
      memos.remove(key(d))
      repays.foreach(_.forget(d))
      apply(s, d)
    }

    private def runAll(s: SparkSession, d: String): Map[String, DataFrame] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(members.size, 4))
      val fs = members.toSeq.map { case (n, q) =>
        n -> pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = q(s, d)
        })
      }
      try {
        val out = fs.map { case (n, f) => n -> f.get() }.toMap
        pool.shutdown()
        out
      } catch { case e: Throwable =>
        // cancel the siblings and WAIT for the pool to drain: shutdown()
        // alone leaves their streaming queries running under a retry's
        // concurrent relaunch
        fs.foreach(_._2.cancel(true))
        pool.shutdown()
        pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
        throw e
      }
    }
  }

  def shared[A](name: String, prefix: String, layout: String,
      sources: String*)(adopt: (SparkSession, Path) => A)(
      build: (SparkSession, String, Path) => Unit): Shared[A] =
    new Shared(name, prefix, layout, sources, adopt, build)

  /** Adopt a shared artifact as its published `sub` parquet directory. */
  def parquet(sub: String): (SparkSession, Path) => DataFrame =
    (s, base) => s.read.parquet(base.resolve(sub).toString)

  /** Adopt a shared artifact as its published directory. */
  val dir: (SparkSession, Path) => Path = (_, base) => base

  def together(name: String)(parts: Seq[Entry]): Together =
    new Together(name, parts)

  def memo[A](name: String, prefix: String, layout: String,
      adopts: => Seq[Entry] = Nil)(
      build: (SparkSession, String, Path) => A): Memo[A] =
    new Memo(name, prefix, layout, adopts, build)

  def replayGroup(group: String, repays: => Seq[Memo[_]] = Nil)(
      members: => Map[String, Q]): ReplayGroup =
    new ReplayGroup(group, members, repays)

  /** Every build the bench charges to a named line item, in the order
    * its stdout line lists them: the shared artifacts and memoized
    * replays, then the replay groups by name.
    */
  lazy val builds: Seq[Entry] = Seq(
    Dedup.sigTables,
    Similarity.ivfArtifacts,
    Similarity.momentsBuild,
    Dedup.clusters,
    Similarity.kmAssign,
    Similarity.pqCodebook,
    Similarity.knnShared,
    Similarity.gnavShared,
    Similarity.gnavInsertRun,
    Similarity.gnavVacuumRun,
    StreamingQueries.sharedTfTable,
    StreamingQueries.lifecycleRun,
    StreamingQueries.lifecycleStreamRun,
    StreamingQueries.ccTakedownReplay,
    BucketedJoin.bucketedFacts,
    GraphOps.msfShared,
    // per-dataset stagings and shared stage-1 finalizations carry their
    // own items, so a min-over-reruns group timing can never discard
    // the one run that paid them
    StreamingQueries.eventStagings,
    StreamingQueries.hourlyStage,
    StreamingQueries.walkStage,
  ) ++ StreamingQueries.replayGroups.sortBy(_.name)

  /** Register an EXTERNAL bucketed table over already-written files —
    * how a fresh session adopts a prior job's bucketed artifact. The
    * schema comes from the parquet footers, so registration can never
    * drift from what was written.
    */
  def registerBucketed(s: SparkSession, name: String, path: Path,
      bucketCol: String, buckets: Int): Unit =
    if (!s.catalog.tableExists(name)) {
      val ddl = s.read.parquet(path.toString).schema.toDDL
      s.sql(s"""CREATE TABLE IF NOT EXISTS `$name` ($ddl) USING PARQUET
               |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
               |INTO $buckets BUCKETS
               |LOCATION '${path.toString}'""".stripMargin)
    }

  // ---- process memo ------------------------------------------------------

  private final class Cell { var value: Option[Any] = None }
  private val memos = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** The kept value for `key`, building it when absent; true when this
    * call built it. Builds run under the key's own lock, not the map's,
    * so a build may use other memos (a group's members adopt stage-1
    * memos on pool threads) and concurrent callers of one key wait for
    * the single build. A failed build keeps nothing.
    */
  private def memoized[A](key: String)(build: => A): (A, Boolean) = {
    val cell = memos.computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      cell.value match {
        case Some(v) => (v.asInstanceOf[A], false)
        case None =>
          val v = build
          cell.value = Some(v)
          (v, true)
      }
    }
  }

  /** Every table of dataset `d`: its `*.parquet` entries. */
  private[graft] def datasetTables(d: String): Seq[String] =
    Option(new java.io.File(d).list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).sorted

  private def processKey(name: String, layout: String, d: String): String =
    (Seq(name, layout) ++
      datasetTables(d).map(SharedArtifacts.fingerprint(d, _))).mkString(":")

  private def tagOf(key: String): String =
    "k" + java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  // ---- run directories ---------------------------------------------------

  /** A run directory `<tmpdir>/<prefix><pid>/<tag>-<n>`, with cleanup off
    * the query clock:
    *
    *  - this process's earlier `<tag>-*` runs under the prefix are
    *    renamed aside (O(1)) and deleted by a daemon thread; runs of any
    *    other tag are left alone. A face tags its run with its dataset
    *    path, so each invocation replaces its last run on that dataset
    *    while the runs behind another dataset's kept read-backs stay; a
    *    [[Memo]] tags its run with its key;
    *  - `<prefix><pid>` siblings of dead processes are reclaimed;
    *  - the pid keeps concurrent processes (bench and verify
    *    overlapping) from deleting each other's live runs.
    *
    * Streaming faces also pass `run/chk` as an explicit
    * checkpointLocation: Spark force-deletes its auto-created TEMPORARY
    * checkpoint inside query shutdown, on the clock.
    */
  private[graft] def runDir(prefix: String, d: String): Path =
    taggedRunDir(prefix, tagOf("dataset:" + d))

  private def taggedRunDir(prefix: String, tag: String): Path = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val parent = tmp.resolve(s"$prefix${ProcessHandle.current().pid()}")
    sweepDeadSiblings(tmp, prefix)
    Option(parent.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(tag + "-"))
      .foreach(f => trash(f.toPath))
    Files.createDirectories(parent)
    Files.createTempDirectory(parent, tag + "-")
  }

  private def trash(p: Path): Unit = {
    val aside = p.resolveSibling(s".trash-${p.getFileName}-" +
      java.util.UUID.randomUUID().toString.take(8))
    try {
      Files.move(p, aside)
      val t = new Thread(() => SharedArtifacts.deleteRecursively(aside),
        s"graft-trash-${aside.getFileName}")
      t.setDaemon(true)
      t.start()
    } catch { // rename refused: fall back to the synchronous delete
      case _: java.io.IOException => SharedArtifacts.deleteRecursively(p)
    }
  }

  /** Delete `<prefix><digits>` entries of `tmpRoot` whose digits name no
    * live process: a dead pid, or a number too large for one (run
    * directories were once `Files.createTempDirectory(prefix)`, named by
    * a random unsigned long of up to 20 digits).
    */
  private[graft] def sweepDeadSiblings(tmpRoot: Path, prefix: String): Unit = {
    val orphan = (java.util.regex.Pattern.quote(prefix) + raw"(\d+)").r
    val self = ProcessHandle.current().pid()
    Option(tmpRoot.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case orphan(n) if n.toLongOption.forall(pid =>
            pid != self && !ProcessHandle.of(pid).isPresent) =>
          SharedArtifacts.deleteRecursively(f.toPath)
        case _ => ()
      }
    }
  }
}
