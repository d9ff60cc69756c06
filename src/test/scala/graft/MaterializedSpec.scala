package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, lower}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Materialized, SharedArtifacts}
import Materialized.{Memo, ReplayGroup, Shared, Together}

/** The registry's reuse keys cover every input of what they keep, and
  * its run directories neither trash each other nor outlive a dead
  * process. The key specs compute keys only; no build runs.
  */
class MaterializedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  /** A private copy of sf0.001 — copied files, not hard links, so a
    * rewrite never reaches the shared test data.
    */
  private def copyOfSf(tag: String): Path = {
    val dir = Files.createTempDirectory(s"graft_mzcopy_${tag}_")
    Materialized.datasetTables(sf).foreach(t =>
      Files.copy(Paths.get(sf, t), dir.resolve(t)))
    dir
  }

  /** Rewrite a table file with its own bytes and a later mtime. */
  private def rewrite(d: Path, table: String): Unit = {
    val p = d.resolve(table)
    val before = Files.getLastModifiedTime(p).toMillis
    Files.write(p, Files.readAllBytes(p))
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(before + 2000L))
  }

  private def parts(e: Materialized.Entry): Seq[Materialized.Entry] = e match {
    case t: Together => t.parts
    case m: Memo[_] => Seq(m)
    case g: ReplayGroup => g +: g.repays
    case s: Shared[_] => Seq(s)
  }

  private lazy val entries = Materialized.builds.flatMap(parts)

  test("every registry build's key is stable across two calls") {
    assert(Materialized.builds.map(_.name).distinct.size ==
      Materialized.builds.size, "build names must be unique")
    Materialized.builds.foreach(e =>
      assert(e.key(sf) == e.key(sf), s"${e.name}: key moved between calls"))
  }

  test("a process-scope key changes when any one table of the dataset is rewritten") {
    val d = copyOfSf("proc")
    try {
      val scoped = entries.filter(e => e.isInstanceOf[Memo[_]] ||
        e.isInstanceOf[ReplayGroup])
      assert(scoped.exists(_.name == "stream_grp_door"))
      val tables = Materialized.datasetTables(d.toString)
      assert(tables.size == 10, tables)
      tables.foreach { t =>
        val before = scoped.map(_.key(d.toString))
        rewrite(d, t)
        scoped.zip(before).foreach { case (e, k) =>
          assert(e.key(d.toString) != k,
            s"${e.name}: key ignores a rewrite of $t")
        }
      }
    } finally SharedArtifacts.deleteRecursively(d)
  }

  test("a shared-scope key changes when any source table it declares is rewritten") {
    val d = copyOfSf("shared")
    try {
      val shared = entries.collect { case s: Shared[_] => s }
      assert(shared.size == 15, shared.map(_.name))
      shared.foreach { e =>
        e.tables(d.toString).foreach { t =>
          val k = e.key(d.toString)
          rewrite(d, t)
          assert(e.key(d.toString) != k,
            s"${e.name}: key ignores a rewrite of its source $t")
        }
      }
    } finally SharedArtifacts.deleteRecursively(d)
  }

  test("a run directory survives runs on other datasets; the next run on its own dataset replaces it") {
    // a replay group keeps lazy read-backs over its members' run dirs,
    // so a run on another dataset must leave them in place
    val prefix = "graft_mzspec_"
    val a1 = Materialized.runDir(prefix, "/data/a")
    val b = Materialized.runDir(prefix, "/data/b")
    assert(Files.exists(a1) && Files.exists(b),
      "a run on another dataset must not trash a kept run")
    val a2 = Materialized.runDir(prefix, "/data/a")
    assert(!Files.exists(a1), "the next run on a dataset replaces the last")
    assert(Files.exists(b) && Files.exists(a2))
    SharedArtifacts.deleteRecursively(a1.getParent)
  }

  test("dead-pid run directories of every memo prefix are swept") {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val deadPid = Iterator.iterate(999999999L)(_ - 1)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val prefixes = entries.collect { case m: Memo[_] => m.prefix }.distinct
    assert(Set("graft_gins_", "graft_gvac_").subsetOf(prefixes.toSet),
      prefixes)
    prefixes.foreach { prefix =>
      val dead = tmp.resolve(s"$prefix$deadPid")
      Files.createDirectories(dead.resolve("k0-1"))
      val mine = Materialized.runDir(prefix, "spec")
      try assert(!Files.exists(dead), s"$dead not swept")
      finally SharedArtifacts.deleteRecursively(mine)
    }
  }

  test("run directories named by a random 19-20 digit suffix are swept, live ones kept") {
    val root = Files.createTempDirectory("graft_mzsweep_")
    val self = ProcessHandle.current().pid()
    val swept = Seq("graft_gvac_11619076953903729680",
      "graft_gvac_6203913722118408617")
    val kept = Seq(s"graft_gvac_$self", "graft_gvac_keep", "graft_gins_1")
    (swept ++ kept).foreach(n =>
      Files.createDirectories(root.resolve(n).resolve("x")))
    try {
      Materialized.sweepDeadSiblings(root, "graft_gvac_")
      swept.foreach(n => assert(!Files.exists(root.resolve(n)), s"$n not swept"))
      kept.foreach(n => assert(Files.exists(root.resolve(n)), s"$n swept"))
    } finally SharedArtifacts.deleteRecursively(root)
  }

  test("a live process serves door read-backs of the rewritten customer table, not the old ones") {
    val a = copyOfSf("doorA")
    val b = copyOfSf("doorB")
    val stage = Files.createTempDirectory("graft_mzcust_")
    try {
      // customer with every c_mktsegment changed, written once and
      // copied into both datasets byte for byte
      spark.read.parquet(s"$sf/customer.parquet")
        .withColumn("c_mktsegment", lower(col("c_mktsegment")))
        .coalesce(1).write.mode("overwrite")
        .parquet(stage.resolve("c").toString)
      val part = Files.list(stage.resolve("c")).iterator()
        .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      def enrich(d: Path) =
        SparkEntry.queries("stream_enrich")(spark, d.toString)
          .collect().map(_.toString).sorted.toSeq
      Files.copy(part, b.resolve("customer.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val before = enrich(a)
      Files.copy(part, a.resolve("customer.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val after = enrich(a)
      assert(after != before, "the rewrite must change stream_enrich")
      assert(after == enrich(b),
        "stream_enrich after the rewrite must equal a run on a dataset " +
          "that held the rewritten table from the start")
    } finally {
      // the artifacts the replays published for the two copies go too
      for (d <- Seq(a, b); e <- entries.collect { case e: Shared[_] => e })
        SharedArtifacts.deleteRecursively(e.base(d.toString))
      Seq(a, b, stage).foreach(SharedArtifacts.deleteRecursively)
    }
  }
}
