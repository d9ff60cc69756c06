package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the query registry on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries execute into the `noop` sink — a full materialization of every
  * output row (unlike `count()`, which would let Catalyst prune computed
  * columns and under-report the real work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed session warmup: JVM/FS/codegen init and the streaming
    // machinery (state store, checkpoint dirs) at the smallest SF, so
    // fixed session constants don't land on the first timed query.
    try {
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem").count()
      SparkEntry.queries("stream_inprogress")(spark, "/root/testdata/sf0.001")
        .count()
    } catch { case _: Throwable => () }
    // charge every shared artifact and memoized replay to a NAMED line
    // item — otherwise its build lands inside whichever face touches it
    // first and the best-of-2 min discards it invisibly. Adoption of
    // files a previous process built is legitimate amortization and
    // shows up here as a genuinely small number.
    def timedBuild(name: String)(build: => Boolean): (String, Double) = {
      val t0 = System.nanoTime()
      val fresh =
        try build
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name $sec%.3f s (fresh=$fresh)")
      name -> sec
    }
    // faces whose replay group failed every timed run — reported failed
    // (-1.0) rather than silently re-running the group at face time
    val failedGroupFaces = scala.collection.mutable.Set[String]()
    // the concurrent replay groups: each group's whole wall-clock lands
    // on ONE named item; the member faces below then read their kept
    // read-backs (best-of-2 min() would otherwise discard the
    // group-paying run and report every member as free). A group
    // reports min over THREE full reruns — one wall-clock sample of a
    // 4-thread pool swung 6↔27 s run-to-run (r13), drowning real
    // regressions; min-of-3 of a heavy-tailed contention distribution is
    // stable. Groups whose reruns repay memoized builds (ivm, index) are
    // the heavy ones and get min-of-2.
    def timedGroup(g: graft.operators.Materialized.ReplayGroup)
        : (String, Double) = {
      val runs = if (g.repays.nonEmpty) 2 else 3
      // min over SUCCESSFUL runs only — a failed run returns fast and
      // would otherwise masquerade as the best time
      val times = (1 to runs).flatMap { i =>
        val t0 = System.nanoTime()
        try {
          if (i == 1) g.ensure(spark, sfDir) else g.rerun(spark, sfDir)
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${g.name} failed: ${e.getMessage}")
          None
        }
      }
      // when EVERY run failed, the group is not kept and its member
      // faces would transparently re-run the whole group on their own
      // clocks — where best-of-2 min() discards the paying run and the
      // group bill vanishes from the total. Mark the members failed
      // instead (below) and report the group -1.
      if (times.isEmpty) failedGroupFaces ++= g.members.keySet
      val best = if (times.nonEmpty) times.min else -1.0
      System.err.println(f"[bench] ${g.name} $best%.3f s " +
        s"(runs=${times.map(t => f"$t%.2f").mkString(",")})")
      g.name -> best
    }
    val builds = graft.operators.Materialized.builds.map {
      case g: graft.operators.Materialized.ReplayGroup => timedGroup(g)
      case e => timedBuild(e.name)(e.ensure(spark, sfDir))
    }
    // SPARK_GRAFT_ONLY=q1,q2 narrows the run for local A/B iteration
    // under the exact driver harness (unset on the driver: full registry)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    val results = selected.map { case (name, fn) =>
      if (failedGroupFaces.contains(name)) {
        System.err.println(s"[bench] $name skipped: its replay group failed")
        name -> -1.0
      } else {
      // drain the previous query's garbage so its GC debt doesn't land on
      // this query's clock (all-pairs joins allocate heavily)
      System.gc()
      // best-of-2: a single-shot timing on a shared box occasionally eats
      // a multi-second disk/CPU stall that has nothing to do with the plan
      val times = (1 to 2).flatMap { _ =>
        // queries that persist() an interior stage must not hand their
        // cache to the next run (CacheManager matches by logical plan)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None // a failed run must not masquerade as a fast run
        }
      }
      name -> (if (times.nonEmpty) times.min else -1.0)
      }
    }
    // builds and the total go at the END of the line: the driver captures
    // a TRUNCATED TAIL of stdout, so anything emitted at the head (the
    // round-6 layout) is exactly what gets dropped — r6 lost the build
    // line items and the headline total to serialization order
    val qs = (results ++ builds)
      .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = (results ++ builds).map(_._2).filter(_ >= 0).sum
    val line =
      f"""{"sf":"$sfDir","queries":$qs,"unit":"sec","metric":"total","value":$total%.3f}"""
    println(line)
    // the driver's stdout capture keeps only a truncated TAIL, so ~25%
    // of line items vanish from its BENCH_r*.json — when asked, also
    // write the COMPLETE line to a file committed in-repo per round
    // (BENCH_LOCAL_r*.json), so cross-round diffing sees every query
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
    }
    spark.stop()
  }
}
