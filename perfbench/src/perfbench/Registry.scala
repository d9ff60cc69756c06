package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.operators.StreamingQueries

/** The batch side: sub-second registry faces and the events-only replay
  * groups, both at the bench scale factor.
  */
object Registry {

  /** `name<TAB>rows[<TAB>group]` lines; `#` starts a comment. */
  private def table(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))

  /** Run `df` into the `noop` sink, counting its rows in the same pass
    * (an observation, so the count costs no second job).
    */
  private def writeCounting(df: DataFrame): Long = {
    val obs = Observation("perfbench_rows")
    df.observe(obs, count(lit(1)).as("n")).write.format("noop")
      .mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  private def sharedRootEmpty: Boolean = {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_shared")
    !Files.exists(root) || scala.util.Using(Files.list(root))(_.count() == 0).get
  }

  /** Each fixed face once per pass, as `queries(name)(spark, sf)` into
    * the `noop` sink with `clearCache` between faces; passes repeat
    * until `--seconds` have gone by (at least one).
    */
  def light(a: Main.Args): Main.Result = {
    val faces = table(a.faces).map(r => r(0) -> r(1).toLong)
    val t0s = Clock.ms()
    val spark = Main.session(a.cores)
    val tSession = Clock.ms()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val queries = SparkEntry.queries
    // warm-up: every fifth face once at the smallest scale factor,
    // untimed, so session-wide class loading and codegen do not land on
    // the first timed faces (a full warm pass would double the run)
    val warmSf = a.sf.replaceAll("sf[0-9.]+$", "sf0.001")
    faces.zipWithIndex.filter(_._2 % 5 == 0).map(_._1).foreach { case (name, _) =>
      spark.catalog.clearCache()
      try writeCounting(queries(name)(spark, warmSf)) catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    System.gc()
    val tWarm = Clock.ms()
    tracer.foreach(_.on(true))
    val cpu0 = Jvm.cpuS; val gc0 = Jvm.gcMs
    val t0 = Clock.ms()
    val setupS = (t0 - Jvm.startMs) / 1000
    val rng = new scala.util.Random(a.seed)
    val itemMs = Seq.newBuilder[Double]
    val buildMs, writeMs = Seq.newBuilder[Double]
    val passS = Seq.newBuilder[Double]
    var failed = 0L
    var attempted = 0L
    val bad = Seq.newBuilder[String]
    var pass = 0
    while (pass == 0 || Clock.ms() - t0 < a.seconds * 1000.0) {
      val p0 = Clock.ms()
      rng.shuffle(faces).foreach { case (name, want) =>
        spark.catalog.clearCache()
        val id = s"$name#$pass"
        val f0 = Clock.ms()
        val rows = try Spans.time("face", id) {
          val b0 = Clock.ms()
          val df = Spans.time("face.build", id, "face")(queries(name)(spark, a.sf))
          val b1 = Clock.ms()
          val n = Spans.time("face.write", id, "face")(writeCounting(df))
          buildMs += b1 - b0
          writeMs += Clock.ms() - b1
          Some(n)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e"); None
        }
        itemMs += Clock.ms() - f0
        attempted += 1
        if (!rows.contains(want)) {
          failed += 1
          bad += s"$name rows=${rows.getOrElse(-1L)} want=$want"
        }
      }
      passS += (Clock.ms() - p0) / 1000
      pass += 1
    }
    val tEnd = Clock.ms()
    tracer.foreach(_.on(false))
    val items = itemMs.result()
    val wallS = (tEnd - t0) / 1000
    val shared = sharedRootEmpty
    if (!shared) bad += "graft_shared is not empty"
    val timings = Map(
      "wall_s" -> Stats.mean(passS.result()),
      "item_p50_ms" -> Stats.pct(items, 50), "item_p90_ms" -> Stats.pct(items, 90))
    val layers = timings ++ Map(
      "failed_frac" -> failed.toDouble / attempted,
      "face.build_ms" -> Stats.mean(buildMs.result()),
      "face.write_ms" -> Stats.mean(writeMs.result()),
      "setup.session_s" -> (tSession - t0s) / 1000,
      "setup.warm_s" -> (tWarm - tSession) / 1000,
      "jvm.gc_ms" -> (Jvm.gcMs - gc0), "jvm.cpu_s" -> (Jvm.cpuS - cpu0)) ++
      tracer.map(t => t.sched.metrics(wallS) ++ t.plan.metrics).getOrElse(Nil)
    val e2e = timings ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Jvm.peakRssMb)
    spark.stop()
    Main.Result(failed == 0 && shared, attempted, failed + (if (shared) 0 else 1),
      e2e, layers, Map("faces" -> faces.size.toString, "passes" -> pass.toString,
        "samples" -> s"item=${items.size}", "bad" -> bad.result().mkString("; ")))
  }

  val Groups: Seq[String] = Seq("sketch", "hourly", "walk", "window", "user", "door")

  /** One `rerunReplayGroup` per events-only group, after the stagings and
    * one untimed `ensureReplayGroup` pass.
    */
  def replay(a: Main.Args): Main.Result = {
    val members = table(a.groups).map(r => (r(0), r(1).toLong, r(2)))
    val t0s = Clock.ms()
    val spark = Main.session(a.cores)
    val tSession = Clock.ms()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    StreamingQueries.ensureEventStagings(spark, a.sf)
    StreamingQueries.ensureHourlyStage(spark, a.sf)
    StreamingQueries.ensureWalkStage(spark, a.sf)
    val tStage = Clock.ms()
    Groups.foreach(g => StreamingQueries.ensureReplayGroup(spark, a.sf, g))
    System.gc()
    val tWarm = Clock.ms()
    tracer.foreach(_.on(true))
    val cpu0 = Jvm.cpuS; val gc0 = Jvm.gcMs
    val batches0 = progress.events.size
    val t0 = Clock.ms()
    val setupS = (t0 - Jvm.startMs) / 1000
    val rng = new scala.util.Random(a.seed)
    val groupS = scala.collection.mutable.Map[String, Double]()
    val groupSamples = Seq.newBuilder[Double]
    val passS = Seq.newBuilder[Double]
    var failedGroups = Set.empty[String]
    var pass = 0
    while (pass == 0 || Clock.ms() - t0 < a.seconds * 1000.0) {
      val p0 = Clock.ms()
      rng.shuffle(Groups).foreach { g =>
        val g0 = Clock.ms()
        try Spans.time("group", s"$g#$pass")(StreamingQueries.rerunReplayGroup(spark, a.sf, g))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] group $g failed: $e")
          failedGroups += g
        }
        val s = (Clock.ms() - g0) / 1000
        groupS(g) = groupS.getOrElse(g, 0.0) + s
        groupSamples += s
      }
      passS += (Clock.ms() - p0) / 1000
      pass += 1
    }
    val tEnd = Clock.ms()
    tracer.foreach(_.on(false))
    val batches = progress.events.size - batches0
    // read-back check: every member face's cached frame against its count
    val bad = Seq.newBuilder[String]
    members.foreach { case (face, want, g) =>
      val got = try SparkEntry.queries(face)(spark, a.sf).count()
        catch { case e: Throwable => -1L }
      if (got != want) { failedGroups += g; bad += s"$face rows=$got want=$want" }
    }
    val samples = groupSamples.result()
    val wallS = (tEnd - t0) / 1000
    val timings = Map(
      "wall_s" -> Stats.mean(passS.result()),
      "item_p50_ms" -> Stats.pct(samples, 50) * 1000,
      "item_p90_ms" -> Stats.pct(samples, 90) * 1000)
    val layers = timings ++ Map(
      "failed_frac" -> failedGroups.size.toDouble / Groups.size,
      "group.batches" -> batches.toDouble / pass,
      "setup.session_s" -> (tSession - t0s) / 1000,
      "setup.stagings_s" -> (tStage - tSession) / 1000,
      "setup.warm_s" -> (tWarm - tStage) / 1000,
      "jvm.gc_ms" -> (Jvm.gcMs - gc0), "jvm.cpu_s" -> (Jvm.cpuS - cpu0)) ++
      Groups.map(g => s"group.${g}_s" -> groupS(g) / pass) ++
      tracer.map { t =>
        t.sched.metrics(wallS) ++ t.plan.metrics :+
          ("group.jobs_per_batch" -> t.sched.jobs.get().toDouble / math.max(1, batches))
      }.getOrElse(Nil)
    val e2e = timings ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Jvm.peakRssMb)
    spark.stop()
    Main.Result(failedGroups.isEmpty, Groups.size.toLong, failedGroups.size.toLong,
      e2e, layers, Map("passes" -> pass.toString,
        "samples" -> s"group=${samples.size}", "bad" -> bad.result().mkString("; ")))
  }
}
