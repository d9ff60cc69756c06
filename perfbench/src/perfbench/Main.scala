package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM.
  *
  * {{{
  * Main --workload alert_live|alert_bulk|registry_light|replay_groups
  *      --seed N --seconds S --trace 0|1 --sf DIR [--cores C]
  *      [--record FILE] [--spans FILE] [--faces FILE] [--groups FILE]
  * }}}
  *
  * The last stdout line is the result object
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{..}}`: end-to-end
  * metrics with `--trace 0`, per-layer metrics with `--trace 1`. A run
  * whose output check fails prints `"correct":false` and exits 1.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, sf: String, record: Option[String],
      spans: Option[String], faces: String, groups: String)

  /** What a workload hands back: checks, counts and both metric sets.
    * `layer` may omit metrics the workload does not exercise (they
    * print as 0); `notes` go to the record file only.
    */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      e2e: Map[String, Double], layer: Map[String, Double],
      notes: Map[String, String] = Map.empty)

  /** End-to-end metrics of the alert workloads (the gated ones): the
    * figures whose run-to-run spread stays inside their bound. The other
    * latency percentiles are reported per layer.
    */
  val AlertEndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "published_p90_ms" -> "ms",
    "frames_per_s" -> "frames/s",
    "peak_rss_mb" -> "MiB")

  /** End-to-end metrics of the batch workloads (recorded, not gated). */
  val BatchEndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s",
    "item_p50_ms" -> "ms", "item_p90_ms" -> "ms",
    "peak_rss_mb" -> "MiB")

  /** Per-layer metrics of a traced run (a workload that does not
    * exercise a layer reports 0 for it).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    // workload figures that are not end-to-end metrics of the alert
    // workloads: the live reader, the batch workloads' timings, failures
    "visible_p50_ms" -> "ms", "visible_p90_ms" -> "ms",
    "visible_p99_ms" -> "ms",
    "published_p50_ms" -> "ms", "published_p99_ms" -> "ms",
    "snapshot_p50_ms" -> "ms", "snapshot_p90_ms" -> "ms",
    "wall_s" -> "s", "item_p50_ms" -> "ms", "item_p90_ms" -> "ms",
    "failed_frac" -> "ratio",
    // load generator
    "gen.late_p99_ms" -> "ms", "gen.outstanding_mean" -> "frames",
    // sources
    "ws.send_p99_ms" -> "ms", "source.lag_frames_max" -> "frames",
    "source.latest_offset_ms" -> "ms", "source.get_batch_ms" -> "ms",
    // micro-batch engine, per query
    "state.batches" -> "count", "state.rows_per_batch" -> "rows",
    "state.planning_ms" -> "ms", "state.add_batch_ms" -> "ms",
    "state.wal_ms" -> "ms", "state.trigger_ms" -> "ms",
    "publish.batches" -> "count", "publish.planning_ms" -> "ms",
    "publish.add_batch_ms" -> "ms", "publish.wal_ms" -> "ms",
    "publish.trigger_ms" -> "ms",
    // state operator
    "stateop.rows_total" -> "rows", "stateop.rows_updated" -> "rows",
    "stateop.rows_removed" -> "rows", "stateop.commit_ms" -> "ms",
    "stateop.update_ms" -> "ms", "stateop.memory_mb" -> "MiB",
    // durable state table
    "table.segments_max" -> "count", "table.compactions" -> "count",
    "table.disk_mb" -> "MiB",
    // publish sink
    "publisher.partition_ms" -> "ms", "publisher.partitions" -> "count",
    "publisher.mb" -> "MiB",
    // metrics endpoint
    "metrics.scrape_ms" -> "ms",
    // Spark scheduler
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.cores_used" -> "cores", "spark.sched_delay_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.input_mb" -> "MiB",
    "spark.shuffle_read_mb" -> "MiB", "spark.shuffle_write_mb" -> "MiB",
    "spark.spill_mb" -> "MiB",
    // Catalyst planning and the face spans
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms", "face.build_ms" -> "ms",
    "face.write_ms" -> "ms",
    // replay groups
    "group.sketch_s" -> "s", "group.hourly_s" -> "s", "group.walk_s" -> "s",
    "group.window_s" -> "s", "group.user_s" -> "s", "group.door_s" -> "s",
    "group.batches" -> "count", "group.jobs_per_batch" -> "jobs",
    // set-up and JVM
    "setup.session_s" -> "s", "setup.stagings_s" -> "s",
    "setup.warm_s" -> "s", "jvm.gc_ms" -> "ms", "jvm.cpu_s" -> "s")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      need("sf"), m.get("record"), m.get("spans"),
      m.getOrElse("faces", "perfbench/faces.tsv"),
      m.getOrElse("groups", "perfbench/groups.tsv"))
  }

  /** The benchmark's Spark session: the repo's own tuning on local[cores]. */
  def session(cores: Int): SparkSession = {
    val s = graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench"), cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val r = a.workload match {
      case "alert_live" => Alerts.live(a)
      case "alert_bulk" => Alerts.bulk(a)
      case "registry_light" => Registry.light(a)
      case "replay_groups" => Registry.replay(a)
      case w => sys.error(s"unknown workload $w")
    }
    val chosen =
      if (a.trace) PerLayer
      else if (a.workload.startsWith("alert_")) AlertEndToEnd
      else BatchEndToEnd
    val metrics = chosen.map { case (n, unit) =>
      val v = if (a.trace) r.layer.getOrElse(n, 0.0) else r.e2e(n)
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(unit)}}"
    }.mkString("{", ",", "}")
    val line = s"""{"correct":${r.correct},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":$metrics}"""
    a.record.foreach { p =>
      def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      val notes = r.notes.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      val rec = s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},""" +
        s""""seconds":${a.seconds},"trace":${if (a.trace) 1 else 0},"cores":${a.cores},""" +
        s""""correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""end_to_end":${obj(r.e2e)},"per_layer":${obj(r.layer)},"notes":$notes}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), rec + "\n")
    }
    if (a.trace) a.spans.foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), Spans.json() + "\n"))
    System.out.flush()
    println(line)
    System.out.flush()
    // non-daemon Spark and HTTP threads must not hold the JVM open
    Runtime.getRuntime.halt(if (r.correct) 0 else 1)
  }
}
