package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables.{load => T}
import graft.io.Dirs
import graft.streaming.{AlertPipeline, AlertStateTable, AlertUpdate, LiveCountsView}

/** The live pipeline (SURVEY.md §3.1) exercised end-to-end as a real
  * Structured Streaming job and exposed through the batch-query contract:
  * the events table is replayed through `readStream` → stateful
  * K2/K3 routing → durable [[AlertStateTable]] merge, and the final
  * in-progress set is read from the table's live snapshot.
  *
  * Because the state machine's fold (last-writer-wins by event time) is
  * confluent, the result equals the batch window query — so this query
  * shares k23's DuckDB oracle: the streaming execution is hash-checked
  * against SQL semantics, which is the strongest correctness statement the
  * gate can make about the stateful path.
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  private val streamInProgress: Q = (s, d) => {
    // the DURABLE sink, not a memory sink: each micro-batch merges into
    // an AlertStateTable (the reference's Mongo collection as a lake
    // table, AlertService.py:26-36) and the result is read back from the
    // table's live snapshot. Nothing accumulates on the driver — the
    // memory sink held one row per key per batch in driver memory,
    // unbounded over batches; the table's merge is O(|batch|) segment
    // appends with bounded compaction, all executor-side
    val run = Materialized.runDir("graft_inprog_", d)
    val tableDir = run.resolve("table").toString
    // ask the reader for raw nanos (LongType, staged by stageNanosEvents)
    // and rebuild the NTZ timestamp exactly as Tables.load does for batch
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    // the file streaming source wants a directory; glob-select the table
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(stageNanosEvents(s, d, run.resolve("src")))
    val events = AlertPipeline.eventsTableAsAlerts(s,
      raw.withColumn("ts",
        expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")))
    val table = new AlertStateTable(tableDir)
    withStreamingParallelism(s) {
      val q = AlertStateTable.sink(events, table, ttlSeconds = None)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    table.snapshot(s)
      .select(col("id").cast("long").as("user_id"),
        col("eventId").cast("long").as("last_event_id"))
  }

  /** INCREMENTAL VIEW MAINTENANCE end-to-end: the events replay drives
    * the durable [[graft.streaming.AlertStateTable]] through FOUR
    * micro-batches (`maxFilesPerTrigger=1` over a 4-file staging of
    * the table), and after every merge a
    * [[graft.streaming.LiveCountsView]] refreshes by folding the
    * table's CHANGE FEED ([[graft.streaming.AlertStateTable
    * .changesBetween]]) into its stored counts — O(|changes|) per
    * refresh, never recounting the table. `compactEvery = 3` forces a
    * compaction MID-replay, so the gate run exercises BOTH feed paths:
    * the O(|delta|) candidate semi-join and the post-compaction full
    * diff. The emitted view must hash-match the from-scratch batch
    * SQL — the IVM correctness statement: fold-of-changes ≡ recompute.
    */
  private val streamIvmCounts: Q = (s, d) =>
    ivmViews(s, d)
      .head.read(s).select(col("world_bucket"), col("n_live"))

  /** The SECOND consumer of the same change feed — the proof
    * [[graft.streaming.AlertStateTable.changesBetween]] is an API, not
    * a one-view trick: the same replay maintains BOTH the per-world
    * counts view and a view keyed on `eventId` — the column K2 upserts
    * MUTATE, so a re-signup that moves a live user from event A to
    * event B reaches this view precisely as the
    * `update_preimage`(−1 at A)/`update_postimage`(+1 at B) pair; a
    * view folding only inserts/deletes would drift on exactly those
    * rows. Emits the per-event view; hash-checked against the
    * from-scratch batch SQL (last-event-wins per user, grouped by
    * event) — fold-of-changes ≡ recompute, per key that moves.
    */
  private val streamIvmEvents: Q = (s, d) =>
    ivmViews(s, d)
      .last.read(s).select(col("event_id"), col("n_live"))

  /** BOTH IVM views maintained by ONE replay — the two faces consume
    * the same [[graft.streaming.AlertStateTable.changesBetween]] feed
    * over the same 4-batch replay, so running the replay harness twice
    * (checkpoint + state store + start/stop fixed costs, ~7 s each)
    * bought nothing: the replay runs once per (process, dataset
    * version) with both folds registered, and each registry face reads
    * its own maintained view from the shared run; a fresh process always
    * replays. Each face's hash is unchanged — only the harness bill is
    * shared.
    *
    * The harness: 4-file staged events → `maxFilesPerTrigger=1`
    * AvailableNow replay → durable [[graft.streaming.AlertStateTable]]
    * merges (compaction forced mid-replay) with both views refreshed
    * from the change feed after each merge.
    */
  private lazy val ivmViews = Materialized.memo("ivm_views", "graft_ivm_",
      "ivmrun:v1:2views") { (s, d, run) =>
    val srcDir = run.resolve("src").toString
    // stage the replay as 4 nanos-long files so AvailableNow +
    // maxFilesPerTrigger=1 yields 4 micro-batches → 4 table versions;
    // like stageNanosEvents, the split is a pure function of the
    // source table, so it is built once per dataset version and
    // hard-linked here (r10 rewrote the whole events table per
    // invocation — the head of stream_ivm_counts' 7 s bench bill)
    stageIvmSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val events = AlertPipeline.eventsTableAsAlerts(s,
      raw.withColumn("ts",
        expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")))
    val table = new AlertStateTable(run.resolve("table").toString,
      compactEvery = 3)
    val views = Seq(
      new LiveCountsView(run.resolve("view").toString),
      new LiveCountsView(run.resolve("view_ev").toString,
        bucketExpr = "eventId", keyName = "event_id"))
    withStreamingParallelism(s) {
      val q = AlertPipeline.updates(events, ttlSeconds = None)
        .writeStream.outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[AlertUpdate], _: Long) =>
            table.merge(batch.sparkSession, batch.toDF())
            views.foreach(_.refresh(batch.sparkSession, table))
        }
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    views
  }

  /** SNAPSHOT-ISOLATION TIME TRAVEL as a registry face: replay the
    * 4-quartile staging through the durable [[AlertStateTable]] (4
    * merges → 4 retained versions), then read the table AS OF
    * the SECOND version — `rawAt`, the `versionAsOf` analog the
    * log+compact layout gives for free — and emit its live set. Because
    * the staging split is data-defined (event-time quartiles under the
    * (ts, event_id) row_number), "version 2" IS a SQL expression: the
    * last-signup-wins census over the first half of the ordered events
    * — so a lake-table feature (historical reads) becomes a
    * hash-checked gate row, not a demo. `retainGenerations = 8` keeps
    * every replay version readable (the default GC horizon of 2 would
    * age version 2 out under the later merges — time travel is only as
    * deep as retention, exactly like Delta).
    */
  private val stateTimeTravel: Q = (s, d) => {
    val run = Materialized.runDir("graft_tt_", d)
    stageIvmSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
    val events = AlertPipeline.eventsTableAsAlerts(s,
      raw.withColumn("ts",
        expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")))
    val table = new AlertStateTable(run.resolve("table").toString,
      retainGenerations = 8)
    withStreamingParallelism(s) {
      val q = AlertPipeline.updates(events, ttlSeconds = None)
        .writeStream.outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[AlertUpdate], _: Long) =>
            table.merge(batch.sparkSession, batch.toDF())
        }
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val vs = table.versions
    assert(vs.size >= 2, s"expected ≥2 retained versions, got $vs")
    table.rawAt(s, vs(1)).filter(col("status") === "live")
      .select(col("id").cast("long").as("user_id"),
        col("eventId").cast("long").as("last_event_id"))
  }

  /** Order-contiguous quartile buckets over an exact global rank —
    * `bucket = ((rank−1)·4) div n` under `ORDER BY order*`, the exact
    * membership the single-partition `Window.orderBy(...)` formulation
    * produced, WITHOUT the single-partition window (the one "No
    * Partition Defined for Window" shape the replay schedules still
    * carried — the canonical driver-side bottleneck at real scale, and
    * the r17 verdict's top "what's wrong"). Two-pass, the
    * `window_ntile` recipe: ONE bounded quantile sketch of `sketchCol`
    * yields ≤31 deterministic literal boundaries; every row gets an
    * order-monotone `_pid` by comparing the sketch column against them
    * (rows tying on the sketch column share a pid, so per-pid
    * `order*` sorting is globally consistent); row_number runs PER
    * pid; the ≤32 per-pid counts come back to the driver (a
    * constant-size model read, like the PCA direction) and lift local
    * row numbers to exact global ranks through a literal offset CASE.
    * Boundary QUALITY never matters — the rank is exact whatever the
    * sketch returns; skew only costs parallelism, never correctness.
    * Membership (and therefore every planted-corpus spec and every
    * replay hash) is IDENTICAL to the window formulation's.
    */
  private[graft] def rankQuartiles(df: DataFrame, sketchCol: String,
      order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val bounds = df.stat.approxQuantile(sketchCol,
      (1 until 32).map(_ / 32.0).toArray, 0.001)
    val pid = bounds.distinct.sorted
      .map(b => when(col(sketchCol) > b, 1).otherwise(0))
      .reduceOption((a, b) => a + b)
      .getOrElse(lit(0): org.apache.spark.sql.Column)
    val rn = df.withColumn("_pid", pid)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_pid")).orderBy(order: _*)))
    val cnts = rn.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = cnts.map(_._2).sum
    if (total == 0L) df.withColumn("bucket", lit(0L))
    else {
      val offCol = cnts.map(_._1)
        .zip(cnts.map(_._2).scanLeft(0L)(_ + _).init)
        .foldLeft(lit(0L)) { case (acc, (p, o)) =>
          when(col("_pid") === p, lit(o)).otherwise(acc)
        }
      rn.withColumn("_off", offCol)
        .withColumn("bucket",
          expr(s"((cast(_rn AS BIGINT) + _off - 1) * 4) div ${total}L"))
        .drop("_pid", "_rn", "_off")
    }
  }

  /** [[rankQuartiles]] keyed on doc_id — the replay wave schedule every
    * maintained-store replay and the lifecycle capstone share.
    */
  private def docQuartiles(docs: DataFrame): DataFrame =
    rankQuartiles(docs, "doc_id", Seq(col("doc_id")))

  /** Build (or adopt) and hard-link the 4-file nanos staging for the
    * IVM/time-travel replays. The split is DATA-DEFINED — file k holds
    * event-time quartile k under `row_number() OVER (ORDER BY ts,
    * event_id)`, i.e. `bucket = (rn−1)·4 div n` — so "the table as of
    * version k" is a pure SQL function of the events table and the
    * time-travel face can carry a DuckDB oracle (a repartition split
    * would make historical versions unreconstructable). File names and
    * explicitly ascending mtimes both follow bucket order, so the file
    * source replays the quartiles in time order. The global row_number
    * is a once-per-dataset staging cost (at real scale this is a range
    * partition by time — [[rankQuartiles]] is exactly that rule).
    */
  private lazy val ivmEvents4 = stage4("ivm_events4",
    "nanos-4part-v2-timeordered",
    rankQuartiles(_, "ts", Seq(col("ts"), col("event_id"))))

  private def stageIvmSource(s: SparkSession, d: String,
      run: java.nio.file.Path): Unit = link4(ivmEvents4(s, d), run)

  /** The 4-file staging for the LATE-DATA replay: bucket = a content
    * hash of the event id, so each micro-batch holds a uniform MIX of
    * event times — the arrival order is genuinely out of time order and
    * the watermark actually drops things (the time-ordered
    * [[stageIvmSource]] split never produces late data). The hash is
    * the registry's cross-engine md5 idiom, so the batch assignment —
    * and therefore the watermark trajectory — is a pure SQL function of
    * the events table that the DuckDB oracle restates.
    */
  private lazy val lateEvents4 = stage4("late_events4",
    "nanos-4part-v1-hashordered",
    _.withColumn("bucket",
      conv(substring(md5(concat(lit("late:"),
        col("event_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("long") % 4))

  private def stageLateSource(s: SparkSession, d: String,
      run: java.nio.file.Path): Unit = link4(lateEvents4(s, d), run)

  /** Shared machinery of the 4-file stagings: nanos-long `ts`, a
    * caller-supplied deterministic `bucket` column, one file per
    * bucket, published once per dataset version.
    */
  private def stage4(name: String, layout: String,
      assign: DataFrame => DataFrame) =
    Materialized.shared(name, name + "_", layout, "events.parquet")(
        Materialized.dir) { (s, d, staging) =>
      import java.nio.file.Files
      val bucketed = assign(T(s, d, "events")
        .withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000")))
        .persist()
      try (0 until 4).foreach { k =>
        val part = staging.resolve(s"part$k")
        bucketed.filter(col("bucket") === k).drop("bucket")
          .coalesce(1).write.mode("overwrite").parquet(part.toString)
        val file = Dirs.list(part)
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.createDirectories(staging.resolve("data"))
        Files.move(file, staging.resolve("data").resolve(s"b$k.parquet"))
        SharedArtifacts.deleteRecursively(part)
      } finally bucketed.unpersist()
    }

  /** Hard-link a published 4-file staging into `run/src` with ascending
    * mtimes, so the file source's (mtime, path) order equals bucket
    * order.
    */
  private def link4(base: java.nio.file.Path,
      run: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    Files.createDirectories(run.resolve("src"))
    Dirs.list(base.resolve("data"))
      .filter(_.getFileName.toString.endsWith(".parquet")).sorted
      .zipWithIndex.foreach { case (p, i) =>
        val dst = run.resolve("src").resolve(p.getFileName.toString)
        linkOrCopy(p, dst)
        // hard links share the inode's mtime; re-stamp ascending so the
        // file source's (mtime, path) order equals bucket order
        try Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + i * 1000L))
        catch { case _: java.io.IOException => () }
      }
  }

  /** Run a drain-and-stop streaming replay with shuffle parallelism
    * sized to the replay, not the box. The state-store instance count is
    * fixed at the shuffle partition count when the checkpoint is
    * created, and every micro-batch then pays (delta file + commit
    * marker) × instances of fixed I/O however little data flows — at
    * this replay's volume, 32 instances are pure overhead per 2-batch
    * run. A long-running deployment sizes this to its cluster and keeps
    * ONE checkpoint for the query's lifetime, so the per-batch constant
    * amortizes; these registry replays create a fresh checkpoint per
    * invocation, so the constant is the bill. The override spans the
    * whole run (first-batch planning captures the conf asynchronously
    * after `start()`), then the session value is restored.
    *
    * Measured (r7, sf0.1): 8 vs 4 vs 2 instances is flat (~1.7-2.0 s
    * warm) — the per-query bill is query start/stop + offset/commit-log
    * fsyncs, not per-instance state-store I/O, so shrinking below 8
    * buys nothing here. `GRAFT_STREAM_SHUFFLE` overrides for smaller
    * boxes.
    */
  private def withStreamingParallelism[A](s: SparkSession)(run: => A): A =
    ConfScope.enter(s, "spark.sql.shuffle.partitions",
      sys.env.getOrElse("GRAFT_STREAM_SHUFFLE", "8"))(run)

  /** REFERENCE-COUNTED session-conf scoping — the concurrency-safe form
    * of "set, run, restore". The replay GROUPS run several face bodies
    * on a pool at once, and each body wraps itself in the same conf
    * scopes; with naive save/restore the first body to FINISH would
    * restore the original value while its siblings' queries are still
    * STARTING (streaming conf is captured at `start()`), silently
    * running them under the wrong provider/parallelism. Per (session,
    * key) the first enter saves the outer value and sets the scoped
    * one; only the last exit restores — nested or overlapping scopes
    * of the SAME value (the only combination the groups create) are
    * exact.
    */
  private object ConfScope {
    private final class Scope { var depth = 0; var outer: Option[String] = None }
    private val scopes =
      new java.util.concurrent.ConcurrentHashMap[String, Scope]()
    def enter[A](s: SparkSession, key: String, value: String)(run: => A): A = {
      val sc = scopes.computeIfAbsent(key, _ => new Scope)
      sc.synchronized {
        if (sc.depth == 0) {
          sc.outer = s.conf.getOption(key)
          s.conf.set(key, value)
        } else {
          // overlapping scopes must agree: a second enter requesting a
          // DIFFERENT value would silently run under the first one's
          // conf (streaming conf is captured at start()) — fail loudly
          // instead of misconfiguring a sibling's queries
          val current = s.conf.getOption(key)
          require(current.contains(value),
            s"ConfScope: overlapping enter for $key requested '$value' " +
              s"but the active scope holds '${current.orNull}'")
        }
        sc.depth += 1
      }
      try run finally sc.synchronized {
        sc.depth -= 1
        if (sc.depth == 0) sc.outer match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
    }
  }

  // ---- concurrent replay groups ------------------------------------------
  //
  // Every streaming face pays a fixed harness bill — query start/stop,
  // offset/commit-log fsyncs, checkpoint setup — that dwarfs its actual
  // state work at gate SF (~2.5-4 s per face, ~75 s across the tail).
  // Faces that can share a run, share it: the first invocation of any
  // member of a REPLAY GROUP runs every member concurrently
  // ([[Materialized.ReplayGroup]]) and keeps each face's read-back
  // frame; each face's computation — staging, topology, sinks,
  // read-back — is byte-identical to its solo form, so nothing
  // hash-checked moves. The bench charges each group to a NAMED build
  // item so best-of-2 `min()` can't discard the bill. Groups are lazy:
  // each references face lambdas declared further down.

  private lazy val sketchGroup = Materialized.replayGroup("sketch")(Map(
    "stream_countmin" -> streamCountmin,
    "stream_kmv" -> streamKmv,
    "stream_quantile" -> streamQuantile,
    "stream_hll" -> streamHll))

  private lazy val hourlyGroup = Materialized.replayGroup("hourly")(Map(
    "stream_anomaly" -> streamAnomaly,
    "stream_ewma" -> streamEwma,
    "stream_holtwinters" -> streamHoltWinters))

  private lazy val walkGroup = Materialized.replayGroup("walk")(Map(
    "stream_cep_match" -> streamCepMatch,
    "stream_rate_limit" -> streamRateLimit,
    "stream_state_history" -> streamStateHistory,
    "stream_paths" -> streamPaths))

  private lazy val windowGroup = Materialized.replayGroup("window")(Map(
    "stream_windowed_counts" -> streamWindowed,
    "stream_late_drops" -> streamLateDrops,
    "stream_sessionize" -> streamSessionize,
    "stream_m4" -> streamM4))

  private lazy val userGroup = Materialized.replayGroup("user")(Map(
    "stream_funnel" -> streamFunnel,
    "stream_retention" -> streamRetention,
    "stream_attribution" -> streamAttribution,
    "stream_join_attrib" -> streamJoinAttrib))

  private lazy val doorGroup = Materialized.replayGroup("door")(Map(
    "stream_inprogress" -> streamInProgress,
    "stream_dedup_ingest" -> streamDedupIngest,
    "stream_enrich" -> streamEnrich,
    "stream_quarantine" -> streamQuarantine))

  // the shared IVM replay (the single largest bench item) and the
  // stateless decontamination overlap their fixed costs too; both ivm
  // faces adopt ONE ivmViews run, which a rerun repays
  private lazy val ivmGroup = Materialized.replayGroup("ivm",
      repays = Seq(ivmViews))(Map(
    "stream_ivm_counts" -> streamIvmCounts,
    "stream_ivm_events" -> streamIvmEvents,
    "stream_decontam" -> streamDecontam,
    "stream_quality_gate" -> streamQualityGate,
    "stream_substring_gate" -> streamSubstringGate,
    "stream_substring_rewrite" -> streamSubstringRewrite,
    "stream_knn_classify" -> streamKnnClassify))

  // the maintained-index replays: each face is a full streaming replay
  // the best-of-2 harness would otherwise run TWICE. The COMPACTION
  // twins that merely fold an already-built index (text/dedup/sim) are
  // NOT members — they register as plain faces that adopt the group's
  // memoized builds, so their fold cost lands on its own named bench
  // item. dedup_cc_compact IS a member: mid-stream compaction needs its
  // own fold sequence. dedup_cc_takedown is a memoized solo face with
  // its own named bench item (cc_takedown_replay): its full replay's
  // bill hid inside (and regressed) this group line two rounds running
  private lazy val indexGroup = Materialized.replayGroup("index",
      repays = Seq(textIndexRun, dedupIndexRun, simIndexRun))(Map(
    "dedup_index_ivm" -> dedupIndexIvm,
    "sim_index_ivm" -> simIndexIvm,
    "text_index_ivm" -> textIndexIvm,
    "dedup_cc_ivm" -> dedupCcIvm,
    "dedup_cc_compact" -> dedupCcCompact,
    "stream_embed_drift" -> streamEmbedDrift))

  private[graft] lazy val replayGroups: Seq[Materialized.ReplayGroup] = Seq(
    sketchGroup, hourlyGroup, walkGroup, windowGroup, userGroup, doorGroup,
    ivmGroup, indexGroup)

  private def replayGroup(group: String): Materialized.ReplayGroup =
    replayGroups.find(_.group == group).getOrElse(
      throw new NoSuchElementException(s"no replay group '$group'"))

  // Entry points for benchmark drivers that address groups and stagings
  // by name.
  def ensureReplayGroup(s: SparkSession, d: String, group: String): Boolean =
    replayGroup(group).ensure(s, d)

  def rerunReplayGroup(s: SparkSession, d: String, group: String): Unit =
    replayGroup(group).rerun(s, d)

  def replayGroupMembers(group: String): Set[String] =
    replayGroup(group).members.keySet

  def ensureEventStagings(s: SparkSession, d: String): Boolean =
    eventStagings.ensure(s, d)

  def ensureHourlyStage(s: SparkSession, d: String): Boolean =
    hourlyStage.ensure(s, d)

  def ensureWalkStage(s: SparkSession, d: String): Boolean =
    walkStage.ensure(s, d)

  /** Watermarked tumbling-window counts executed as a real streaming job
    * in UPDATE mode against a durable (parquet append-log) sink — the
    * production shape: watermark eviction keeps state bounded (spec'd in
    * WindowedAggsSpec) and nothing accumulates on the driver, unlike
    * complete-mode + memory sink. Each micro-batch appends its updated
    * windows tagged with the batch id; the read side keeps each key's
    * newest emission — exactly what a downstream upsert consumer (or the
    * log-compaction in [[graft.streaming.AlertStateTable]]) does with an
    * update stream. Hash-checked against the batch date_trunc oracle:
    * streaming window semantics must equal SQL calendar bucketing.
    */
  private val streamWindowed: Q = (s, d) => {
    val run = Materialized.runDir("graft_winstream_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(stageNanosEvents(s, d, run.resolve("src")))
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    withStreamingParallelism(s) {
      val q = raw
        .withWatermark("ts", "1 hour")
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_seconds(col("window.start")).as("hour_epoch"),
          col("event_type"), col("n"))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_epoch"), col("event_type"))
      .orderBy(col("batch_id").desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("hour_epoch"), col("event_type"), col("n"))
  }

  /** The count-min sketch maintained as STREAMING STATE — the sketch's
    * native habitat (Cormode & Muthukrishnan wrote it for exactly this:
    * a fixed-size frequency summary of an unbounded stream). The events
    * replay runs as 4 micro-batches over the shared 4-file staging; the
    * streaming aggregation holds the `d × w` counters as keyed state,
    * each batch's cell increments MERGE into it (CMS merge ≡ cellwise
    * sum ≡ what update-mode streaming aggregation does), and the final
    * emission per cell is the whole-stream sketch. The point-query
    * report is [[Breadth.cmsReport]] — the same probe contract as the
    * batch face, so this shares `sketch_countmin`'s DuckDB oracle: a
    * sketch accumulated INCREMENTALLY across batches must price
    * identically to one built in a single pass.
    */
  private val streamCountmin: Q = (s, d) => {
    val run = Materialized.runDir("graft_cms_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    stageIvmSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
    withStreamingParallelism(s) {
      val q = raw
        .select(Breadth.cmsCells(col("user_id")).as("cell"))
        .groupBy(col("cell.row").as("row"), col("cell.bucket").as("bucket"))
        .agg(count(lit(1)).as("c"))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("row"), col("bucket"))
      .orderBy(col("batch_id").desc)
    val cells = s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("row"), col("bucket"), col("c"))
    Breadth.cmsReport(cells, T(s, d, "events"))
  }

  /** The KMV distinct sketch maintained as STREAMING STATE — the other
    * mergeable sketch's native habitat ("how many distinct users so
    * far" over an unbounded stream in O(k) memory per key). The same
    * 4-micro-batch replay; the streaming aggregation holds each type's
    * min-k buffer ([[graft.functions.MinKAggregator]]) in keyed state,
    * each batch's partials MERGE into it (KMV union ≡ min-k of the
    * concatenation ≡ the aggregator's merge), and the final emission is
    * the whole-stream sketch. The report is [[Breadth.kmvReport]] — the
    * same contract as the batch face, so this shares `sketch_kmv`'s
    * DuckDB oracle: a sketch accumulated incrementally across batches
    * must estimate identically to one built in a single pass.
    */
  private val streamKmv: Q = (s, d) => {
    val run = Materialized.runDir("graft_kmv_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    stageIvmSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
    val mink = udaf(new graft.functions.MinKAggregator(Breadth.KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    withStreamingParallelism(s) {
      val q = raw
        .select(col("event_type"), Breadth.kmvHash(col("user_id")).as("h"))
        .groupBy(col("event_type")).agg(mink(col("h")).as("ks"))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("batch_id").desc)
    val sk = s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("ks"))
    Breadth.kmvReport(sk, T(s, d, "events"))
  }

  /** The bottom-k quantile sample maintained as STREAMING STATE —
    * [[Breadth]]'s `sketch_quantile` accumulated across the
    * 4-micro-batch replay: the packed (hash, cents) min-k buffer lives
    * in keyed aggregation state ([[graft.functions.MinKAggregator]] —
    * sample union ≡ min-k of the concatenation ≡ the aggregator's
    * merge), so a sample grown batch over batch must read the same
    * median as one built in a single pass. Shares the batch oracle.
    */
  private val streamQuantile: Q = (s, d) => {
    val run = Materialized.runDir("graft_qtl_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    stageIvmSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
    val mink = udaf(new graft.functions.MinKAggregator(Breadth.KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    withStreamingParallelism(s) {
      val q = Breadth.qPacked(raw)
        .groupBy(col("event_type")).agg(mink(col("p")).as("ks"))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("batch_id").desc)
    val sk = s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("ks"))
    Breadth.quantileReport(sk, T(s, d, "events"))
  }

  /** The HLL register table maintained as STREAMING STATE — completes
    * the sketch family's streaming coverage (count-min, KMV, and now
    * HLL each have a twin sharing the batch oracle). HLL is the
    * easiest of the three to keep live: the register is a plain MAX,
    * idempotent and commutative, so update-mode aggregation over
    * (event_type, bucket) IS the sketch — no custom aggregator, no
    * buffer, 64 longs of state per key. A register table accumulated
    * across the 4-micro-batch replay must equal the one-pass build
    * bit for bit ([[Breadth]]'s `sketch_hll` oracle).
    */
  private val streamHll: Q = (s, d) => {
    val run = Materialized.runDir("graft_hll_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    stageIvmSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
    withStreamingParallelism(s) {
      val q = Breadth.hllCells(raw)
        .groupBy(col("event_type"), col("bucket"))
        .agg(max(col("rank")).as("register"))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("batch_id").desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("bucket"), col("register"))
  }

  /** WATERMARK LATE-DATA SEMANTICS, hash-checked — the contract every
    * other streaming face carefully avoids exercising (their stagings
    * replay in time order, so nothing is ever late): here the 4-file
    * split is HASH-ordered ([[stageLateSource]]), every micro-batch
    * carries a uniform mix of event times, and the windowed aggregation
    * genuinely drops rows that arrive after the watermark passed their
    * window. APPEND mode makes the emission contract clean enough to
    * restate in SQL: a window emits EXACTLY ONCE — at eviction, when
    * the watermark passes its end — carrying exactly the rows the late
    * filter admitted; rows arriving after eviction are provably late
    * (their window end is already ≤ the older late-filter watermark)
    * and vanish. The DuckDB oracle restates Spark's exact two-watermark
    * rule (SPARK-40925, measured here batch by batch): the watermark
    * PLANNED for batch k is `max event time over batches < k`, floored
    * to MILLISECONDS (Spark tracks event-time stats in ms), minus the
    * delay; EVICTION in batch k compares window-end micros ≤ that, but
    * the LATE FILTER in batch k uses batch k−1's planned value — one
    * batch older. A silent regression in any of it (delay parsing, ms
    * flooring, the filter-vs-eviction skew) flips the hash.
    *
    * Scale shape: a plain watermarked tumbling-window aggregation —
    * O(open windows) state, late rows discarded BEFORE the shuffle by
    * the stateful operator's filter, each window emitted once and its
    * state freed; the oracle-visible drops are the price of bounded
    * state, the exact trade a 100 TB stream makes.
    */
  private val streamLateDrops: Q = (s, d) => {
    val run = Materialized.runDir("graft_late_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    stageLateSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    withStreamingParallelism(s) {
      val q = raw
        .withWatermark("ts", "1 hour")
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_seconds(col("window.start")).as("hour_epoch"),
          col("event_type"), col("n"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    // append mode: each window emitted exactly once — no compaction
    s.read.parquet(out)
      .select(col("hour_epoch"), col("event_type"), col("n"))
  }

  /** The id of the watermark-flush sentinel user (see
    * [[streamSessionize]]); real users are nonnegative.
    */
  private[graft] val SentinelUser = -1L

  /** Gap-based sessionization as a REAL streaming job — the native
    * `session_window` operator with merging state, replayed over the
    * events table in APPEND mode (the scale-correct one: a session is
    * emitted exactly once, when the watermark passes its close, and
    * its state is evicted — bounded memory at any scale; Spark rejects
    * update mode for session windows). Shares `sessionize_native`'s
    * DuckDB oracle: streaming session-merge semantics must equal the
    * batch interval-merge SQL.
    *
    * The replay ends while the LAST sessions are still within the
    * watermark delay of the stream's end, so un-flushed they would
    * stay open in state and never emit — the standard drain move is a
    * SENTINEL event far past the end that advances the watermark over
    * every real session's close (the no-data micro-batch then emits
    * them). The sentinel rides a run-local staged source dir: the
    * events file is hard-linked (no data copy), the one-row sentinel
    * parquet sits next to it, and the sentinel's own forever-open
    * session is filtered from the read-back by its negative user id.
    */
  private val streamSessionize: Q = (s, d) => {
    val run = Materialized.runDir("graft_sessstream_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val src = stageSessionSource(s, d, schema, run)
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(src)
      // plain UTC TIMESTAMP: watermarks reject TIMESTAMP_NTZ; the run is
      // pinned UTC so the values equal the batch NTZ wall-clock
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select(col("user_id"), col("ts"))
    withStreamingParallelism(s) {
      val q = graft.streaming.WindowedAggs.sessionWindows(raw)
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    s.read.schema(
      "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, " +
        "n BIGINT").parquet(out)
      .filter(col("user_id") =!= SentinelUser)
      // the batch twin (sessionize_native) runs on the parquet's NTZ ts
      // and emits NTZ bounds; the streaming leg had to go through LTZ for
      // the watermark, so convert back (run is pinned UTC — values equal,
      // and r7 shipped without this cast → schema_match=false vs the
      // shared oracle)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n"))
  }

  /** Stage a streaming replay source dir: a hard link to the events
    * file (copy fallback) plus a single-row sentinel parquet whose
    * event time sits `sentinelOffsetNanos` past the stream's max — far
    * enough that the final watermark clears every real window/session
    * close (default: three 30-min session gaps; the hourly-window
    * replays pass three hours).
    */
  /** Stage `events.parquet` under `dest` with `ts` as a raw LONG of
    * NANOS — the one shape every replay below consumes. Old testdata
    * stores TIMESTAMP(NANOS), which the nanosAsLong reader already
    * surfaces as long, so staging is a zero-copy hard link; round-10
    * testdata stores native micros timestamps, so the staged copy
    * rebuilds `nanos = micros · 1000` (lossless, UTC-pinned session)
    * once per run dir. Downstream replay logic — nanos sentinels,
    * `ts div 1000`, per-event nanos lists — is identical either way,
    * so the physical-type change in the generator never reaches the
    * stateful operators.
    */
  private def stageNanosEvents(s: SparkSession, d: String,
      dest: java.nio.file.Path): String = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(dest)
    val events = Paths.get(d, "events.parquet")
    val onDisk = s.read.parquet(events.toString).schema("ts").dataType
    if (onDisk == org.apache.spark.sql.types.LongType) {
      linkOrCopy(events, dest.resolve("events.parquet"))
    } else {
      // native-micros testdata: the nanos-long rebuild is a pure
      // function of the source file, so build it ONCE per dataset
      // version via the SharedArtifacts publish/adopt protocol and
      // hard-link it into every replay's run dir — before r11 every
      // replay invocation re-ran this full read→rewrite (the dominant
      // fixed cost of the 15 streaming bench entries, ~45 s of the
      // r10 total)
      val part = nanosEventsArtifact(s, d)
      linkOrCopy(part, dest.resolve("events.parquet"))
    }
    dest.toString
  }

  /** The single-file nanos-long staging of `d/events.parquet`, built at
    * most once per DATASET VERSION (SharedArtifacts keys on the source
    * file's name/mtime/size, so regenerated testdata can never be
    * served a stale staging) and adopted by hard link everywhere else.
    */
  private lazy val nanosEventsArtifact = Materialized.shared("nanos_events",
      "nanos_events_", "nanos-long-v1", "events.parquet") { (_, base) =>
    Dirs.list(base.resolve("data"))
      .find(_.getFileName.toString.endsWith(".parquet")).get
  } { (s, d, staging) =>
    s.read.parquet(java.nio.file.Paths.get(d, "events.parquet").toString)
      .withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
      .coalesce(1).write.mode("overwrite")
      .parquet(staging.resolve("data").toString)
  }

  /** The per-dataset event stagings the replay faces hard-link (nanos
    * single-file, the two 4-file splits), as one bench item.
    */
  private[graft] lazy val eventStagings = Materialized.together(
    "stream_stagings_build")(Seq(nanosEventsArtifact, ivmEvents4, lateEvents4))

  private def linkOrCopy(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    try Files.createLink(dst, src)
    catch { case _: java.io.IOException => Files.copy(src, dst) }
  }

  private def stageSessionSource(s: SparkSession, d: String,
      schema: org.apache.spark.sql.types.StructType,
      run: java.nio.file.Path,
      sentinelOffsetNanos: Long = 3 * 1800L * 1000 * 1000 * 1000): String = {
    import java.nio.file.{Files, Paths}
    val src = run.resolve("src")
    stageNanosEvents(s, d, src)
    // one-row sentinel: max raw ts (nanos) + the offset; the single
    // driver scalar here is the same justified collect as a drain marker
    val maxTs = s.read.schema(schema)
      .parquet(src.resolve("events.parquet").toString)
      .agg(max(col("ts"))).head().getLong(0)
    val stage = run.resolve("sentinel_stage")
    val sentinel = s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        schema.fields.map {
          case f if f.name == "ts" => maxTs + sentinelOffsetNanos
          case f if f.name == "user_id" => SentinelUser
          case f => null.asInstanceOf[Any]
        }.toSeq: _*)),
      schema)
    sentinel.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Dirs.list(stage)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, src.resolve("zz_sentinel.parquet"))
    src.toString
  }

  /** Ingest-time near-dup detection — dedup AT THE DOOR, the shape a
    * 100 TB training pipeline actually runs: every arriving micro-batch
    * of documents bands itself with per-row expressions (NO shuffle,
    * [[graft.operators.Dedup.bandKeysPerRow]]) and probes KEYED STATE
    * on `(band, key)` ([[graft.streaming.BandBucketProcessor]] via
    * `transformWithState` on RocksDB) — so per-batch work is O(batch),
    * independent of how much has been ingested. The previous shape
    * (re-join each batch against an accumulated parquet band log) was
    * confluent too but re-scanned the WHOLE log per batch — O(corpus)
    * per batch, a scale-killer for the one query whose point is
    * ingest-time incremental dedup.
    *
    * Confluence: a pair is emitted exactly when its later-arriving
    * endpoint probes the bucket holding the earlier one, so the union
    * over any batching equals the all-at-once batch LSH query — this
    * query shares `dedup_minhash_lsh`'s DuckDB oracle (and the
    * multi-batch equality is spec-asserted with a 3-batch MemoryStream
    * ingest).
    *
    * At-least-once safety: the state store is versioned per batch, so
    * replay can't double-append membership; a replayed batch re-emits
    * its pair hits, and the reader's `countDistinct(band)` fold is
    * idempotent under duplicate hits.
    */
  private val streamDedupIngest: Q = (s, d) => {
    val run = Materialized.runDir("graft_ingest_", d)
    val pairsDir = run.resolve("pairs").toString
    val schema = T(s, d, "documents").schema
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    withStreamingParallelism(s) {
      withRocksDbStateStore(s) {
        val q = graft.streaming.IngestDedup.pairHits(raw)
          .writeStream.outputMode("append")
          .format("parquet").option("path", pairsDir)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk").toString)
          .start()
        q.awaitTermination()
        if (sys.env.contains("GRAFT_STREAM_DEBUG"))
          q.recentProgress.foreach(p => System.err.println(p.json))
      }
    }
    readIngestPairs(s, pairsDir)
  }

  /** MAINTAINED DEDUP INDEX — the IVM pattern applied to the dedup
    * signature artifact itself: the batch LSH family rebuilds its
    * signature table per dataset VERSION, but a 100 TB ingest pipeline
    * doesn't re-sign the corpus when documents arrive — it APPENDS the
    * newcomers' signatures to the maintained index. This face replays
    * exactly that maintenance: the resident three doc_id-rank quartiles
    * are signed once as the base index generation, the last quartile
    * arrives as a 3-micro-batch file stream, and each batch appends its
    * own signature generation (per-batch-id dir, so a replayed batch
    * overwrites itself — idempotent, the foreachBatch exactly-once
    * idiom). The emitted result is the LSH candidate-pair set derived
    * from the MAINTAINED index through the identical banding
    * ([[Dedup.bandPairs]]) — hash-checked against the from-scratch
    * `dedup_minhash_lsh` oracle over all documents: append-of-arrivals
    * ≡ rebuild, the same fold-of-changes ≡ recompute statement the
    * `stream_ivm_*` faces make for the alert table, stated for the
    * dedup index. (Signatures are per-doc and docs are immutable, so
    * the correct fold is pure append — no preimage/postimage pairs
    * arise.)
    *
    * Scale shape: per-batch cost is the batch's own shingle+minhash
    * work (never the corpus), the split rank is the once-per-staging
    * global row_number ([[stageIvmSource]]'s documented trade — a range
    * partition by id at real scale), and the read side unions
    * generation files exactly like the table manifests the lake layout
    * maintains.
    */
  /** One maintained-dedup-index BUILD per dataset version per process
    * (base generation + 3 streamed arrival generations of signatures),
    * shared by the maintained-index face and its compaction twin —
    * [[textIndexRun]]'s discipline. [[rerunReplayGroup]] drops
    * this memo for the `index` group so bench reruns repay the build;
    * the compaction face (a plain registry face, NOT a group member —
    * its fold is a named bench cost) adopts whatever build the group
    * left behind.
    */
  private lazy val dedupIndexRun = Materialized.memo("dedup_index",
      "graft_dix_", "dixrun:v1") { (s, d, run) =>
    val docs = T(s, d, "documents")
    val ranked = docQuartiles(docs)
    val idx = run.resolve("index")
    Dedup.sharedSigSlice(s, d,
        ranked.filter(col("bucket") < 3).select(col("doc_id")))
      .write.mode("overwrite").parquet(idx.resolve("base").toString)
    val srcDir = run.resolve("src").toString
    ranked.filter(col("bucket") === 3).drop("bucket")
      .repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Dedup.minhashSig(Dedup.shingleRows(batch))
            .write.mode("overwrite")
            .parquet(idx.resolve(f"b$batchId%05d").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    idx
  }

  /** Union every generation under an index dir. Generation dirs are
    * listed explicitly (a glob path would make the batch reader probe
    * it for streaming-sink metadata and log a spurious
    * FileNotFoundException before falling back).
    */
  private def readIndexGens(s: SparkSession,
      idx: java.nio.file.Path): DataFrame = {
    val gens = Dirs.list(idx).map(_.toString).sorted
    s.read.parquet(gens: _*)
  }

  private val dedupIndexIvm: Q = (s, d) =>
    Dedup.bandPairs(readIndexGens(s, dedupIndexRun(s, d)))

  /** MAINTAINED-DEDUP-INDEX COMPACTION — [[textIndexCompact]]'s
    * lifecycle op applied to the signature store: generations
    * accumulate one per arriving batch, and a production tier
    * periodically rewrites them into a single base so the read side
    * (and every at-ingest band probe) stops folding an ever-growing
    * generation list. Signatures are per-doc rows over immutable docs
    * — pure append, no partials — so compaction here is exactly the
    * concatenating rewrite, and fold(compact(gens)) ≡ fold(gens) is
    * set equality of the unioned rows. The emitted result is the LSH
    * candidate-pair set derived from the COMPACTED single-generation
    * index, hash-checked against the same from-scratch
    * `dedup_minhash_lsh` oracle as `dedup_index_ivm`: compaction must
    * be invisible to every query.
    *
    * Scale shape: one linear rewrite of the signature store — O(index
    * bytes), never O(corpus re-shingle); at 100 TB it bounds the
    * file-count and probe-scan growth the r15 rung measured (the cc
    * fold's 7 → 12 s/batch from 10× to 100× generation depth).
    */
  private val dedupIndexCompact: Q = (s, d) => {
    val idx = dedupIndexRun(s, d)
    val cidx = idx.getParent.resolve("compacted")
    readIndexGens(s, idx).write.mode("overwrite")
      .parquet(cidx.resolve("base").toString)
    Dedup.bandPairs(readIndexGens(s, cidx))
  }

  /** MAINTAINED VECTOR INDEX — [[dedupIndexIvm]]'s pattern applied to
    * the IVF index: a production ANN tier does not retrain its
    * quantizer when vectors arrive — it FREEZES the trained centroids
    * and assigns newcomers incrementally (FAISS's add-after-train
    * contract). Here the quantizer trains on the RESIDENT three
    * vec_id-rank quartiles only ([[Similarity.ivfTrainOn]]), the base
    * inverted lists build once, and the last quartile arrives as a
    * 3-micro-batch stream whose batches each assign against the frozen
    * (parquet-written, so bit-stable) centroids and append their own
    * list generation. Emits the full maintained `(vec_id, cid)` lists
    * — hash-checked against the oracle's one-shot assignment of ALL
    * vectors under the SAME base-trained quantizer: append-of-arrivals
    * ≡ rebuild, given the frozen quantizer — which is the true IVM
    * identity here (retraining on arrival would move centroids and is
    * exactly what production defers to a reindex).
    *
    * Scale shape: per-batch cost is |batch| × C broadcast argmin —
    * never the corpus; the quartile split is the staged row_number
    * ([[stageIvmSource]]'s documented trade).
    */
  /** One maintained-vector-index BUILD per dataset version per process
    * (frozen base-trained quantizer + base lists + 3 streamed arrival
    * list generations), shared by the maintained-index face and its
    * compaction twin — [[textIndexRun]]'s discipline, memo dropped
    * by [[rerunReplayGroup]] so bench reruns repay the build.
    */
  private lazy val simIndexRun = Materialized.memo("sim_index",
      "graft_six_", "sixrun:v1") { (s, d, run) =>
    val emb = T(s, d, "embeddings")
    val proj = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val ranked = rankQuartiles(proj, "vec_id", Seq(col("vec_id")))
    val idx = run.resolve("lists")
    // freeze the base-trained quantizer through parquet (bit-stable
    // doubles; the pqFromCodebook discipline)
    graft.operators.Similarity
      .ivfTrainOn(ranked.filter(col("bucket") < 3).drop("bucket"))
      .write.mode("overwrite").parquet(run.resolve("cents").toString)
    val frozen = s.read.parquet(run.resolve("cents").toString)
    graft.operators.Similarity
      .assignCells(ranked.filter(col("bucket") < 3).drop("bucket"), frozen)
      .write.mode("overwrite").parquet(idx.resolve("base").toString)
    // the arriving tail: ids only through the stream (the file source
    // re-reads vectors per batch from the staged parquet)
    val srcDir = run.resolve("src").toString
    emb.join(ranked.filter(col("bucket") === 3).select(col("vec_id")),
        Seq("vec_id"))
      .repartition(3, col("vec_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.operators.Similarity.assignCells(
              batch.select(col("vec_id"),
                graft.functions.VectorFunctions.asDouble(col("embedding"))
                  .as("v")),
              frozen)
            .write.mode("overwrite")
            .parquet(idx.resolve(f"b$batchId%05d").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    idx
  }

  private val simIndexIvm: Q = (s, d) =>
    readIndexGens(s, simIndexRun(s, d))
      .select(col("vec_id"), col("cid").cast("long").as("cid"))

  /** MAINTAINED-VECTOR-INDEX COMPACTION — the IVF list store's
    * lifecycle op: arrival generations rewrite into one base (cell
    * assignments are per-vector rows under the FROZEN quantizer —
    * pure append, so compaction is the concatenating rewrite; the
    * quantizer itself never changes, which is exactly why the rewrite
    * is safe — a retrain would be a reindex, not a compaction). The
    * emitted result is the full maintained lists read from the
    * COMPACTED store, hash-checked against the same frozen-quantizer
    * one-shot-assignment oracle as `sim_index_ivm`.
    *
    * Scale shape: one linear rewrite of the list store — in FAISS
    * terms, merging the add-log into the inverted lists; at 100 TB it
    * runs cell-partition-parallel and bounds per-probe file fan-in.
    */
  private val simIndexCompact: Q = (s, d) => {
    val idx = simIndexRun(s, d)
    val cidx = idx.getParent.resolve("compacted")
    readIndexGens(s, idx).write.mode("overwrite")
      .parquet(cidx.resolve("base").toString)
    readIndexGens(s, cidx)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
  }

  /** INGEST-TIME DECONTAMINATION — `dedup_decontam_lsh` run AT THE
    * DOOR, the shape a production pipeline actually wants (reject a
    * contaminated training document when it ARRIVES, not in a nightly
    * sweep): the held-out reference freezes once as a static artifact
    * (its band keys, shingles, and sizes through parquet), and every
    * arriving micro-batch bands ITSELF per row
    * ([[Dedup.bandKeysPerRow]] — no shuffle), probes the static band
    * keys by equi-join, and exact-verifies only its own candidates.
    * NO state store at all: each train doc's verdict depends on
    * nothing but itself and the frozen reference, so the face is
    * stateless stream-static — confluent with the batch query by
    * construction, and the gate proves it: the union of per-batch
    * verdicts hash-checks against `dedup_decontam_lsh`'s from-scratch
    * DuckDB oracle over the whole corpus.
    *
    * Scale shape: per-batch cost is the batch's own shingle/band work
    * plus equi-probes into the reference (which a cluster broadcasts
    * or bucket-joins — it is benchmark-suite-sized, but nothing here
    * REQUIRES it to fit in memory, unlike `contamination_check`'s
    * broadcast); the corpus never reappears after staging.
    */
  private val streamDecontam: Q = (s, d) => {
    val run = Materialized.runDir("graft_sdecon_", d)
    val out = run.resolve("out")
    val docs = T(s, d, "documents")
    val isEval =
      col("doc_id") % Dedup.DecontamEvalMod === Dedup.DecontamEvalRem
    val evalDocs = docs.filter(isEval)
    val evalSh = Dedup.shingleRows(evalDocs)
    Dedup.bandKeys(Dedup.minhashSig(evalSh))
      .write.mode("overwrite").parquet(run.resolve("ebands").toString)
    evalSh.write.mode("overwrite")
      .parquet(run.resolve("eshingles").toString)
    val eb = s.read.parquet(run.resolve("ebands").toString)
      .select(col("doc_id").as("eval_id"), col("band"), col("key"))
    val esh = s.read.parquet(run.resolve("eshingles").toString)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    val esz = esh.groupBy(col("eval_id")).agg(count(lit(1)).as("ne"))
    val srcDir = run.resolve("src").toString
    docs.filter(!isEval).repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val bands = Dedup.bandKeysPerRow(batch)
            .select(col("doc_id").as("train_id"), col("band"), col("key"))
          val cand = bands.join(eb, Seq("band", "key"))
            .groupBy(col("eval_id"), col("train_id"))
            .agg(count(lit(1)).as("n_bands"))
          val bsh = Dedup.shingleRows(batch)
            .select(col("doc_id").as("train_id"), col("shingle"))
          val bsz = bsh.groupBy(col("train_id")).agg(count(lit(1)).as("nt"))
          val inter = cand.select(col("eval_id"), col("train_id"))
            .join(esh, Seq("eval_id"))
            .join(bsh, Seq("train_id", "shingle"))
            .groupBy(col("eval_id"), col("train_id"))
            .agg(count(lit(1)).as("i"))
          cand.join(inter, Seq("eval_id", "train_id"))
            .join(esz, Seq("eval_id")).join(bsz, Seq("train_id"))
            .withColumn("jac_bp", expr("i * 10000 div (ne + nt - i)"))
            .filter(col("jac_bp") >= Dedup.DecontamFloorBp)
            .select(col("eval_id"), col("train_id"), col("n_bands"),
              col("jac_bp"))
            .write.mode("overwrite")
            .parquet(out.resolve(f"b$batchId%05d").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val gens = Dirs.list(out).map(_.toString).sorted
    s.read.parquet(gens: _*)
  }

  /** SUBSTRING GATE AT INGEST — `dedup_substring`'s verbatim-copy scan
    * run AT THE DOOR, the [[streamDecontam]] idiom applied to
    * character-level duplication: the resident corpus's word-anchored
    * window set freezes once as a static DISTINCT-gram artifact, and
    * every arriving micro-batch extracts ITS OWN windows (a per-row
    * array expression — no shuffle), probes the frozen grams by
    * equi-join, and emits the arriving doc's verbatim-copy counters
    * `(doc_id, n_grams, n_dup, dup_bp)`. One direction only — the door
    * probe never compares arrivals to each other (cross-arrival dups
    * surface in the nightly `dedup_substring` sweep), which is exactly
    * what makes it STATELESS stream-static: each verdict depends on
    * nothing but the row and the frozen reference, so the union of
    * per-batch verdicts hash-checks against the batch restatement over
    * the whole corpus.
    *
    * Scale shape: per-batch cost is the batch's own window extraction
    * plus equi-probes into the resident gram set (bucket-joined or
    * broadcast tier-by-tier at 100 TB); the resident corpus never
    * re-scans after staging.
    */
  private val streamSubstringGate: Q = (s, d) => {
    val run = Materialized.runDir("graft_ssub_", d)
    val out = run.resolve("out")
    val docs = T(s, d, "documents")
    val isArr = col("doc_id") % Dedup.SubResMod === Dedup.SubArrRem
    Dedup.substringGrams(docs.filter(!isArr))
      .select(col("gram")).distinct()
      .write.mode("overwrite").parquet(run.resolve("resgrams").toString)
    val res = s.read.parquet(run.resolve("resgrams").toString)
      .withColumn("isdup", lit(1L))
    val srcDir = run.resolve("src").toString
    docs.filter(isArr).repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Dedup.substringGrams(batch)
            .join(res, Seq("gram"), "left")
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_grams"),
              sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
            .withColumn("dup_bp", expr("n_dup * 10000 div n_grams"))
            .write.mode("overwrite")
            .parquet(out.resolve(f"b$batchId%05d").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val gens = Dirs.list(out).map(_.toString).sorted
    s.read.parquet(gens: _*)
  }

  /** LABEL-CONSISTENCY CLASSIFIER AT INGEST — `sim_knn_classify` run
    * AT THE DOOR, the [[streamDecontam]] idiom applied to the
    * embedding-quality probe: the IVF index freezes once as
    * yesterday's export (the shared artifact's centroids plus every
    * vector at its home cell with its label — bit-stable through
    * parquet), and every arriving micro-batch of vectors classifies
    * ITSELF against it ([[Similarity.classifyAgainstFrozen]]: probe
    * the nearest frozen cells, exact-rescore the frozen home-cell
    * members, majority-vote). Each verdict depends on nothing but the
    * row and the frozen index — stateless stream-static, so the union
    * of per-batch verdicts rolls up to exactly the batch leave-one-out
    * probe's confusion matrix restricted to arrivals, which is the
    * DuckDB oracle this face shares (the batch probe's candidate set
    * for an arrival IS the frozen index, verbatim).
    *
    * Scale shape: per-batch cost is |batch| × C probe work plus
    * probes × mean cell size exact rescorings — never the corpus; the
    * index is equi-probed on the cell id (bucket-partitioned at
    * 100 TB), exactly the online-classification topology a drifting
    * encoder export is caught by.
    */
  private val streamKnnClassify: Q = (s, d) => {
    val run = Materialized.runDir("graft_sknc_", d)
    val out = run.resolve("out")
    val emb = T(s, d, "embeddings")
    val (corpus, centroids) = Similarity.frozenKnnIndex(s, d)
    val isArr = pmod(col("vec_id"), lit(Similarity.ClsArrMod)) ===
      Similarity.ClsArrRem
    val srcDir = run.resolve("src").toString
    emb.filter(isArr).repartition(3, col("vec_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Similarity.classifyAgainstFrozen(
              batch.select(col("vec_id"),
                graft.functions.VectorFunctions.asDouble(col("embedding"))
                  .as("v"))
                .withColumn("nrm",
                  graft.functions.VectorFunctions.norm2(col("v"))),
              centroids, corpus)
            .write.mode("overwrite")
            .parquet(out.resolve(f"b$batchId%05d").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val gens = Dirs.list(out).map(_.toString).sorted
    s.read.parquet(gens: _*)
      .join(emb.select(col("vec_id"),
        col("label").cast("long").as("label")), Seq("vec_id"))
      .groupBy(col("label").as("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** SUBSTRING REWRITE AT INGEST — `dedup_substring_rewrite` run AT
    * THE DOOR: the gate ([[streamSubstringGate]]) COUNTS an arriving
    * doc's verbatim-copied windows; this face REMOVES them before the
    * doc is ever stored — the production curation shape (pay storage
    * and index costs for the deduplicated text only). Same frozen
    * resident distinct-gram artifact, same per-row window extraction;
    * the flagged anchors feed the shared interval-union carve
    * ([[Dedup.carveFlagged]]). One direction only, so the face stays
    * stateless stream-static and the union of per-batch rewrites
    * hash-checks against the batch restatement over all arrivals —
    * including the rewritten strings (exact span arithmetic).
    */
  private val streamSubstringRewrite: Q = (s, d) => {
    val run = Materialized.runDir("graft_ssrw_", d)
    val out = run.resolve("out")
    val docs = T(s, d, "documents")
    val isArr = col("doc_id") % Dedup.SubResMod === Dedup.SubArrRem
    Dedup.substringGrams(docs.filter(!isArr))
      .select(col("gram")).distinct()
      .write.mode("overwrite").parquet(run.resolve("resgrams").toString)
    val res = s.read.parquet(run.resolve("resgrams").toString)
    val srcDir = run.resolve("src").toString
    docs.filter(isArr).repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Dedup.carveFlagged(batch,
              Dedup.substringGramPos(batch).join(res, Seq("gram"))
                .select(col("doc_id"), col("pos")))
            .write.mode("overwrite")
            .parquet(out.resolve(f"b$batchId%05d").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val gens = Dirs.list(out).map(_.toString).sorted
    s.read.parquet(gens: _*)
  }

  /** QUALITY GATE AT INGEST — `text_quality_classifier` run AT THE
    * DOOR: every arriving document scores through the frozen-weight
    * linear classifier the moment it lands, the production shape (a
    * curation tier rejects junk before paying storage and index costs
    * for it, not in a nightly sweep). Unlike the foreachBatch replays
    * this is a PURE streaming query — the classifier is per-row with no
    * shuffle, so the whole face is map-only stream → append sink, the
    * cheapest topology Structured Streaming has (and the reason linear
    * filters run first at 100 TB: per-arrival cost is exactly one
    * row's expressions). Stateless stream-static degenerated to
    * stateless stream-ONLY: confluent with the batch classifier by
    * construction, and the gate proves it — the union of per-arrival
    * verdicts hash-checks against the from-scratch batch oracle over
    * the whole corpus.
    */
  private val streamQualityGate: Q = (s, d) => {
    val run = Materialized.runDir("graft_sqg_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val docs = T(s, d, "documents")
    val srcDir = run.resolve("src").toString
    docs.repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = TextAnalysis.qualityClassifierOn(raw)
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    s.read
      .schema("doc_id BIGINT, score_scaled BIGINT, p_bp BIGINT, kept BIGINT")
      .parquet(out)
  }

  /** DRIFT MONITOR AT INGEST — the embedding-distribution check run
    * the way production actually runs it: the REFERENCE slice (vec_id
    * parity 0 — "yesterday's index export") freezes its per-dimension
    * ranges and bucket histogram once as parquet artifacts, and every
    * arriving micro-batch of new vectors bins ITSELF against the
    * frozen ranges (out-of-range values clamp into the edge buckets —
    * `xq` clamps into [mn, mx] BEFORE the div so the numerator stays
    * nonnegative, where Spark's truncating div ≡ DuckDB's flooring //)
    * and appends one generation of per-(dim, bucket) partial counts.
    * The read side folds the partials by SUM — the mergeable-aggregate
    * identity again — full-outer joins the frozen reference histogram,
    * and emits `embed_drift`'s exact-int64 cross-multiplied L1 report.
    * Next to `embed_drift`'s joint-range batch semantics this is the
    * FROZEN-reference semantics: the monitor that rejects a mis-scaled
    * encoder export the day it arrives cannot re-derive its bins from
    * data that includes the bad export. Per-batch cost is the batch's
    * own posexplode + a 64-row broadcast probe — never the corpus.
    */
  private val streamEmbedDrift: Q = (s, d) => {
    val run = Materialized.runDir("graft_sdrift_", d)
    val out = run.resolve("gens")
    val emb = T(s, d, "embeddings")
    val B = Similarity.DriftBuckets
    // freeze the reference ranges + histogram (bit-stable via parquet)
    val refEl = Similarity.sqElements(emb.filter(pmod(col("vec_id"), lit(2)) === 0))
    refEl.groupBy(col("i"))
      .agg(min(col("xq")).as("mn"), max(col("xq")).as("mx"))
      .write.mode("overwrite").parquet(run.resolve("ranges").toString)
    val ranges = s.read.parquet(run.resolve("ranges").toString)
    refEl.join(broadcast(ranges), Seq("i"))
      .withColumn("bucket", expr(s"((xq - mn) * $B) div (mx - mn + 1)"))
      .groupBy(col("i"), col("bucket")).agg(count(lit(1)).as("n_a"))
      .write.mode("overwrite").parquet(run.resolve("refhist").toString)
    val srcDir = run.resolve("src").toString
    emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      .repartition(3, col("vec_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Similarity.sqElements(batch)
            .join(broadcast(batch.sparkSession.read
              .parquet(run.resolve("ranges").toString)), Seq("i"))
            .withColumn("xqc",
              least(greatest(col("xq"), col("mn")), col("mx")))
            .withColumn("bucket",
              expr(s"((xqc - mn) * $B) div (mx - mn + 1)"))
            .groupBy(col("i"), col("bucket"))
            .agg(count(lit(1)).as("n_b_part"))
            .write.mode("overwrite")
            .parquet(out.resolve(f"b$batchId%05d").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val gens = Dirs.list(out).map(_.toString).sorted
    val arrHist = s.read.parquet(gens: _*)
      .groupBy(col("i"), col("bucket"))
      .agg(sum(col("n_b_part")).as("n_b"))
    val counts = s.read.parquet(run.resolve("refhist").toString)
      .join(arrHist, Seq("i", "bucket"), "full_outer")
      .select(col("i"), col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = counts.groupBy(col("i"))
      .agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    counts.join(totals, Seq("i"))
      .withColumn("contrib",
        abs(col("n_a") * col("tb") - col("n_b") * col("ta")))
      .groupBy(col("i"))
      .agg(min(col("ta")).as("n_a_total"), min(col("tb")).as("n_b_total"),
        sum(col("contrib")).as("l1_x_scaled"),
        max(col("contrib")).as("max_bucket_contrib"))
  }

  /** MAINTAINED INVERTED TEXT INDEX — [[dedupIndexIvm]]'s pattern
    * applied to the BM25 search tier: a production index does not
    * re-tokenize the corpus when documents arrive — it appends the
    * newcomers' postings and MERGES their partial term statistics. The
    * resident three doc_id-rank quartiles token-scan once into the base
    * generation of four frames (postings `(doc_id, term, tf)`, doc
    * lengths, per-term partial document frequencies, single-row partial
    * corpus stats); the last quartile arrives as a 3-micro-batch file
    * stream whose batches each scan ONLY THEMSELVES and append their
    * own generation of the same four frames (per-batch-id dirs — the
    * idempotent exactly-once idiom). The read side unions the postings
    * and length generations (pure append: docs are immutable, so no
    * preimage/postimage pairs arise) and folds the df/stats partials by
    * SUM — the mergeable-aggregate identity (count over a disjoint
    * union = sum of per-part counts) that lets a 100 TB tier maintain
    * document frequencies without ever recounting the corpus. The
    * emitted result is the `text_bm25_grouped` ranking computed from
    * the MAINTAINED frames through the identical scoring joins
    * ([[TextAnalysis.bm25GroupedScoredFrom]]) — hash-checked against
    * the from-scratch oracle over ALL documents: append-of-arrivals +
    * merge-of-partials ≡ rebuild.
    *
    * Scale shape: per-batch cost is the batch's own token scan (never
    * the corpus); the quartile split is the staged row_number
    * ([[stageIvmSource]]'s documented trade); the read side's df fold
    * shuffles only |generations| × |vocab-per-gen| partial rows.
    */
  /** One maintained-text-index GENERATION: token-scan ONLY `batch` and
    * write its postings, doc lengths, partial term-df counts, and the
    * single partial stats row under `idx` — the per-batch body of
    * [[textIndexIvm]], `private[graft]` so the scale rung can time it
    * against rung-sized resident corpora.
    */
  private[graft] def textIndexGen(batch: DataFrame,
      idx: java.nio.file.Path, gen: String): Unit = {
    val tok = batch.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("term"))
    tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(idx.resolve(s"post/$gen").toString)
    textIndexDeriveFromPost(batch.sparkSession, idx, gen)
  }

  /** Derive a generation's dl/df/st frames from its WRITTEN posting
    * file instead of re-running the tokenize pipeline per write (the
    * four lazy writes each re-executed scan+split+explode): dl is the
    * doc's token count = SUM(tf) over its postings (exact long
    * arithmetic), df counts posting rows per term — value-identical by
    * construction (spec-pinned in TextIndexGenSpec), one tokenize pass
    * per generation instead of four.
    */
  private def textIndexDeriveFromPost(sp: SparkSession,
      idx: java.nio.file.Path, gen: String): Unit = {
    val tfb = sp.read.parquet(idx.resolve(s"post/$gen").toString)
    tfb.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .write.mode("overwrite").parquet(idx.resolve(s"dl/$gen").toString)
    val dlb = sp.read.parquet(idx.resolve(s"dl/$gen").toString)
    tfb.groupBy(col("term")).agg(count(lit(1)).as("dfp"))
      .write.mode("overwrite").parquet(idx.resolve(s"df/$gen").toString)
    dlb.agg(count(lit(1)).as("np"), sum(col("dl")).as("totalp"))
      .write.mode("overwrite").parquet(idx.resolve(s"st/$gen").toString)
  }

  /** The per-dataset shared tokenized-corpus artifact: `(doc_id, term,
    * tf)` over the FULL corpus, built ONCE per (dataset, content
    * version) through the [[SharedArtifacts]] publish/adopt protocol by
    * the same tokenize pipeline [[textIndexGen]] runs — so a slice of
    * it is value-identical to a fresh tokenize of the same ids. The
    * maintained tokenization a 100 TB curation tier shares across jobs,
    * mirroring [[Dedup.sharedSigSlice]] (the r18-named text-base
    * deferral).
    */
  private[graft] lazy val sharedTfTable = Materialized.shared(
      "tf_shared_build", "tf_", "tf:v1", "documents.parquet")(
      Materialized.parquet("tf")) { (s, d, staging) =>
    T(s, d, "documents").select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(staging.resolve("tf").toString)
  }

  /** A replay BASE text-index generation as a semi-join SLICE of the
    * shared tokenized-corpus artifact — never a re-tokenize of the
    * resident corpus (the adoption move [[Dedup.sharedSigSlice]] made
    * for signatures, applied to text). Arrivals still tokenize
    * THEMSELVES through [[textIndexGen]]: the door's fold cost is the
    * batch's own work, as in production.
    */
  private[graft] def textIndexBaseFromShared(s: SparkSession, d: String,
      ids: DataFrame, idx: java.nio.file.Path,
      gen: String = "base"): Unit = {
    sharedTfTable(s, d).join(ids, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(idx.resolve(s"post/$gen").toString)
    textIndexDeriveFromPost(s, idx, gen)
  }

  /** One maintained-index BUILD per dataset version per process (base
    * generation + 3 streamed arrival generations), shared by the
    * maintained-index face and its compaction twin — two full replays
    * inside one group run would double the group bill for no extra
    * evidence. [[rerunReplayGroup]] drops this memo for the `index`
    * group so bench reruns repay the build.
    */
  private lazy val textIndexRun = Materialized.memo("text_index",
      "graft_tix_", "tixrun:v1") { (s, d, run) =>
    val docs = T(s, d, "documents")
    val ranked = docQuartiles(docs)
    val idx = run.resolve("index")
    def writeGen(batch: DataFrame, gen: String): Unit =
      textIndexGen(batch, idx, gen)
    // the base adopts the shared tokenized-corpus artifact
    // (row-identical to a fresh tokenize, spec-pinned); streamed
    // arrival generations below tokenize themselves
    textIndexBaseFromShared(s, d,
      ranked.filter(col("bucket") < 3).select(col("doc_id")), idx)
    val srcDir = run.resolve("src").toString
    ranked.filter(col("bucket") === 3).drop("bucket")
      .repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          writeGen(batch, f"b$batchId%05d")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    idx
  }

  /** Union every generation of one maintained-index frame. */
  private def readTextGens(s: SparkSession, idx: java.nio.file.Path,
      sub: String): DataFrame = {
    val gens = Dirs.list(idx.resolve(sub)).map(_.toString).sorted
    s.read.parquet(gens: _*)
  }

  /** The `text_bm25_grouped` ranking computed from maintained frames
    * through the identical scoring joins — the read side both index
    * faces share.
    */
  private def scoreTextIndex(s: SparkSession,
      idx: java.nio.file.Path): DataFrame =
    TextAnalysis.bm25GroupedRanked(TextAnalysis.bm25GroupedScoredFrom(
      readTextGens(s, idx, "post"),
      readTextGens(s, idx, "dl"),
      readTextGens(s, idx, "df")
        .groupBy(col("term")).agg(sum(col("dfp")).as("df")),
      readTextGens(s, idx, "st").agg(sum(col("np")).as("n"),
        sum(col("totalp")).as("total"))))

  private val textIndexIvm: Q = (s, d) =>
    scoreTextIndex(s, textIndexRun(s, d))

  /** MAINTAINED-INDEX COMPACTION — the lifecycle op the IVM family was
    * missing: generations accumulate one per arriving batch, and a
    * production tier periodically MERGES them back to a single base
    * (the LSM compaction shape) so the read side stops folding an
    * ever-growing generation list. Compaction here is exactly the read
    * side's fold made durable: postings and doc lengths concatenate
    * (append-only frames over immutable docs — no preimages to
    * reconcile), df and corpus-stats partials SUM-merge into one
    * partial each (a compacted partial is still a partial — the
    * mergeable-aggregate identity means fold(compact(gens)) ≡
    * fold(gens) by associativity). The emitted result is the ranking
    * scored from the COMPACTED single-generation index, hash-checked
    * against the same from-scratch oracle as `text_index_ivm`:
    * compaction must be invisible to every query.
    *
    * Scale shape: compaction cost is one linear pass per frame (a
    * concatenating rewrite of postings/lengths, a SUM shuffle over
    * |gens|·|vocab-per-gen| partial rows) — O(index), never O(corpus
    * re-tokenization); at 100 TB it runs tier-by-tier on the same
    * schedule as any LSM store.
    */
  private val textIndexCompact: Q = (s, d) => {
    val idx = textIndexRun(s, d)
    val cidx = idx.getParent.resolve("compacted")
    readTextGens(s, idx, "post").write.mode("overwrite")
      .parquet(cidx.resolve("post/base").toString)
    readTextGens(s, idx, "dl").write.mode("overwrite")
      .parquet(cidx.resolve("dl/base").toString)
    readTextGens(s, idx, "df")
      .groupBy(col("term")).agg(sum(col("dfp")).as("dfp"))
      .write.mode("overwrite").parquet(cidx.resolve("df/base").toString)
    readTextGens(s, idx, "st")
      .agg(sum(col("np")).as("np"), sum(col("totalp")).as("totalp"))
      .write.mode("overwrite").parquet(cidx.resolve("st/base").toString)
    scoreTextIndex(s, cidx)
  }

  /** Deletion slice of the maintained-index takedown face: every
    * indexed doc with `doc_id % TakedownMod = TakedownRem` (disjoint
    * from the ranking's query docs 0..9 by construction).
    */
  private[graft] val TakedownMod = 16L
  private[graft] val TakedownRem = 13L

  /** MAINTAINED-INDEX DELETION — the takedown op a production corpus
    * index cannot ship without (rights removals, contamination
    * purges): remove a document set from the maintained text index
    * WITHOUT re-tokenizing the corpus. Deletion is one generation of
    * two shapes, both derived from the STORED index alone:
    *
    *  - TOMBSTONES for the row-wise frames (postings, doc lengths) —
    *    the read side anti-joins them, compaction would drop the rows
    *    physically;
    *  - NEGATIVE PARTIALS for the mergeable aggregates (per-term df,
    *    corpus stats) — the Z-set/DBSP move: a deletion is a partial
    *    with negative multiplicity, and the read side's existing SUM
    *    fold nets it out with no new code path. The negatives recount
    *    the victims' stored postings, never the corpus.
    *
    * Emitted result: the grouped-BM25 ranking from the tombstoned
    * index — hash-checked against the from-scratch oracle over
    * `documents` MINUS the deleted set: delete-fold ≡ rebuild-without.
    *
    * Scale shape: the deletion generation costs O(victims' postings)
    * (semi-joins into the stored frames); the read side adds one
    * anti-join per row-wise frame and zero change to the partial
    * folds. At 100 TB a takedown touches the index, never the corpus.
    */
  private val textIndexDelete: Q = (s, d) => {
    val idx = textIndexRun(s, d)
    val del = idx.getParent.resolve("deletes")
    val isDel = pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem
    // tombstones: the victims AS INDEXED (read from the stored doc
    // lengths — the corpus is never consulted)
    readTextGens(s, idx, "dl").select(col("doc_id")).filter(isDel)
      .write.mode("overwrite").parquet(del.resolve("tomb").toString)
    val tomb = s.read.parquet(del.resolve("tomb").toString)
    // negative partials, recounted from the victims' stored postings
    readTextGens(s, idx, "post")
      .join(tomb, Seq("doc_id"), "left_semi")
      .groupBy(col("term"))
      .agg((lit(0L) - count(lit(1))).as("dfp"))
      .write.mode("overwrite").parquet(del.resolve("dfneg").toString)
    readTextGens(s, idx, "dl")
      .join(tomb, Seq("doc_id"), "left_semi")
      .agg((lit(0L) - count(lit(1))).as("np"),
        (lit(0L) - sum(col("dl"))).as("totalp"))
      .write.mode("overwrite").parquet(del.resolve("stneg").toString)
    // read side: anti-join the row frames, SUM the partials as ever
    // (the negative generation rides the existing fold)
    val post = readTextGens(s, idx, "post")
      .join(tomb, Seq("doc_id"), "left_anti")
    val dl = readTextGens(s, idx, "dl")
      .join(tomb, Seq("doc_id"), "left_anti")
    val df = readTextGens(s, idx, "df")
      .union(s.read.parquet(del.resolve("dfneg").toString))
      .groupBy(col("term")).agg(sum(col("dfp")).as("df"))
      .filter(col("df") > 0)
    val st = readTextGens(s, idx, "st")
      .union(s.read.parquet(del.resolve("stneg").toString))
      .agg(sum(col("np")).as("n"), sum(col("totalp")).as("total"))
    TextAnalysis.bm25GroupedRanked(
      TextAnalysis.bm25GroupedScoredFrom(post, dl, df, st))
  }

  /** MAINTAINED-DEDUP-INDEX DELETION — [[textIndexDelete]]'s takedown
    * applied to the signature store: signatures are per-doc rows, so
    * deletion is tombstones alone (no mergeable partials to negate);
    * the read side anti-joins them and derives candidate pairs from
    * the survivors. A deleted doc's removal erases exactly the pairs
    * it participated in and nothing else (pairs are per-endpoint), so
    * the tombstoned index's pair set hash-checks against the
    * from-scratch LSH oracle restricted to surviving endpoints.
    */
  private val dedupIndexDelete: Q = (s, d) => {
    val idx = dedupIndexRun(s, d)
    val del = idx.getParent.resolve("deletes")
    readIndexGens(s, idx).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem)
      .distinct()
      .write.mode("overwrite").parquet(del.resolve("tomb").toString)
    val tomb = s.read.parquet(del.resolve("tomb").toString)
    Dedup.bandPairs(
      readIndexGens(s, idx).join(tomb, Seq("doc_id"), "left_anti"))
  }

  /** MAINTAINED-VECTOR-INDEX DELETION — the takedown for the IVF list
    * store: cell assignments are per-vector rows under the FROZEN
    * quantizer, so deletion is tombstones alone, and the quantizer
    * does NOT retrain (FAISS's remove_ids contract — retraining is a
    * reindex). The read side hash-checks against the frozen-quantizer
    * one-shot-assignment oracle restricted to surviving vectors.
    */
  private val simIndexDelete: Q = (s, d) => {
    val idx = simIndexRun(s, d)
    val del = idx.getParent.resolve("deletes")
    readIndexGens(s, idx).select(col("vec_id"))
      .filter(pmod(col("vec_id"), lit(TakedownMod)) === TakedownRem)
      .write.mode("overwrite").parquet(del.resolve("tomb").toString)
    val tomb = s.read.parquet(del.resolve("tomb").toString)
    readIndexGens(s, idx).join(tomb, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
  }

  /** TAKEDOWN AT THE DOOR — [[textIndexDelete]]'s deletion folded from
    * a STREAM of removal requests: a production index receives
    * takedowns (rights removals, contamination purges) continuously,
    * not as one batch job. Every indexed victim arrives as a doc_id in
    * a 3-micro-batch request stream; each batch folds its OWN deletion
    * generation against the stored index — tombstones for the
    * row-wise frames, negative df/stats partials recounted from the
    * batch's victims' stored postings — so per-request cost is
    * O(victims' postings) and the corpus is never consulted. The read
    * side anti-joins the UNION of tombstone generations and SUM-folds
    * the positive and negative partial generations together (the
    * Z-set identity: disjoint request batches contribute disjoint
    * negatives, so the fold nets out exactly once per victim).
    *
    * Emitted result: the grouped-BM25 ranking after all request
    * batches — the same rebuild-without oracle as `text_index_delete`
    * (stream-of-deletions ≡ one-shot deletion ≡ rebuild-without),
    * and the spec pins the first identity row-for-row in-engine.
    */
  private val streamIndexDelete: Q = (s, d) => {
    val idx = textIndexRun(s, d)
    val run = Materialized.runDir("graft_sdel_", d)
    val del = run.resolve("del")
    // the takedown REQUESTS: ids only (a request names the doc; the
    // index supplies everything else), arriving in three batches
    val srcDir = run.resolve("src").toString
    readTextGens(s, idx, "dl").select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem)
      .repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema("doc_id BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          val gen = f"b$batchId%05d"
          // tombstones: the batch's requests AS INDEXED (idempotent
          // per-gen overwrite; requests for unindexed docs are no-ops)
          batch.dropDuplicates("doc_id")
            .join(readTextGens(sp, idx, "dl").select(col("doc_id")),
              Seq("doc_id"), "left_semi")
            .write.mode("overwrite")
            .parquet(del.resolve(s"tomb/$gen").toString)
          val tomb = sp.read.parquet(del.resolve(s"tomb/$gen").toString)
          readTextGens(sp, idx, "post")
            .join(tomb, Seq("doc_id"), "left_semi")
            .groupBy(col("term"))
            .agg((lit(0L) - count(lit(1))).as("dfp"))
            .write.mode("overwrite")
            .parquet(del.resolve(s"dfneg/$gen").toString)
          readTextGens(sp, idx, "dl")
            .join(tomb, Seq("doc_id"), "left_semi")
            .agg((lit(0L) - count(lit(1))).as("np"),
              (lit(0L) - sum(col("dl"))).as("totalp"))
            .write.mode("overwrite")
            .parquet(del.resolve(s"stneg/$gen").toString)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    def delGens(sub: String): DataFrame = {
      val gens = Dirs.list(del.resolve(sub)).map(_.toString).sorted
      s.read.parquet(gens: _*)
    }
    val tomb = delGens("tomb")
    val post = readTextGens(s, idx, "post")
      .join(tomb, Seq("doc_id"), "left_anti")
    val dl = readTextGens(s, idx, "dl")
      .join(tomb, Seq("doc_id"), "left_anti")
    val df = readTextGens(s, idx, "df").union(delGens("dfneg"))
      .groupBy(col("term")).agg(sum(col("dfp")).as("df"))
      .filter(col("df") > 0)
    val st = readTextGens(s, idx, "st").union(delGens("stneg"))
      .agg(sum(col("np")).as("n"), sum(col("totalp")).as("total"))
    TextAnalysis.bm25GroupedRanked(
      TextAnalysis.bm25GroupedScoredFrom(post, dl, df, st))
  }

  /** NAVIGATION-GRAPH SOFT DELETE — the takedown applied to the ANN
    * family member production vector stores actually navigate: HNSW
    * deletion is a TOMBSTONE, not an edge cut (removing the victims'
    * edges would disconnect survivors the walk reaches through them),
    * so deleted nodes still route and only the RESULT set excludes
    * them — survivors promote into the freed ranks. The walk, graph,
    * and beams are byte-identical to `sim_ann_graph`'s; the SQL twin
    * replays the same chained-CTE hops and filters the final beam
    * before ranking.
    */
  private val simGnavDelete: Q = (s, d) =>
    Similarity.gnavSoftDelete(s, d,
      pmod(col("node"), lit(TakedownMod)) =!= TakedownRem)

  /** INSERTION AT THE DOOR — `sim_gnav_insert`'s maintenance loop
    * folded from a STREAM of arriving vectors: a production graph
    * store receives vectors continuously, and each arrival batch must
    * fold into the resident adjacency without a rebuild. The arrival
    * slice (`vec_id % ClsArrMod = ClsArrRem`) lands in a
    * 3-micro-batch stream; each batch beam-walks the FROZEN resident
    * restriction ([[Similarity.gnavInsertEdgesFor]] — yesterday's
    * published graph is the routing tier; arrivals fold in but route
    * only after republish, exactly the one-shot face's contract) and
    * writes its symmetric connect edges as one generation. The read
    * side unions the resident restriction with every generation and
    * applies ONE degree re-cap — equal to per-batch capping because
    * the top-[[Similarity.GnavDegree]] cut is monotone under added
    * competition (cap(cap(X) ∪ Y) = cap(X ∪ Y)), and generations are
    * edge-disjoint (every new edge touches its own batch's arrival).
    *
    * Emitted result: the updated adjacency after all batches —
    * stream-of-inserts ≡ one-shot `sim_gnav_insert`, hash-checked
    * against the SAME chained-CTE insert oracle, and the spec pins
    * the identity row-for-row in-engine.
    *
    * Scale shape: per batch the walk is beam·degree adjacency probes
    * per arrival (the corpus is never rescanned) and the generation
    * write is O(batch × [[Similarity.GnavK]]); the re-cap at read is
    * one shuffle over O(graph + new edges).
    */
  private val streamGnavInsert: Q = (s, d) => {
    val run = Materialized.runDir("graft_sgins_", d)
    val srcDir = run.resolve("src").toString
    T(s, d, "embeddings")
      .filter(pmod(col("vec_id"), lit(Similarity.ClsArrMod)) ===
        Similarity.ClsArrRem)
      .repartition(3, col("vec_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream
      .schema(T(s, d, "embeddings").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val gensDir = run.resolve("newe")
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sym = Similarity.gnavInsertEdgesFor(
            batch.sparkSession, d, batch)
          sym.write.mode("overwrite")
            .parquet(gensDir.resolve(f"b$batchId%05d").toString)
          graft.operators.Dedup.releaseCheckpoint(sym)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    // an empty arrival slice writes no generation at all (the dir may
    // not even exist) — the fold's identity is the resident adjacency
    // itself, which is already degree-capped (a restriction of the
    // published capped graph), so no re-cap is needed
    val gens = {
      if (!java.nio.file.Files.isDirectory(gensDir)) Seq.empty[String]
      else Dirs.list(gensDir).map(_.toString).sorted
    }
    val resident = Similarity.gnavResidentAdj(s, d)
      .select(col("vec_id"), col("nbr_id"), col("sim"))
    if (gens.isEmpty) resident
    else {
      val byNode = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("nbr_id"))
      resident
        .union(s.read.parquet(gens: _*)).distinct()
        .withColumn("rn", row_number().over(byNode))
        .filter(col("rn") <= Similarity.GnavDegree)
        .select(col("vec_id"), col("nbr_id"), col("sim"))
    }
  }

  /** THE LIFECYCLE CAPSTONE — one replay running the full production
    * cycle, build → arrivals → takedown → compact → more arrivals,
    * across ALL FOUR maintained store families at once, asserting
    * each family's TERMINAL state:
    *
    *  - text index (postings/lengths/df/stats generations),
    *  - dedup signature store (banding index),
    *  - near-dup clustering (labels + remap),
    *  - navigation graph (adjacency).
    *
    * The 18 isolated lifecycle faces each gate one op; this replay
    * gates their COMPOSITION — a takedown folding into compacted
    * state, a compaction folding a takedown's tombstones and negative
    * partials, post-compaction arrivals landing on rewritten bases.
    * Schedule (shared by all families): the doc-rank first half (and
    * the non-arrival embedding slice) builds the bases; wave A
    * (third doc quartile; `vec_id % 8 = 3`) folds in; the takedown
    * deletes every stored `% TakedownMod = TakedownRem` victim; every
    * store COMPACTS (tombstones drop physically, SUM partials merge,
    * labels resolve through the boundary-filtered remap, the graph
    * vacuums); wave B (fourth quartile; `vec_id % 8 = 7`) folds into
    * the compacted stores through the door denylist.
    *
    * Terminal gates: text ≡ from-scratch BM25 over the net corpus,
    * dedup ≡ from-scratch banding over survivors, clustering ≡
    * recluster-without (all three the families' own rebuild-without
    * oracles); the graph — path-dependent, no rebuild oracle exists —
    * gates against the deterministic composed chained-CTE replay
    * ([[Similarity.gnavLifecycleOracle]]).
    *
    * One scripted replay per dataset version per process (the phases
    * call the SAME per-batch fold bodies the streaming faces run —
    * the stream runtime's delivery semantics carry their own gates);
    * the four read-back faces share it.
    */
  // ---- lifecycle phase bodies, shared by the BATCH capstone (direct
  // calls) and the STREAMING capstone (the same folds delivered through
  // real foreachBatch doors). One implementation, two delivery
  // mechanisms: the replays can only diverge in delivery, never in
  // fold semantics.

  /** Union every generation under `dir` (explicit listing — the glob
    * caveat of [[readIndexGens]]).
    */
  private def rdGensOf(s: SparkSession, dir: java.nio.file.Path)
      : DataFrame = {
    val gens = Dirs.list(dir).map(_.toString).sorted
    s.read.parquet(gens: _*)
  }

  /** Text-index TAKEDOWN: tombstones from the STORED index plus the
    * negative df/stats partials — the deletion generation. Split from
    * the compaction so a schedule may place them at different
    * boundaries (door-denylisted arrivals in between carry no victims,
    * so the tombstone set is fixed at takedown time).
    */
  private def textTakedown(s: SparkSession,
      tix: java.nio.file.Path, tdel: java.nio.file.Path,
      isVictim: org.apache.spark.sql.Column): Unit = {
    rdGensOf(s, tix.resolve("dl")).select(col("doc_id")).filter(isVictim)
      .write.mode("overwrite").parquet(tdel.resolve("tomb").toString)
    val ttomb = s.read.parquet(tdel.resolve("tomb").toString)
    rdGensOf(s, tix.resolve("post")).join(ttomb, Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg((lit(0L) - count(lit(1))).as("dfp"))
      .write.mode("overwrite").parquet(tdel.resolve("dfneg").toString)
    rdGensOf(s, tix.resolve("dl")).join(ttomb, Seq("doc_id"), "left_semi")
      .agg((lit(0L) - count(lit(1))).as("np"),
        (lit(0L) - sum(col("dl"))).as("totalp"))
      .write.mode("overwrite").parquet(tdel.resolve("stneg").toString)
  }

  /** Text-index COMPACTION into `tixC`: tombstoned rows drop
    * PHYSICALLY, partials SUM-merge (the negative generation
    * participates — a compacted partial is still a partial).
    */
  private def textCompactInto(s: SparkSession,
      tix: java.nio.file.Path, tdel: java.nio.file.Path,
      tixC: java.nio.file.Path): Unit = {
    val ttomb = s.read.parquet(tdel.resolve("tomb").toString)
    rdGensOf(s, tix.resolve("post")).join(ttomb, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(tixC.resolve("post/base").toString)
    rdGensOf(s, tix.resolve("dl")).join(ttomb, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(tixC.resolve("dl/base").toString)
    rdGensOf(s, tix.resolve("df"))
      .union(s.read.parquet(tdel.resolve("dfneg").toString))
      .groupBy(col("term")).agg(sum(col("dfp")).as("dfp"))
      .filter(col("dfp") > 0)
      .write.mode("overwrite").parquet(tixC.resolve("df/base").toString)
    rdGensOf(s, tix.resolve("st"))
      .union(s.read.parquet(tdel.resolve("stneg").toString))
      .agg(sum(col("np")).as("np"), sum(col("totalp")).as("totalp"))
      .write.mode("overwrite").parquet(tixC.resolve("st/base").toString)
  }

  /** Text-index takedown + compaction at one boundary (the capstones'
    * schedule).
    */
  private def textTakedownCompact(s: SparkSession,
      tix: java.nio.file.Path, tdel: java.nio.file.Path,
      tixC: java.nio.file.Path,
      isVictim: org.apache.spark.sql.Column): Unit = {
    textTakedown(s, tix, tdel, isVictim)
    textCompactInto(s, tix, tdel, tixC)
  }

  /** Signature-store TAKEDOWN: distinct stored victim ids as
    * tombstones.
    */
  private def sigTakedown(s: SparkSession, dix: java.nio.file.Path,
      tombPath: java.nio.file.Path,
      isVictim: org.apache.spark.sql.Column): Unit =
    rdGensOf(s, dix).select(col("doc_id")).filter(isVictim).distinct()
      .write.mode("overwrite").parquet(tombPath.toString)

  /** Signature-store COMPACTION: one anti-join rewrite into
    * `dixC/base`.
    */
  private def sigCompactInto(s: SparkSession, dix: java.nio.file.Path,
      tombPath: java.nio.file.Path, dixC: java.nio.file.Path): Unit =
    rdGensOf(s, dix)
      .join(s.read.parquet(tombPath.toString), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(dixC.resolve("base").toString)

  /** Signature-store takedown + compaction at one boundary. */
  private def sigTakedownCompact(s: SparkSession,
      dix: java.nio.file.Path, tombPath: java.nio.file.Path,
      dixC: java.nio.file.Path,
      isVictim: org.apache.spark.sql.Column): Unit = {
    sigTakedown(s, dix, tombPath, isVictim)
    sigCompactInto(s, dix, tombPath, dixC)
  }

  /** Clustering takedown + compaction at a batch boundary: the
    * boundary's [[Dedup.ccDeleteBatch]] over every stored victim
    * (inputs = generations strictly before `boundary`), then
    * [[Dedup.ccCompact]] of the takedown-aware folds — tombstoned rows
    * drop physically, labels fold chronologically, the remap passes
    * the boundary filter (the r17 merge-undo fix travels through
    * [[CcTakedownStore.rdRemap]]), and the gk registry compacts with
    * its tombstones.
    */
  private def ccTakedownCompact(sp: SparkSession, cc: java.nio.file.Path,
      ccC: java.nio.file.Path, boundary: Long,
      isVictim: org.apache.spark.sql.Column): Unit = {
    val st = new CcTakedownStore(cc, boundary)
    val priorSig = sp.read.parquet(st.gensBefore("sig", boundary): _*)
    val priorSh = sp.read.parquet(st.gensBefore("sh", boundary): _*)
    val resolved = st.rdLbl(sp, boundary, withDelete = false)
      .withColumnRenamed("component", "l0")
      .join(st.rdRemap(sp, boundary, withDelete = false)
        .withColumnRenamed("old", "l0"), Seq("l0"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("l0")).as("component"))
    Dedup.ccDeleteBatch(priorSig.filter(isVictim), priorSh, priorSig,
      resolved, cc, st.dGen)
    Dedup.ccCompact(
      st.rdRows(sp, "sh", boundary),
      st.rdRows(sp, "sig", boundary),
      st.rdLbl(sp, boundary, withDelete = true),
      st.rdRemap(sp, boundary, withDelete = true),
      st.rdRows(sp, "gk", boundary), ccC)
  }

  /** Degree re-cap of a `(vec_id, nbr_id, sim)` edge union: dedup
    * keyed pairs by max(sim) (sims are the registry-rounded values, so
    * this is the keyed distinct), then keep each node's
    * top-[[Similarity.GnavDegree]] by the registry-wide (sim desc, id)
    * order.
    */
  private def capAdj(df: DataFrame): DataFrame = {
    val byNode = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    df.groupBy(col("vec_id"), col("nbr_id"))
      .agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(byNode))
      .filter(col("rn") <= Similarity.GnavDegree)
      .select(col("vec_id"), col("nbr_id"), col("sim"))
  }

  /** The graph vacuum at the takedown boundary: prune every edge with
    * a victim endpoint, repair ONLY under-floor survivors through the
    * walk machinery (O(under-connected survivors), never O(graph)),
    * and write the vacuumed adjacency to `out`.
    */
  private def gnavVacuumInto(s: SparkSession, d: String, adjA: DataFrame,
      out: java.nio.file.Path): Unit = {
    val survN = (c: org.apache.spark.sql.Column) =>
      pmod(c, lit(TakedownMod)) =!= TakedownRem
    val emb = T(s, d, "embeddings")
    val prun = adjA.filter(survN(col("vec_id")) && survN(col("nbr_id")))
    val lostG = adjA
      .filter(survN(col("vec_id")) && !survN(col("nbr_id")))
      .select(col("vec_id")).distinct()
    val degG = prun.groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    val repG = lostG.join(degG, Seq("vec_id"), "left")
      .filter(coalesce(col("deg"), lit(0L)) <
        Similarity.GnavVacuumFloor)
      .select(col("vec_id"))
    val symR = Similarity.gnavWalkEdgesOn(s, d,
      prun.select(col("vec_id").as("node"), col("nbr_id")),
      emb.join(repG, Seq("vec_id"), "left_semi"))
    capAdj(prun.unionByName(symR))
      .write.mode("overwrite").parquet(out.toString)
    Dedup.releaseCheckpoint(symR)
  }

  /** Terminal maintained labels of a compacted clustering store: every
    * label generation resolved through the final remap (one hop — the
    * compaction invariant).
    */
  private def ccTerminalLabels(s: SparkSession,
      ccC: java.nio.file.Path): DataFrame = {
    val lblGens = Dirs.list(ccC.resolve("lbl")).map(_.toString).sorted
    val remapGens =
      if (!java.nio.file.Files.isDirectory(ccC.resolve("remap"))) Seq.empty
      else Dirs.list(ccC.resolve("remap")).map(_.toString).sorted
    val lbl = s.read.parquet(lblGens: _*)
    if (remapGens.isEmpty) lbl.select(col("doc_id"), col("component"))
    else lbl.withColumnRenamed("component", "l0")
      .join(s.read.parquet(remapGens.max).withColumnRenamed("old", "l0"),
        Seq("l0"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("l0")).as("component"))
  }

  /** Run independent replay sides concurrently. Used ONLY where one
    * side genuinely idles while the other computes (the streaming
    * capstone's two micro-batch streams, whose trigger waits leave the
    * scheduler empty — the driver-verified 1.45× overlap win); never
    * at fold level, where every job already fills the local scheduler
    * and added driver threads oversubscribe it (r19's measured
    * anti-scaling regression; guide §2.6 scopes overlap to back-filling
    * idle capacity). Callers pass sides with DISJOINT store
    * directories and no data dependencies; results are byte-identical
    * to the sequential order by construction. First failure propagates
    * after cancelling the siblings (best-effort — a running Spark
    * action finishes its current job).
    */
  private def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val fs = tasks.map(t => pool.submit(
      new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
    try fs.foreach(_.get())
    catch { case e: Throwable =>
      fs.foreach(_.cancel(true))
      pool.shutdown()
      pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
      throw e
    }
    pool.shutdown()
  }

  /** The shared artifacts the capstone replays' bases adopt. */
  private def lifecycleAdopts: Seq[Materialized.Entry] = Seq(
    Dedup.sigTables, Dedup.clusters, sharedTfTable, Similarity.gnavShared)

  private[graft] lazy val lifecycleRun = Materialized.memo("lifecycle_build",
      "graft_lc_", "lcrun:v2", lifecycleAdopts) { (s, d, run) =>
    val state = run.resolve("state")
    val docs = T(s, d, "documents")
    // pin the ranked schedule ONCE — a dozen downstream actions read
    // the wave slices, and re-running the two-pass rank subplan per
    // action is pure repeat work (released before return; every
    // phase write is eager and the read-backs only touch parquet)
    val ranked = Dedup.materialize(docQuartiles(docs))
    val baseDocs = ranked.filter(col("bucket") < 2).drop("bucket")
    val waveADocs = ranked.filter(col("bucket") === 2).drop("bucket")
    val waveBDocs = ranked.filter(col("bucket") === 3).drop("bucket")
    val isVictim = pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem
    // per-family wall-clock to stderr — the scale rung's evidence
    // that the composed fold's phases track batch/affected-slice
    // size, not the corpus
    def phase[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      System.err.println(
        f"[lifecycle] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }

    // the four store families run SEQUENTIALLY: each family's folds
    // are chains of full-width scans/shuffles that already occupy
    // every scheduler slot, so running the families as concurrent
    // driver-thread jobs oversubscribes the one local scheduler
    // instead of back-filling idle executors (r19 measured the
    // concurrent version SLOWER at the driver, 44.7→55.5 s, and the
    // contention bled into unrelated bench items; guide §2.6 scopes
    // job overlap to filling stragglers' idle slots)
    phase("text") {
    // ---- text index: base + wave A, takedown + compact, wave B ----
    // the base adopts the shared tokenized-corpus artifact (row-
    // identical to a fresh tokenize, spec-pinned); arrivals tokenize
    // themselves — the door's own fold cost, as in production
    val tix = state.resolve("text")
    textIndexBaseFromShared(s, d, baseDocs.select(col("doc_id")), tix)
    textIndexGen(waveADocs, tix, "b00000")
    val tixC = state.resolve("textc")
    textTakedownCompact(s, tix, state.resolve("textdel"), tixC,
      isVictim)
    // wave B folds into the COMPACTED index through the door denylist
    textIndexGen(waveBDocs.filter(!isVictim), tixC, "b00001")
    }

    // ---- dedup signature store ----
    phase("dedup") {
    val dix = state.resolve("dedup")
    // the base adopts the shared signature artifact (row-identical to
    // a fresh signing, probe-checked) — never a re-shingle of the
    // resident corpus; arrivals still sign THEMSELVES (the door's
    // fold cost is the batch's own signing, as in production)
    Dedup.sharedSigSlice(s, d, baseDocs.select(col("doc_id")))
      .write.mode("overwrite").parquet(dix.resolve("base").toString)
    Dedup.minhashSig(Dedup.shingleRows(waveADocs))
      .write.mode("overwrite").parquet(dix.resolve("b00000").toString)
    val dixC = state.resolve("dedupc")
    sigTakedownCompact(s, dix, state.resolve("deduptomb"), dixC,
      isVictim)
    Dedup.minhashSig(Dedup.shingleRows(waveBDocs.filter(!isVictim)))
      .write.mode("overwrite").parquet(dixC.resolve("b00001").toString)
    }

    // ---- clustering ----
    phase("cc") {
    val cc = state.resolve("cc")
    Dedup.ccIvmBaseFromShared(s, d,
      baseDocs.select(col("doc_id")), cc)
    // wave A folds through [[CcTakedownStore]]'s readers — the
    // door's exact read shape (generations strictly before the
    // batch, remap max-or-empty; no remap generation exists yet, so
    // the read is the empty remap)
    val stPre = new CcTakedownStore(cc, 1L)
    Dedup.ccIvmBatch(waveADocs, stPre.rdRows(s, "sh", 0L),
      stPre.rdRows(s, "sig", 0L),
      stPre.rdLbl(s, 0L, withDelete = false),
      stPre.rdRemap(s, 0L, withDelete = false),
      stPre.rdRows(s, "gk", 0L), cc, "b00000")
    // takedown + compaction (the boundary-filtered remap — the r17
    // merge-undo fix — travels inside [[ccTakedownCompact]])
    val ccC = state.resolve("ccc")
    ccTakedownCompact(s, cc, ccC, 1L, isVictim)
    // wave B folds into the compacted store (a store with no
    // takedown boundary reads plainly)
    val stC = new CcTakedownStore(ccC, Long.MaxValue)
    Dedup.ccIvmBatch(waveBDocs.filter(!isVictim),
      stC.rdRows(s, "sh", 0L), stC.rdRows(s, "sig", 0L),
      stC.rdLbl(s, 0L, withDelete = false),
      stC.rdRemap(s, 0L, withDelete = false),
      stC.rdRows(s, "gk", 0L), ccC, "b00001")
    }

    // ---- navigation graph ----
    phase("gnav") {
    val emb = T(s, d, "embeddings")
    val gAM = Similarity.ClsArrMod
    val gAR = Similarity.ClsArrRem
    val gW = 2 * gAM
    val gdir = state.resolve("gnav")
    val survN = (c: org.apache.spark.sql.Column) =>
      pmod(c, lit(TakedownMod)) =!= TakedownRem
    val lbase = Similarity.gnavResidentAdj(s, d)
    val symA = Similarity.gnavWalkEdgesOn(s, d,
      lbase.select(col("vec_id").as("node"), col("nbr_id")),
      emb.filter(pmod(col("vec_id"), lit(gW)) === gAR))
    capAdj(lbase.select(col("vec_id"), col("nbr_id"), col("sim"))
        .unionByName(symA))
      .write.mode("overwrite").parquet(gdir.resolve("adja").toString)
    Dedup.releaseCheckpoint(symA)
    val adjA = s.read.parquet(gdir.resolve("adja").toString)
    gnavVacuumInto(s, d, adjA, gdir.resolve("adjv"))
    val adjV = s.read.parquet(gdir.resolve("adjv").toString)
    // wave B passes the takedown door DENYLIST like the other three
    // families — post-vacuum victim-freedom holds by construction,
    // not by the arithmetic accident that the current wave-B residue
    // class happens to avoid the victim class (r17 ADVICE: changing
    // TakedownRem/ClsArrRem must not silently reintroduce victims)
    val symB = Similarity.gnavWalkEdgesOn(s, d,
      adjV.select(col("vec_id").as("node"), col("nbr_id")),
      emb.filter(pmod(col("vec_id"), lit(gW)) === gAR + gAM &&
        survN(col("vec_id"))))
    capAdj(adjV.unionByName(symB))
      .write.mode("overwrite").parquet(gdir.resolve("final").toString)
    Dedup.releaseCheckpoint(symB)
    }
    Dedup.releaseCheckpoint(ranked)
    state
  }

  /** Terminal text ranking of the lifecycle replay ≡ from-scratch
    * BM25 over the net corpus.
    */
  private val lifecycleText: Q = (s, d) =>
    scoreTextIndex(s, lifecycleRun(s, d).resolve("textc"))

  /** Terminal banding pairs of the lifecycle replay ≡ from-scratch
    * LSH over the surviving documents.
    */
  private val lifecycleDedup: Q = (s, d) =>
    Dedup.bandPairs(readIndexGens(s,
      lifecycleRun(s, d).resolve("dedupc")))

  /** Terminal maintained labels of the lifecycle replay, resolved
    * through the final remap ≡ recluster-without over the survivors.
    */
  private val lifecycleCc: Q = (s, d) =>
    ccTerminalLabels(s, lifecycleRun(s, d).resolve("ccc"))

  /** Terminal navigation adjacency of the lifecycle replay ≡ the
    * composed chained-CTE replay ([[Similarity.gnavLifecycleOracle]]).
    */
  private val lifecycleGnav: Q = (s, d) =>
    s.read.parquet(lifecycleRun(s, d).resolve("gnav/final").toString)

  /** Stage slices as explicit single files with ascending mtimes so a
    * file source replays them as deterministic micro-batches in order
    * (the [[link4]] discipline applied to a run-local source).
    */
  private def stageOrderedFiles(slices: Seq[DataFrame],
      srcDir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    Files.createDirectories(srcDir)
    // one fixed base stamp for the whole staging — per-slice "now"
    // could go backwards across slices on a slow clock tick
    val t0 = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case (df, i) =>
      val part = srcDir.resolve(s"stage$i")
      // repartition(1), not coalesce(1): an EMPTY slice (possible for
      // a wave/residue class on tiny or skewed corpora) has zero
      // partitions under coalesce and writes no part file at all —
      // repartition always produces exactly one, so every scheduled
      // micro-batch exists and batch ids stay aligned with the
      // schedule (row order inside a staged file is immaterial: every
      // downstream fold is a join/aggregation)
      df.repartition(1).write.mode("overwrite").parquet(part.toString)
      val file = Dirs.list(part)
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"stageOrderedFiles: slice $i wrote no parquet part under " +
            part))
      val dst = srcDir.resolve(f"f$i%02d.parquet")
      Files.move(file, dst)
      SharedArtifacts.deleteRecursively(part)
      // the file source orders micro-batches by mtime — a failed stamp
      // (or same-tick mtimes) could deliver a wave-B slice before the
      // takedown boundary, so fail LOUDLY instead of silently staging
      // a nondeterministic schedule
      try Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"stageOrderedFiles: cannot stamp mtime on $dst — the " +
            "replay's micro-batch order would be nondeterministic", e)
      }
    }
    // belt-and-braces: the staged schedule must be strictly ascending
    val stamps = slices.indices.map(i => Files.getLastModifiedTime(
      srcDir.resolve(f"f$i%02d.parquet")).toMillis)
    require(stamps.zip(stamps.drop(1)).forall { case (a, b) => a < b },
      s"stageOrderedFiles: staged mtimes not strictly ascending: $stamps")
  }

  /** THE STREAMING LIFECYCLE CAPSTONE — the batch capstone's composed
    * cycle (build → wave-A arrivals → takedown + compaction → wave-B
    * arrivals, all four store families) driven through the ACTUAL
    * Structured Streaming doors: arrivals land as real checkpointed
    * micro-batches, generations carry the door's batch-id naming
    * (`b%05d`), the takedown + compactions run AT a batch boundary
    * inside `foreachBatch` (inputs = generations strictly before the
    * boundary — fixed by the time it runs; outputs idempotent
    * overwrites, so a replayed boundary batch redoes them
    * byte-identically), and the door DENYLIST composes across families
    * (one victim filter feeds every fold). Text, dedup, and clustering
    * fold inside ONE document stream's foreachBatch — the production
    * shape: one curation stream feeding every maintained doc store —
    * and the graph folds on its own embedding stream.
    *
    * The folds are the SAME phase bodies the batch capstone calls
    * directly ([[textTakedownCompact]], [[sigTakedownCompact]],
    * [[ccTakedownCompact]], [[Dedup.ccIvmBatch]], [[textIndexGen]],
    * the walk bodies) — the two replays can differ only in DELIVERY,
    * and the gates prove delivery is immaterial: each terminal store
    * hash-checks against the SAME oracle as the batch capstone's
    * (text/dedup/cc: the families' rebuild-without oracles; graph: the
    * composed chained-CTE replay), and the suite pins stream ≡ batch
    * row-for-row per family.
    *
    * Wave schedule: the batch capstone's, each wave split into TWO
    * micro-batches — documents by doc_id parity, embeddings by the
    * next residue bit (each `mod 2·gW` class halves its `mod gW`
    * class) — batches 0,1 = wave A, the boundary work runs at batch
    * 2's entry, batches 2,3 = wave B through the denylist. Confluence
    * inside a wave is the proven door algebra: cc folds converge for
    * any batching (`dedup_cc_ivm`), index generations are SUM/union
    * partials (`stream_grp_index`), and wave walks probe the FROZEN
    * tier with one re-cap (`stream_gnav_insert`) — so two batches per
    * wave ≡ the batch capstone's one.
    */
  private[graft] lazy val lifecycleStreamRun = Materialized.memo(
      "lifecycle_stream_build", "graft_lcs_", "lcsrun:v2",
      lifecycleAdopts) { (s, d, run) =>
    val state = run.resolve("state")
    val docs = T(s, d, "documents")
    // pinned like the batch capstone's (released after staging — the
    // streams read the staged files, never the schedule frame)
    val ranked = Dedup.materialize(docQuartiles(docs))
    val baseDocs = ranked.filter(col("bucket") < 2).drop("bucket")
    val waveA = ranked.filter(col("bucket") === 2).drop("bucket")
    val waveB = ranked.filter(col("bucket") === 3).drop("bucket")
    val isVictim = pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem
    val boundary = 2L
    val tix = state.resolve("text"); val tixC = state.resolve("textc")
    val dix = state.resolve("dedup"); val dixC = state.resolve("dedupc")
    val cc = state.resolve("cc"); val ccC = state.resolve("ccc")
    def phase[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      System.err.println(
        f"[lifecycle-stream] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }

    // the DOCUMENT side (bases + the doc stream's three doors) and
    // the EMBEDDING side (the graph door's own stream) touch disjoint
    // stores and disjoint sources — run the two sides concurrently
    // (guide §2.6: at bench scale each side's micro-batches are small
    // and the trigger waits leave the scheduler idle, so the other
    // side back-fills — the driver-verified 1.45× win; inside each
    // side the fold order is unchanged, so every store byte is
    // identical to the sequential replay's). SPARK_GRAFT_LC_SEQ=1
    // selects the sequential order instead — the right choice when
    // each micro-batch's folds already saturate the cluster (the
    // capstone rung probe measures both; see OPTIMIZATION_r20.md).
    val sides: Seq[() => Unit] = Seq(() => {
    // ---- resident bases (built once, not stream-delivered) ----
    // built sequentially: each base write saturates the scheduler on
    // its own, so 3-way driver-thread concurrency here oversubscribes
    // rather than back-fills (the r19 fold-level-concurrency lesson;
    // guide §2.6). Shared-artifact adoptions, like the batch
    // capstone's bases.
    phase("bases") {
      textIndexBaseFromShared(s, d, baseDocs.select(col("doc_id")), tix)
      Dedup.sharedSigSlice(s, d, baseDocs.select(col("doc_id")))
        .write.mode("overwrite").parquet(dix.resolve("base").toString)
      Dedup.ccIvmBaseFromShared(s, d, baseDocs.select(col("doc_id")), cc)
    }

    // ---- the document arrival stream: text + dedup + cc doors ----
    phase("docs-stream") {
    stageOrderedFiles(Seq(
      waveA.filter(pmod(col("doc_id"), lit(2)) === 0),
      waveA.filter(pmod(col("doc_id"), lit(2)) === 1),
      waveB.filter(pmod(col("doc_id"), lit(2)) === 0),
      waveB.filter(pmod(col("doc_id"), lit(2)) === 1)),
      run.resolve("src"))
    Dedup.releaseCheckpoint(ranked)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          val bt0 = System.nanoTime()
          if (batchId == boundary) {
            // the three takedown+compactions run sequentially — each
            // compaction's rewrite fills the scheduler, so concurrent
            // driver threads here contend instead of back-filling
            // (the r19 fold-level-concurrency regression; guide §2.6)
            textTakedownCompact(sp, tix,
              state.resolve("textdel"), tixC, isVictim)
            sigTakedownCompact(sp, dix,
              state.resolve("deduptomb"), dixC, isVictim)
            ccTakedownCompact(sp, cc, ccC, boundary, isVictim)
            System.err.println(f"[lifecycle-stream] docs boundary " +
              f"${(System.nanoTime() - bt0) / 1e9}%.2f s")
          }
          val door = if (batchId >= boundary) batch.filter(!isVictim)
            else batch
          val gen = f"b$batchId%05d"
          val (tixT, dixT, ccT) =
            if (batchId < boundary) (tix, dix, cc)
            else (tixC, dixC, ccC)
          val st = if (batchId < boundary)
            new CcTakedownStore(cc, boundary)
          else new CcTakedownStore(ccC, Long.MaxValue)
          // the three door folds run sequentially per micro-batch:
          // per-fold driver-thread concurrency anti-scaled at 32
          // cores in r19 (oversubscription of the one local
          // scheduler, not back-fill; guide §2.6) — the capstone's
          // real overlap is the docs/gnav STREAM level above, where
          // one side genuinely idles between micro-batch waits
          textIndexGen(door, tixT, gen)
          Dedup.minhashSig(Dedup.shingleRows(door))
            .write.mode("overwrite")
            .parquet(dixT.resolve(gen).toString)
          Dedup.ccIvmBatch(door, st.rdRows(sp, "sh", batchId),
            st.rdRows(sp, "sig", batchId),
            st.rdLbl(sp, batchId, withDelete = false),
            st.rdRemap(sp, batchId, withDelete = false),
            st.rdRows(sp, "gk", batchId), ccT, gen)
          System.err.println(f"[lifecycle-stream] docs b$batchId " +
            f"${(System.nanoTime() - bt0) / 1e9}%.2f s")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    }
    }, () => {

    // ---- the embedding arrival stream: the graph door ----
    phase("gnav-stream") {
    val emb = T(s, d, "embeddings")
    val gAM = Similarity.ClsArrMod
    val gAR = Similarity.ClsArrRem
    val gW = 2 * gAM
    val gw2 = 2 * gW
    val survV = (c: org.apache.spark.sql.Column) =>
      pmod(c, lit(TakedownMod)) =!= TakedownRem
    val gdir = state.resolve("gnav")
    stageOrderedFiles(
      Seq(gAR, gAR + gW, gAR + gAM, gAR + gAM + gW).map(r =>
        emb.filter(pmod(col("vec_id"), lit(gw2)) === r)),
      run.resolve("gsrc"))
    val graw = s.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("gsrc").toString)
    withStreamingParallelism(s) {
      val q = graw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          val bt0 = System.nanoTime()
          if (batchId == boundary) {
            // fold wave A onto the resident tier (one re-cap — the
            // door's monotone cap algebra), then vacuum
            capAdj(Similarity.gnavResidentAdj(sp, d)
                .select(col("vec_id"), col("nbr_id"), col("sim"))
                .unionByName(rdGensOf(sp, gdir.resolve("wa"))))
              .write.mode("overwrite")
              .parquet(gdir.resolve("adja").toString)
            gnavVacuumInto(sp, d,
              sp.read.parquet(gdir.resolve("adja").toString),
              gdir.resolve("adjv"))
          }
          val door = if (batchId >= boundary)
            batch.filter(survV(col("vec_id"))) else batch
          val sym = if (batchId < boundary)
            // the stream_gnav_insert door body: walk the FROZEN
            // resident tier
            Similarity.gnavInsertEdgesFor(sp, d, door)
          else Similarity.gnavWalkEdgesOn(sp, d,
            sp.read.parquet(gdir.resolve("adjv").toString)
              .select(col("vec_id").as("node"), col("nbr_id")), door)
          val tgt = if (batchId < boundary) gdir.resolve("wa")
            else gdir.resolve("wb")
          sym.write.mode("overwrite")
            .parquet(tgt.resolve(f"b$batchId%05d").toString)
          Dedup.releaseCheckpoint(sym)
          System.err.println(f"[lifecycle-stream] gnav b$batchId " +
            f"${(System.nanoTime() - bt0) / 1e9}%.2f s")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("gchk").toString)
        .start()
      q.awaitTermination()
    }
    // terminal adjacency: ONE degree re-cap folds the wave-B
    // generations onto the vacuumed tier
    capAdj(s.read.parquet(gdir.resolve("adjv").toString)
        .unionByName(rdGensOf(s, gdir.resolve("wb"))))
      .write.mode("overwrite").parquet(gdir.resolve("final").toString)
    }
    })
    if (sys.env.get("SPARK_GRAFT_LC_SEQ").contains("1"))
      sides.foreach(_())
    else inParallel(sides)
    state
  }

  /** Terminal text ranking of the STREAMING lifecycle ≡ the same
    * rebuild-without BM25 oracle the batch capstone gates against.
    */
  private val lifecycleStreamText: Q = (s, d) =>
    scoreTextIndex(s, lifecycleStreamRun(s, d).resolve("textc"))

  /** Terminal banding pairs of the STREAMING lifecycle ≡ from-scratch
    * LSH over the surviving documents.
    */
  private val lifecycleStreamDedup: Q = (s, d) =>
    Dedup.bandPairs(readIndexGens(s,
      lifecycleStreamRun(s, d).resolve("dedupc")))

  /** Terminal maintained labels of the STREAMING lifecycle ≡
    * recluster-without over the survivors.
    */
  private val lifecycleStreamCc: Q = (s, d) =>
    ccTerminalLabels(s, lifecycleStreamRun(s, d).resolve("ccc"))

  /** Terminal navigation adjacency of the STREAMING lifecycle ≡ the
    * composed chained-CTE replay (and bit-identical to the batch
    * capstone's: same arrivals walk the same frozen tiers, and the
    * per-batch union commutes with the one-shot walk).
    */
  private val lifecycleStreamGnav: Q = (s, d) =>
    s.read.parquet(
      lifecycleStreamRun(s, d).resolve("gnav/final").toString)

  /** One SEEDED permutation of the lifecycle schedule — the property
    * seam behind the schedule-permutation spec. From the seed: a
    * pseudo-random resident/arrival split (hash-assigned, so the
    * schedule is a pure function of (seed, doc_id)), K = 3 arrival
    * batches, ONE takedown at a seeded boundary position in [0, K] and
    * ONE compaction at a seeded position at-or-after it; the graph
    * runs its own seeded arrival batching with the vacuum at a seeded
    * position. Every fold is the SAME phase-body/door machinery the
    * capstones run ([[CcTakedownStore]] readers, [[textTakedown]] /
    * [[textCompactInto]], [[sigTakedown]] / [[sigCompactInto]],
    * [[Dedup.ccIvmBatch]], the frozen-tier walks, [[gnavVacuumInto]]).
    * Returns the terminal (text scores, banding pairs, labels,
    * adjacency). In-engine gate only: the spec compares the first
    * three against rebuild-without over the survivors
    * ([[lifecycleRebuildRef]]) and asserts the graph's structural
    * invariants — the registry capstones carry the cross-engine
    * oracles for the two named schedules; this seam closes the CLASS.
    */
  private[graft] def lifecyclePermuted(s: SparkSession, d: String,
      seed: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val k = 3
    val tdPos = rnd.nextInt(k + 1)
    val cpPos = tdPos + rnd.nextInt(k + 1 - tdPos)
    val vacPos = rnd.nextInt(k + 1)
    val run = Materialized.runDir(f"graft_lcp${seed}%03d_", d)
    val state = run.resolve("state")
    val docs = T(s, d, "documents")
    val half = pmod(xxhash64(lit(s"lcp$seed"), col("doc_id")), lit(2))
    val arrIdx = pmod(xxhash64(lit(s"lcpb$seed"), col("doc_id")), lit(k))
    val resident = docs.filter(half === 0)
    val arrivals = (0 until k).map(i =>
      docs.filter(half === 1 && arrIdx === i))
    val isVictim = pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem
    val tix = state.resolve("text"); val tixC = state.resolve("textc")
    val dix = state.resolve("dedup"); val dixC = state.resolve("dedupc")
    val cc = state.resolve("cc"); val ccC = state.resolve("ccc")
    val tdel = state.resolve("textdel")
    val dtomb = state.resolve("deduptomb")
    textIndexGen(resident, tix, "base")
    Dedup.sharedSigSlice(s, d, resident.select(col("doc_id")))
      .write.mode("overwrite").parquet(dix.resolve("base").toString)
    Dedup.ccIvmBaseFromShared(s, d, resident.select(col("doc_id")), cc)
    val stTd = new CcTakedownStore(cc, tdPos.toLong)
    val stC = new CcTakedownStore(ccC, Long.MaxValue)
    def takedown(): Unit = {
      textTakedown(s, tix, tdel, isVictim)
      sigTakedown(s, dix, dtomb, isVictim)
      val priorSig =
        s.read.parquet(stTd.gensBefore("sig", tdPos.toLong): _*)
      val priorSh =
        s.read.parquet(stTd.gensBefore("sh", tdPos.toLong): _*)
      val resolved = stTd.rdLbl(s, tdPos.toLong, withDelete = false)
        .withColumnRenamed("component", "l0")
        .join(stTd.rdRemap(s, tdPos.toLong, withDelete = false)
          .withColumnRenamed("old", "l0"), Seq("l0"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("l0")).as("component"))
      Dedup.ccDeleteBatch(priorSig.filter(isVictim), priorSh, priorSig,
        resolved, cc, stTd.dGen)
    }
    def compact(at: Long): Unit = {
      textCompactInto(s, tix, tdel, tixC)
      sigCompactInto(s, dix, dtomb, dixC)
      Dedup.ccCompact(stTd.rdRows(s, "sh", at), stTd.rdRows(s, "sig", at),
        stTd.rdLbl(s, at, withDelete = true),
        stTd.rdRemap(s, at, withDelete = true),
        stTd.rdRows(s, "gk", at), ccC)
    }
    var compacted = false
    for (i <- 0 until k) {
      if (tdPos == i) takedown()
      if (cpPos == i) { compact(i.toLong); compacted = true }
      val afterTd = i >= tdPos
      val door = if (afterTd) arrivals(i).filter(!isVictim)
        else arrivals(i)
      val gen = f"b$i%05d"
      if (!compacted) {
        textIndexGen(door, tix, gen)
        Dedup.minhashSig(Dedup.shingleRows(door))
          .write.mode("overwrite").parquet(dix.resolve(gen).toString)
        Dedup.ccIvmBatch(door, stTd.rdRows(s, "sh", i.toLong),
          stTd.rdRows(s, "sig", i.toLong),
          stTd.rdLbl(s, i.toLong, withDelete = afterTd),
          stTd.rdRemap(s, i.toLong, withDelete = afterTd),
          stTd.rdRows(s, "gk", i.toLong), cc, gen)
      } else {
        textIndexGen(door, tixC, gen)
        Dedup.minhashSig(Dedup.shingleRows(door))
          .write.mode("overwrite").parquet(dixC.resolve(gen).toString)
        Dedup.ccIvmBatch(door, stC.rdRows(s, "sh", i.toLong),
          stC.rdRows(s, "sig", i.toLong),
          stC.rdLbl(s, i.toLong, withDelete = false),
          stC.rdRemap(s, i.toLong, withDelete = false),
          stC.rdRows(s, "gk", i.toLong), ccC, gen)
      }
    }
    if (tdPos == k) takedown()
    if (cpPos == k) compact(k.toLong)
    // ---- the graph's own seeded schedule ----
    val emb = T(s, d, "embeddings")
    val isArr = pmod(col("vec_id"), lit(Similarity.ClsArrMod)) ===
      Similarity.ClsArrRem
    val survV = (c: org.apache.spark.sql.Column) =>
      pmod(c, lit(TakedownMod)) =!= TakedownRem
    val gBatch = pmod(xxhash64(lit(s"lcpg$seed"), col("vec_id")), lit(k))
    val gdir = state.resolve("gnav")
    def capTo(df: DataFrame, out: java.nio.file.Path): DataFrame = {
      capAdj(df).write.mode("overwrite").parquet(out.toString)
      s.read.parquet(out.toString)
    }
    var tier = capTo(Similarity.gnavResidentAdj(s, d)
      .select(col("vec_id"), col("nbr_id"), col("sim")),
      gdir.resolve("t0"))
    var segGens = Seq.empty[String]
    var vacuumed = false
    def foldSegment(out: java.nio.file.Path): DataFrame =
      capTo(if (segGens.isEmpty) tier
        else tier.unionByName(s.read.parquet(segGens: _*)), out)
    def vacuum(tag: String): Unit = {
      val adjA = foldSegment(gdir.resolve(s"adj$tag"))
      gnavVacuumInto(s, d, adjA, gdir.resolve(s"vac$tag"))
      tier = s.read.parquet(gdir.resolve(s"vac$tag").toString)
      segGens = Seq.empty
      vacuumed = true
    }
    for (i <- 0 until k) {
      if (vacPos == i) vacuum(i.toString)
      val batchEmb = emb.filter(isArr && gBatch === i)
      val door = if (vacuumed) batchEmb.filter(survV(col("vec_id")))
        else batchEmb
      val sym = Similarity.gnavWalkEdgesOn(s, d,
        tier.select(col("vec_id").as("node"), col("nbr_id")), door)
      val gp = gdir.resolve(f"g$i%02d")
      sym.write.mode("overwrite").parquet(gp.toString)
      Dedup.releaseCheckpoint(sym)
      segGens = segGens :+ gp.toString
    }
    if (vacPos == k) vacuum("k")
    val gterm = foldSegment(gdir.resolve("final"))
    (scoreTextIndex(s, tixC),
      Dedup.bandPairs(readIndexGens(s, dixC)),
      ccTerminalLabels(s, ccC), gterm)
  }

  /** Rebuild-without over the survivors — the permutation spec's
    * reference: one-generation text index, one-generation signature
    * store, both over `documents MINUS victims` (the clustering
    * reference is the from-scratch transitive closure the suite
    * derives directly).
    */
  private[graft] def lifecycleRebuildRef(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val run = Materialized.runDir("graft_lcpref_", d)
    val isVictim = pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem
    val surv = T(s, d, "documents").filter(!isVictim)
    val tix = run.resolve("text")
    textIndexGen(surv, tix, "base")
    Dedup.minhashSig(Dedup.shingleRows(surv))
      .write.mode("overwrite")
      .parquet(run.resolve("dedup/base").toString)
    (scoreTextIndex(s, tix),
      Dedup.bandPairs(readIndexGens(s, run.resolve("dedup"))))
  }

  /** MAINTAINED-CLUSTERING DELETION — the takedown family's capstone,
    * and the one member where tombstones alone are WRONG: component
    * labels are a transitive property, so removing a bridge document
    * can SPLIT its component (and removing the min-id member strands
    * the component's label). The store is the shared clustering
    * artifact's two faces — verified pairs and labels — and deletion
    * reads only them, never the corpus:
    *
    *  1. tombstones from the STORED labels (victims in no component
    *     are not in the store and need no work);
    *  2. affected components = the victims' label set — everything
    *     else keeps its stored label VERBATIM;
    *  3. the affected components' surviving edges (the stored pair
    *     list sliced by component, both endpoints surviving) re-run
    *     connected components — splits fall out, stranded min-labels
    *     re-anchor at the surviving min, and docs that lose every
    *     partner drop to unlabeled singletons.
    *
    * Sound because near-dup pairs are pairwise: deleting a document
    * changes no other document's shingles, signature, banding, or
    * verified jaccard, so the survivors' pair graph IS the stored
    * graph restricted to surviving endpoints. Hash-checked against
    * the from-scratch transitive-closure oracle over `documents`
    * MINUS the victims: delete-fold ≡ recluster-without.
    *
    * Scale shape: tombstones and the affected slice are semi-joins on
    * a broadcast-sized component set; the CC rerun is bounded by the
    * affected subgraph (O(affected pairs × log diameter)), never the
    * corpus — at 100 TB a takedown re-clusters the components it
    * touched and nothing else.
    */
  private val dedupCcDelete: Q = (s, d) => {
    val labels = Dedup.componentLabels(s, d)
    val pairs = Dedup.verifiedPairsTable(s, d)
    def survives(c: org.apache.spark.sql.Column) =
      pmod(c, lit(TakedownMod)) =!= TakedownRem
    val affected = labels.filter(!survives(col("doc_id")))
      .select(col("component")).distinct()
    val kept = labels.join(broadcast(affected), Seq("component"), "left_anti")
      .select(col("doc_id"), col("component"))
    val affEdges = pairs
      .join(labels.select(col("doc_id").as("a_id"), col("component")),
        Seq("a_id"))
      .join(broadcast(affected), Seq("component"), "left_semi")
      .filter(survives(col("a_id")) && survives(col("b_id")))
      .select(col("a_id"), col("b_id"))
    kept.union(Dedup.connectedComponentsWithRounds(affEdges)._1
      .select(col("doc_id"), col("component")))
  }

  /** MAINTAINED NEAR-DUP CLUSTERING — the index-IVM family's capstone:
    * component LABELS maintained under arriving documents (the shape
    * [[dedupIndexIvm]] proves for signatures, applied to the heaviest
    * derived state in the engine — a production 100 TB dedup tier folds
    * an arriving batch's verified pairs into the existing labels, it
    * does not re-run clustering over the corpus). The resident three
    * doc_id-rank quartiles sign and cluster once as the base
    * generation ([[Dedup.ccIvmBase]]); the last quartile arrives as a
    * 3-micro-batch file stream whose batches each run ONE maintenance
    * fold ([[Dedup.ccIvmBatch]]): sign themselves, probe the maintained
    * band store for candidates, exact-verify only those, then merge
    * ONLY the components the new pairs touch — label rows are
    * append-only and merges travel through a small compacted remap, so
    * per-batch write volume is O(batch + merges). The emitted result is
    * every maintained label resolved through the final remap —
    * hash-checked against the from-scratch transitive-closure oracle
    * over ALL documents: fold-of-changes ≡ recompute, for the
    * clustering itself.
    */
  private val dedupCcIvm: Q = (s, d) => {
    val run = Materialized.runDir("graft_ccx_", d)
    val docs = T(s, d, "documents")
    val ranked = docQuartiles(docs)
    val state = run.resolve("state")
    Dedup.ccIvmBaseFromShared(s, d,
      ranked.filter(col("bucket") < 3).select(col("doc_id")), state)
    val srcDir = run.resolve("src").toString
    ranked.filter(col("bucket") === 3).drop("bucket")
      .repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    // generations BEFORE batch k: "base" plus b<k — named by batch id,
    // so a replayed batch deterministically re-reads the same priors
    // (its own earlier writes are excluded, the idempotency the
    // per-gen-dir layout exists for)
    def gensBefore(sub: String, batchId: Long): Seq[String] = {
      val dir = state.resolve(sub)
      if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
      else Dirs.list(dir)
        .filter { p =>
          val n = p.getFileName.toString
          n == "base" || n.drop(1).toLong < batchId
        }.map(_.toString).sorted
    }
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          def rd(sub: String) = sp.read.parquet(gensBefore(sub, batchId): _*)
          val remaps = gensBefore("remap", batchId)
          val prevRemap =
            if (remaps.isEmpty)
              sp.range(0).select(col("id").as("old"), col("id").as("root"))
            else sp.read.parquet(remaps.max)
          Dedup.ccIvmBatch(batch, rd("sh"), rd("sig"), rd("lbl"),
            prevRemap, rd("gk"), state, f"b$batchId%05d")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    // read-back: every label generation, resolved through the FINAL
    // compacted remap (one hop — the compaction invariant)
    val allGens = gensBefore("lbl", Long.MaxValue)
    val allLbl = s.read.parquet(allGens: _*)
    val remapGens = gensBefore("remap", Long.MaxValue)
    if (remapGens.isEmpty) allLbl.select(col("doc_id"), col("component"))
    else allLbl
      .join(s.read.parquet(remapGens.max)
        .withColumnRenamed("old", "component"), Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("component")).as("component"))
  }

  /** MAINTAINED-CLUSTERING COMPACTION — the lifecycle op for the
    * heaviest maintained state in the engine, exercised MID-REPLAY
    * (the only compaction whose correctness is non-trivial: unlike the
    * signature/list/postings stores, the cc fold READS its stores back
    * — the band probe scans every signature generation and label
    * resolution hops the remap — so the gate must prove folds AFTER a
    * compaction still converge to the from-scratch clustering). The
    * resident three doc_id-rank quartiles cluster as the base; the
    * last quartile arrives as a 3-micro-batch stream; batches 0–1 fold
    * into the live store exactly like `dedup_cc_ivm`, then the store
    * COMPACTS ([[Dedup.ccCompact]]: shingles/signatures concatenate,
    * labels resolve through the remap into live roots, the remap
    * vanishes), and batch 2 folds against the compacted store — its
    * band probe now scans ONE signature generation, its label
    * resolution starts from an empty remap. The emitted result is the
    * final label set, hash-checked against the same from-scratch
    * transitive-closure oracle as `dedup_cc_ivm`:
    * fold(compact(gens)) ≡ fold(gens), for the clustering itself.
    *
    * Replay idempotency at the boundary: the compaction's inputs are
    * the generations strictly BEFORE the boundary batch (fixed by the
    * time it runs) and its output is an overwrite — a replayed
    * boundary batch re-compacts byte-identically before re-folding.
    *
    * Scale shape: this is the op that bounds the one measured
    * depth-growth term in the engine (the r15 rung's cc fold, 7 → 12
    * s/batch from 10× to 100×, traced to the band-store probe scanning
    * the growing generation list); compaction cost itself is three
    * linear rewrites + one remap-sized join, O(index) never O(corpus).
    */
  private val dedupCcCompact: Q = (s, d) => {
    val run = Materialized.runDir("graft_cccp_", d)
    val docs = T(s, d, "documents")
    val ranked = docQuartiles(docs)
    val state = run.resolve("state") // live store, folds before the boundary
    val cstate = run.resolve("cstate") // compacted store, folds after
    Dedup.ccIvmBaseFromShared(s, d,
      ranked.filter(col("bucket") < 3).select(col("doc_id")), state)
    val srcDir = run.resolve("src").toString
    ranked.filter(col("bucket") === 3).drop("bucket")
      .repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    // generations BEFORE batch k under a store root — the dedupCcIvm
    // helper parameterized over the root, because this face folds into
    // two stores (live until the boundary, compacted after)
    def gensBefore(root: java.nio.file.Path, sub: String,
        batchId: Long): Seq[String] = {
      val dir = root.resolve(sub)
      if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
      else Dirs.list(dir)
        .filter { p =>
          val n = p.getFileName.toString
          n == "base" || n.drop(1).toLong < batchId
        }.map(_.toString).sorted
    }
    val compactAt = 2L
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          val root = if (batchId < compactAt) state else cstate
          if (batchId == compactAt) {
            // the boundary: rewrite everything folded so far (inputs
            // fixed — gens strictly before the boundary) into the
            // compacted store; idempotent overwrite under replay
            def all(sub: String) =
              sp.read.parquet(gensBefore(state, sub, compactAt): _*)
            val remaps = gensBefore(state, "remap", compactAt)
            val finalRemap =
              if (remaps.isEmpty)
                sp.range(0).select(col("id").as("old"), col("id").as("root"))
              else sp.read.parquet(remaps.max)
            Dedup.ccCompact(all("sh"), all("sig"), all("lbl"),
              finalRemap, all("gk"), cstate)
          }
          def rd(sub: String) =
            sp.read.parquet(gensBefore(root, sub, batchId): _*)
          val remaps = gensBefore(root, "remap", batchId)
          val prevRemap =
            if (remaps.isEmpty)
              sp.range(0).select(col("id").as("old"), col("id").as("root"))
            else sp.read.parquet(remaps.max)
          Dedup.ccIvmBatch(batch, rd("sh"), rd("sig"), rd("lbl"),
            prevRemap, rd("gk"), root, f"b$batchId%05d")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    // read-back: the compacted store's label generations resolved
    // through ITS final remap (base labels are already live roots —
    // the compaction invariant; only post-boundary merges re-point)
    val allLbl = s.read.parquet(
      gensBefore(cstate, "lbl", Long.MaxValue): _*)
    val remapGens = gensBefore(cstate, "remap", Long.MaxValue)
    if (remapGens.isEmpty) allLbl.select(col("doc_id"), col("component"))
    else allLbl
      .join(s.read.parquet(remapGens.max)
        .withColumnRenamed("old", "component"), Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("component")).as("component"))
  }

  /** MAINTAINED CLUSTERING UNDER INTERLEAVED ARRIVALS AND TAKEDOWNS —
    * the lifecycle a production 100 TB dedup tier actually runs:
    * documents keep arriving while rights removals and contamination
    * purges delete others, and the maintained component labels must
    * track both. The resident first half clusters as the base; the
    * last two quartiles arrive as a 3-micro-batch stream; at the
    * batch-1 boundary a TAKEDOWN fold ([[Dedup.ccDeleteBatch]])
    * removes every stored victim (`doc_id % TakedownMod =
    * TakedownRem`): dead signatures stop banding, every affected
    * component's label rows die, and the affected SURVIVORS
    * re-cluster from the stored slices — splits fall out, stranded
    * min-labels re-anchor. Batches 1–2 pass a door DENYLIST (the
    * takedown extends to future arrivals) and fold normally against
    * the takedown-aware store — an arrival may even RE-BRIDGE a split
    * component, and the normal merge mechanism handles it.
    *
    * Label-store reads fold chronologically: base ∪ arrival gens,
    * anti-joined by the takedown's tombstones, plus its fresh rows —
    * placement is order-insensitive because tombstoned docs have no
    * rows in later arrival gens (the store contract) and fresh rows
    * union after the anti-join. The emitted result is every
    * maintained label resolved through the final remap — hash-checked
    * against the from-scratch transitive-closure oracle over ALL
    * documents MINUS the victims: fold-of-arrivals-and-takedowns ≡
    * recluster-without.
    *
    * Replay idempotency at the boundary: the takedown's inputs are
    * the generations strictly before batch 1 (fixed by the time it
    * runs) and every write is a per-gen overwrite.
    */
  /** One takedown replay per dataset version per process — the replay
    * left the `index` group in r17 (its full-replay bill regressed the
    * group line twice in two rounds — the r15/r16 attribution
    * finding); the memoized solo face adopts one run, and the bench's
    * named `cc_takedown_replay` item carries the cost. The memo holds
    * the run's state PATH and the lazy read-back plan is rebuilt with
    * the CALLER's session — caching a live DataFrame bound the plan to
    * the session that created it (the r17 ADVICE finding).
    */
  private[graft] lazy val ccTakedownReplay = Materialized.memo(
      "cc_takedown_replay", "graft_cctd_", "cctdrun:v1")(ccTakedownInto)

  private val dedupCcTakedown: Q = (s, d) =>
    new CcTakedownStore(ccTakedownReplay(s, d)).readBack(s)

  /** Readers over a takedown replay's persisted state — shared by the
    * replay's own per-batch folds and the read-back, and constructed
    * fresh per read so the plan binds to the reading session.
    */
  private final class CcTakedownStore(state: java.nio.file.Path,
      val deleteAt: Long = 1L) {
    val dGen = f"d$deleteAt%05d"

    def gensBefore(sub: String, batchId: Long): Seq[String] = {
      val dir = state.resolve(sub)
      if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
      else Dirs.list(dir)
        .filter { p =>
          val n = p.getFileName.toString
          n == "base" || n.drop(1).toLong < batchId
        }.map(_.toString).sorted
    }

    def rdDelete(sp: SparkSession, sub: String): DataFrame =
      sp.read.parquet(state.resolve(s"$sub/$dGen").toString)

    // store readers, takedown-aware once the boundary has passed
    def rdRows(sp: SparkSession, sub: String, batchId: Long): DataFrame = {
      val all = sp.read.parquet(gensBefore(sub, batchId): _*)
      if (batchId < deleteAt) all
      else all.join(rdDelete(sp, "dead"), Seq("doc_id"), "left_anti")
    }

    // the label fold is CHRONOLOGICAL: the takedown's tombstones kill
    // only rows written BEFORE it — a delete-time singleton can be
    // re-labeled by a later arrival that re-pairs it, and that fresh
    // row must survive the fold (the sf0.1 two-row lesson: an
    // end-positioned anti-join erased exactly those resurrections)
    def rdLbl(sp: SparkSession, batchId: Long,
        withDelete: Boolean): DataFrame = {
      if (!withDelete) sp.read.parquet(gensBefore("lbl", batchId): _*)
      else {
        val preGens = gensBefore("lbl", deleteAt)
        val pre = sp.read.parquet(preGens: _*)
          .join(rdDelete(sp, "lbltomb"), Seq("doc_id"), "left_anti")
          .unionByName(rdDelete(sp, "lblfresh"))
        val post = gensBefore("lbl", batchId).filterNot(preGens.toSet)
        if (post.isEmpty) pre
        else pre.unionByName(sp.read.parquet(post: _*))
      }
    }

    // the remap fold is the takedown's REWRITE point: a pre-boundary
    // snapshot may carry entries whose root lies in an affected
    // component — every doc resolving there just got tombstones +
    // fresh rows, so those entries are dead, and probing one is
    // actively WRONG on the merge-undo path (a takedown that removes
    // a pre-boundary bridge splits the merged component; the split-off
    // survivors' fresh rows re-anchor at the old sub-root, a remap
    // KEY, and the stale entry would re-resolve them into the
    // component they split from). Drop them with one broadcast
    // anti-join on the takedown's persisted affected set. Exactly
    // once: post-boundary folds READ the filtered remap and write
    // snapshots built from it, so a post-boundary max gen needs no
    // filter (and must not get one — a later merge may legitimately
    // re-anchor at a root value inside the old affected set).
    def rdRemap(sp: SparkSession, batchId: Long,
        withDelete: Boolean): DataFrame = {
      val remaps = gensBefore("remap", batchId)
      if (remaps.isEmpty)
        sp.range(0).select(col("id").as("old"), col("id").as("root"))
      else {
        val m = sp.read.parquet(remaps.max)
        val genName =
          java.nio.file.Paths.get(remaps.max).getFileName.toString
        val preBoundary =
          genName == "base" || genName.drop(1).toLong < deleteAt
        if (!withDelete || !preBoundary) m
        else m.join(
          broadcast(rdDelete(sp, "affcomp")
            .withColumnRenamed("component", "root")),
          Seq("root"), "left_anti")
      }
    }

    // read-back: the takedown-aware label fold, resolved through the
    // final compacted remap (one hop)
    def readBack(s: SparkSession): DataFrame =
      rdLbl(s, Long.MaxValue, withDelete = true)
        .withColumnRenamed("component", "l0")
        .join(rdRemap(s, Long.MaxValue, withDelete = true)
          .withColumnRenamed("old", "l0"), Seq("l0"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("l0")).as("component"))
  }

  /** The takedown replay into `run`. Returns the run's state path;
    * [[CcTakedownStore]] reads the terminal labels back.
    */
  private def ccTakedownInto(s: SparkSession, d: String,
      run: java.nio.file.Path): java.nio.file.Path = {
    val docs = T(s, d, "documents")
    val ranked = Dedup.materialize(docQuartiles(docs))
    val state = run.resolve("state")
    Dedup.ccIvmBaseFromShared(s, d,
      ranked.filter(col("bucket") < 2).select(col("doc_id")), state)
    val srcDir = run.resolve("src").toString
    ranked.filter(col("bucket") >= 2).drop("bucket")
      .repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    Dedup.releaseCheckpoint(ranked)
    val raw = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val st = new CcTakedownStore(state)
    val deleteAt = st.deleteAt
    val isVictim = pmod(col("doc_id"), lit(TakedownMod)) === TakedownRem
    withStreamingParallelism(s) {
      val q = raw.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          if (batchId == deleteAt) {
            // the takedown: victims = every STORED doc in the slice;
            // inputs fixed (gens strictly before the boundary),
            // outputs idempotent overwrites
            val priorSig =
              sp.read.parquet(st.gensBefore("sig", deleteAt): _*)
            val priorSh =
              sp.read.parquet(st.gensBefore("sh", deleteAt): _*)
            val resolved = st.rdLbl(sp, deleteAt, withDelete = false)
              .withColumnRenamed("component", "l0")
              .join(st.rdRemap(sp, deleteAt, withDelete = false)
                .withColumnRenamed("old", "l0"), Seq("l0"), "left")
              .select(col("doc_id"),
                coalesce(col("root"), col("l0")).as("component"))
            Dedup.ccDeleteBatch(priorSig.filter(isVictim), priorSh,
              priorSig, resolved, state, st.dGen)
          }
          // the door denylist: once a takedown is issued, matching
          // arrivals are refused at ingest
          val door = if (batchId >= deleteAt) batch.filter(!isVictim)
            else batch
          Dedup.ccIvmBatch(door, st.rdRows(sp, "sh", batchId),
            st.rdRows(sp, "sig", batchId),
            st.rdLbl(sp, batchId, withDelete = batchId >= deleteAt),
            st.rdRemap(sp, batchId, withDelete = batchId >= deleteAt),
            st.rdRows(sp, "gk", batchId),
            state, f"b$batchId%05d")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    state
  }

  /** The takedown maintainer WITHOUT the replay-group wrapper — for
    * specs driving it over planted synthetic corpora (the group
    * replays every `index` member, which needs the full table set).
    */
  private[graft] def ccTakedownRaw: Q = (s, d) =>
    new CcTakedownStore(ccTakedownInto(s, d,
      Materialized.runDir("graft_cctds_", d))).readBack(s)

  /** The streaming face of `events_anomaly` — a TWO-STAGE streaming
    * topology, each stage the production shape:
    *
    *  1. watermarked hourly windowed counts in APPEND mode (a window
    *     emits exactly once, when the watermark passes its close; a
    *     3-hour sentinel drains the tail) into a parquet stage — the
    *     same finalized-window stream `stream_windowed_counts` proves;
    *  2. a second streaming query reads the finalized windows and folds
    *     them through KEYED state ([[graft.streaming
    *     .TrailingBaselineProcessor]]): per event type a ring of the
    *     trailing 24 observed hours, O(1) state per key — the streaming
    *     equivalent of the batch `rowsBetween(-24, -1)` frame with no
    *     historical re-sort, which is exactly what a 100 TB/day monitor
    *     needs (the batch face re-reads all history every run).
    *
    * Append-mode watermarking guarantees stage-2 sees hours in
    * ascending event-time order across batches (windows emit in
    * watermark order), so the keyed fold equals the batch window frame
    * — the two faces SHARE `events_anomaly`'s DuckDB oracle. The
    * sentinel's own (null-typed) window never closes, so it never even
    * reaches stage 2.
    */
  /** The finalized hourly `(event_type, hour_epoch, n)` windows every
    * hourly-recurrence face folds: one append-mode watermarked window
    * query over the 3 h-sentinel staging, written once per dataset
    * version per process and read by every stage-2 (before r13 each of
    * anomaly/ewma/holtwinters re-ran it). Concurrent group members wait
    * on the one build and adopt its directory.
    */
  private[graft] lazy val hourlyStage = Materialized.memo(
      "stream_stage1_hourly", "graft_hourly1_", "hourlywin:v1") {
      (s, d, run) =>
    val win = run.resolve("win").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(win))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts")
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val src = stageSessionSource(s, d, schema, run,
      sentinelOffsetNanos = 3 * 3600L * 1000 * 1000 * 1000)
    withStreamingParallelism(s) {
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(src)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      val q1 = raw.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"),
          unix_seconds(col("window.start")).as("hour_epoch"), col("n"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", win)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk1").toString)
        .start()
      q1.awaitTermination()
    }
    win
  }

  private val streamAnomaly: Q = (s, d) => {
    val win = hourlyStage(s, d)
    val run = Materialized.runDir("graft_anostream_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    withStreamingParallelism(s) {
      // stage 2: keyed trailing-baseline fold over the finalized windows
      withRocksDbStateStore(s) {
        import s.implicits._
        val rows = s.readStream
          .schema("event_type STRING, hour_epoch BIGINT, n BIGINT")
          .option("pathGlobFilter", "*.parquet").parquet(win)
          .filter(col("event_type").isNotNull)
          .as[graft.streaming.HourCount]
        val q2 = rows.groupByKey(_.event_type)
          .transformWithState(new graft.streaming.TrailingBaselineProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk2").toString)
          .start()
        q2.awaitTermination()
      }
    }
    s.read.schema("event_type STRING, hour_epoch BIGINT, n BIGINT, " +
        "w_cnt BIGINT, w_sum BIGINT, is_spike BOOLEAN").parquet(out)
  }

  /** Streaming EWMA — the `events_ewma` recurrence as a streaming
    * topology, sharing its oracle: stage 1 finalizes hourly counts
    * (append-mode watermarked windows, identical to [[streamAnomaly]]'s
    * first stage), stage 2 folds them through ONE long of keyed state
    * per event type ([[graft.streaming.EwmaProcessor]] on RocksDB) —
    * the O(1)-state streaming shape of a recurrence that batch SQL can
    * only express as a sequential fold.
    */
  private val streamEwma: Q = (s, d) => {
    val win = hourlyStage(s, d)
    val run = Materialized.runDir("graft_ewmastream_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    withStreamingParallelism(s) {
      withRocksDbStateStore(s) {
        import s.implicits._
        val rows = s.readStream
          .schema("event_type STRING, hour_epoch BIGINT, n BIGINT")
          .option("pathGlobFilter", "*.parquet").parquet(win)
          .filter(col("event_type").isNotNull)
          .as[graft.streaming.HourCount]
        val q2 = rows.groupByKey(_.event_type)
          .transformWithState(new graft.streaming.EwmaProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk2").toString)
          .start()
        q2.awaitTermination()
      }
    }
    s.read.schema("event_type STRING, hour_epoch BIGINT, n BIGINT, " +
        "ewma_scaled BIGINT").parquet(out)
  }

  /** The Holt-Winters seasonal recurrence as STREAMING STATE — the
    * vector-state member of the `stream_ewma` family: finalized hourly
    * counts feed a keyed processor carrying (level, trend, the 24-slot
    * hour-of-day seasonal vector) per series — O(26 longs) forever —
    * and the drained emissions must equal the batch `events_holtwinters`
    * fold (the shared oracle): seasonal state accumulated batch over
    * batch prices identically to the one-pass HOF.
    */
  private val streamHoltWinters: Q = (s, d) => {
    val win = hourlyStage(s, d)
    val run = Materialized.runDir("graft_hwstream_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    withStreamingParallelism(s) {
      withRocksDbStateStore(s) {
        import s.implicits._
        val rows = s.readStream
          .schema("event_type STRING, hour_epoch BIGINT, n BIGINT")
          .option("pathGlobFilter", "*.parquet").parquet(win)
          .filter(col("event_type").isNotNull)
          .as[graft.streaming.HourCount]
        val q2 = rows.groupByKey(_.event_type)
          .transformWithState(new graft.streaming.HoltWintersProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk2").toString)
          .start()
        q2.awaitTermination()
      }
    }
    s.read.schema("event_type STRING, hour_epoch BIGINT, n BIGINT, " +
        "level_scaled BIGINT, trend_scaled BIGINT, seasonal_scaled BIGINT, " +
        "forecast_scaled BIGINT").parquet(out)
  }

  /** Streaming CONVERSION FUNNEL — the per-user view → click → purchase
    * state machine as a streaming topology, sharing the batch
    * `funnel_conversion` oracle. Stage 1 finalizes `(user, hour, type)`
    * rows carrying EVERY raw timestamp for that cell (append-mode
    * hourly windows — the list, not the min, is what makes the fold
    * exact; see [[graft.streaming.UserHourEvents]]); stage 2 folds them
    * into three longs of keyed state per user
    * ([[graft.streaming.FunnelStageProcessor]] on RocksDB), emitting a
    * snapshot only on change. Watermark ordering makes the incremental
    * fold equal the batch three-window chain — the argument lives on
    * [[graft.streaming.FunnelFold.step]], where it is spec'd without a
    * harness. Read-back: per-user min of the set-once fields, then the
    * same three-row stage count the batch face emits.
    */
  private val streamFunnel: Q = (s, d) => {
    val run = Materialized.runDir("graft_funstream_", d)
    val mid = run.resolve("mid").toString
    val out = run.resolve("out").toString
    Seq(mid, out).foreach(p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p)))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val src = stageSessionSource(s, d, schema, run,
      sentinelOffsetNanos = 3 * 3600L * 1000 * 1000 * 1000)
    withStreamingParallelism(s) {
      // stage 1: finalized per-(user, hour, type) timestamp lists; the
      // sentinel row must pass the filter to drive the final watermark
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(src)
        .filter(col("event_type").isin("view", "click", "purchase") ||
          col("user_id") === SentinelUser)
        .withColumn("ts_nanos", col("ts"))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      val q1 = raw.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"),
          col("event_type"))
        .agg(collect_list(col("ts_nanos")).as("ts_list"))
        .select(col("user_id"),
          unix_seconds(col("window.start")).as("hour_epoch"),
          col("event_type"), col("ts_list"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", mid)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk1").toString)
        .start()
      q1.awaitTermination()
      // stage 2: keyed three-long funnel state per user
      withRocksDbStateStore(s) {
        import s.implicits._
        val rows = s.readStream
          .schema("user_id BIGINT, hour_epoch BIGINT, " +
            "event_type STRING, ts_list ARRAY<BIGINT>")
          .option("pathGlobFilter", "*.parquet").parquet(mid)
          .filter(col("user_id") =!= SentinelUser &&
            col("event_type").isNotNull)
          .as[graft.streaming.UserHourEvents]
        val q2 = rows.groupByKey(_.user_id)
          .transformWithState(new graft.streaming.FunnelStageProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk2").toString)
          .start()
        q2.awaitTermination()
      }
    }
    val unset = graft.streaming.FunnelFold.Unset
    val finals = s.read
      .schema("user_id BIGINT, v BIGINT, c BIGINT, p BIGINT").parquet(out)
      .groupBy(col("user_id"))
      .agg(min(col("v")).as("v"), min(col("c")).as("c"),
        min(col("p")).as("p"))
    val counts = finals.agg(
      sum(when(col("v") =!= unset, 1L).otherwise(0L)).as("n_view"),
      sum(when(col("c") =!= unset, 1L).otherwise(0L)).as("n_click"),
      sum(when(col("p") =!= unset, 1L).otherwise(0L)).as("n_purchase"))
    counts.select(explode(array(
      struct(lit("view").as("stage"), col("n_view").as("n_users")),
      struct(lit("click").as("stage"), col("n_click").as("n_users")),
      struct(lit("purchase").as("stage"),
        col("n_purchase").as("n_users")))).as("s"))
      .select(col("s.*"))
  }

  /** Streaming RETENTION COHORTS — the weekly engagement matrix as a
    * streaming topology, sharing the batch `retention_cohorts` oracle.
    * Stage 1 finalizes the distinct `(user, week)` activity domain with
    * Monday-aligned 7-day event-time windows (`startTime = 4 days`
    * shifts the epoch-Thursday origin to Monday, matching the batch
    * face's `date_trunc('week')`); stage 2 assigns each user's cohort
    * with ONE long of keyed state — watermark ordering makes the first
    * seen week the min week, so no history is ever stored
    * ([[graft.streaming.RetentionCohortProcessor]]). The sentinel sits
    * 9 days past the stream end so the final watermark closes the last
    * real week.
    */
  private val streamRetention: Q = (s, d) => {
    val run = Materialized.runDir("graft_retstream_", d)
    val mid = run.resolve("mid").toString
    val out = run.resolve("out").toString
    Seq(mid, out).foreach(p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p)))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val src = stageSessionSource(s, d, schema, run,
      sentinelOffsetNanos = 9 * 24 * 3600L * 1000 * 1000 * 1000)
    withStreamingParallelism(s) {
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(src)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      val q1 = raw.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "7 days", "7 days", "4 days"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          (unix_seconds(col("window.start")) / 86400L).cast("long")
            .as("week_day"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", mid)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk1").toString)
        .start()
      q1.awaitTermination()
      withRocksDbStateStore(s) {
        import s.implicits._
        val rows = s.readStream
          .schema("user_id BIGINT, week_day BIGINT")
          .option("pathGlobFilter", "*.parquet").parquet(mid)
          .filter(col("user_id") =!= SentinelUser)
          .as[graft.streaming.WeekActive]
        val q2 = rows.groupByKey(_.user_id)
          .transformWithState(new graft.streaming.RetentionCohortProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk2").toString)
          .start()
        q2.awaitTermination()
      }
    }
    s.read
      .schema("user_id BIGINT, cohort_day BIGINT, week_day BIGINT")
      .parquet(out)
      .groupBy(col("cohort_day"),
        ((col("week_day") - col("cohort_day")) / 7).cast("long")
          .as("weeks_since"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Streaming corrupt-record QUARANTINE — ingestion-door robustness as
    * a streaming topology: the (deterministically dirtied) JSON feed
    * splits at the door into parsed rows and a DEAD-LETTER sink, the
    * side-output shape every production ingest runs (the batch face
    * `json_quarantine` only counts the split; this one actually routes
    * the records). Two single-sink streaming queries over the same
    * staged source keep BOTH legs on the parquet sink's exactly-once
    * file log — the one-query/two-writes alternative (foreachBatch)
    * would need hand-built batchId idempotence on every leg (see
    * stream_enrich's r7 lesson). The dead-letter leg carries the RAW
    * malformed payload, which is the point of a quarantine: nothing is
    * dropped, everything is replayable. Shares the batch face's DuckDB
    * oracle.
    */
  private val streamQuarantine: Q = (s, d) => {
    val run = Materialized.runDir("graft_quarstream_", d)
    val good = run.resolve("good").toString
    val dead = run.resolve("dead").toString
    Seq(good, dead).foreach(p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p)))
    val schema = T(s, d, "orders").schema
    def feed() = {
      val js = concat(lit("{\"k\":"), col("o_orderkey"),
        lit(",\"s\":\""), col("o_orderstatus"), lit("\"}"))
      s.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet").parquet(d)
        .select(when(pmod(col("o_orderkey"), lit(13)) === 0,
          substring(js, 1, 9)).otherwise(js).as("js"))
        .withColumn("k", get_json_object(col("js"), "$.k").cast("long"))
    }
    withStreamingParallelism(s) {
      def route(df: DataFrame, out: String, chk: String): Unit = {
        val q = df.writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve(chk).toString)
          .start()
        q.awaitTermination()
      }
      route(feed().filter(col("k").isNotNull).select(col("k")),
        good, "chk_good")
      route(feed().filter(col("k").isNull).select(col("js")),
        dead, "chk_dead")
    }
    s.read.schema("k BIGINT").parquet(good)
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
      .select(lit("parsed").as("bucket"), col("n"), col("k_sum"))
      .union(s.read.schema("js STRING").parquet(dead)
        .agg(count(lit(1)).as("n"),
          lit(null).cast("long").as("k_sum"))
        .select(lit("quarantined").as("bucket"), col("n"), col("k_sum")))
  }

  /** `transformWithState` requires the RocksDB state store provider;
    * scope it to the run and restore the session's prior setting (the
    * other replays keep whatever the session was configured with).
    */
  private def withRocksDbStateStore[A](s: SparkSession)(run: => A): A =
    ConfScope.enter(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")(run)

  /** The accumulated near-dup pairs: fold per-band hits into the
    * per-pair shared-band count (idempotent under batch replay).
    */
  private[graft] def readIngestPairs(s: SparkSession,
      pairsDir: String): DataFrame =
    s.read.schema("a_id BIGINT, b_id BIGINT, band INT")
      .parquet(pairsDir)
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("band")).as("n_bands"))

  /** STREAM-STREAM interval join — click→purchase attribution: every
    * purchase joined to the same user's clicks in the preceding 24 h.
    * Both sides are real streams (the events replay read twice,
    * filtered per side), so this exercises the symmetric-hash-join
    * state machine: each side buffers rows in keyed state, probes the
    * other side's buffer on arrival, and the event-time bound in the
    * join condition plus the watermarks lets Spark EVICT buffered rows
    * once they can no longer match — state is O(events within the
    * attribution window), never O(stream). At 100 TB/day the state
    * footprint is the 24 h window per user shard, the join key
    * partitions both sides to the same executor, and late events drop
    * at the watermark — all declared, nothing hand-built.
    *
    * An inner interval join is CONFLUENT over batching (a pair emits
    * when its later row arrives and finds the earlier one buffered;
    * the multi-batch union is spec-asserted equal to the one-batch
    * run in StreamJoinSpec), so the result is hash-checked against
    * the plain SQL self-join oracle.
    */
  private val streamJoinAttrib: Q = (s, d) => {
    val run = Materialized.runDir("graft_sjoin_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val src = stageNanosEvents(s, d, run.resolve("src"))
    // two independent stream readers over the same replay file — the
    // shape of two genuinely distinct topics sharing an event-time axis
    def feed = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(src)
      // plain UTC TIMESTAMP: watermarks reject TIMESTAMP_NTZ (run is UTC)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    withStreamingParallelism(s) {
      val q = joinClicksToPurchases(
          feed.filter(col("event_type") === "click"),
          feed.filter(col("event_type") === "purchase"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    s.read.schema(
      "user_id BIGINT, click_id BIGINT, purchase_id BIGINT, gap_us BIGINT")
      .parquet(out)
  }

  /** The attribution join body on arbitrary click/purchase streams
    * (each `(user_id, event_id, ts)`-shaped after the rename) — split
    * out so the batching-confluence spec can drive it from
    * MemoryStreams.
    */
  private[graft] def joinClicksToPurchases(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts")).withWatermark("click_ts", "1 hour")
    val p = purchases.select(col("user_id").as("p_user"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p, col("user_id") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 24 HOURS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("gap_us"))
  }

  /** STREAM-STATIC enrich — the dimension-lookup shape every event
    * pipeline runs at the door: the event stream joins a static
    * customer dimension on the subscriber key. Spark plans the static
    * side as an ordinary batch relation under the streaming plan — with
    * a small dimension it BROADCASTS, so every micro-batch enriches
    * map-side with NO stream-side shuffle and NO state store at all
    * (nothing to evict: the static side is re-resolvable per batch,
    * which is also how dimension updates between batches become
    * visible). Per-user spend by segment demonstrates the enrich
    * feeding a downstream aggregate; hash-checked against the batch
    * join+group SQL.
    */
  private val streamEnrich: Q = (s, d) => {
    val run = Materialized.runDir("graft_enrich_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // this replay never touches ts — read with the table's own on-disk
    // schema so the stream is physical-type-agnostic, no staging needed
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    val dim = T(s, d, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    withStreamingParallelism(s) {
      // the parquet STREAMING sink, not foreachBatch + blind append:
      // foreachBatch is at-least-once, so a failed-then-replayed
      // micro-batch would double-append rows and silently inflate
      // n_events/total_value — the sink's transactional file log
      // commits each batch exactly once instead (r7 shipped the blind
      // append; flagged by the round-7 advisor)
      val q = raw.join(broadcast(dim), Seq("user_id"))
        .select(col("c_mktsegment"), col("user_id"), col("value"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    s.read.schema("c_mktsegment STRING, user_id BIGINT, value DOUBLE")
      .parquet(out)
      .groupBy(col("c_mktsegment"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
  }

  /** Streaming face of `events_state_history` — the CDC-consumer SCD2
    * materializer run as a stream: watermark-finalized per-(user,
    * hour) event lists feed a keyed open-run fold
    * ([[graft.streaming.StateHistoryFold]], where the ordering
    * exactness argument is spec'd without a harness), emitting run
    * snapshots whose per-version `max(n_events)` read-back is the
    * batch table; interval closure (`valid_to` = next run's start) is
    * recomputed from the finalized version starts, exactly as the
    * batch face's lead().
    */
  /** The finalized per-(user, hour) typed event lists every user-walk
    * face folds (micros ts — the batch faces' precision; see
    * [[graft.streaming.EventAt]]), built ONCE per dataset version per
    * process: before r13 each of the four walk faces re-ran this
    * identical append-mode stage-1.
    */
  private[graft] lazy val walkStage = Materialized.memo(
      "stream_stage1_walk", "graft_walk1_", "walkmid:v1") { (s, d, run) =>
    val mid = run.resolve("mid").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mid))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts")
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val src = stageSessionSource(s, d, schema, run,
      sentinelOffsetNanos = 3 * 3600L * 1000 * 1000 * 1000)
    withStreamingParallelism(s) {
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(src)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      val q1 = raw.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(collect_list(struct(col("ts_us").as("ts"), col("event_id"),
          col("event_type"))).as("evs"))
        .select(col("user_id"),
          unix_seconds(col("window.start")).as("hour_epoch"), col("evs"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", mid)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk1").toString)
        .start()
      q1.awaitTermination()
    }
    mid
  }

  /** Shared two-stage topology for the keyed walk replays
    * (`stream_state_history`, `stream_paths`, CEP, rate-limit): stage 1
    * is the SHARED [[walkStage]] finalization (one run, four
    * consumers); stage 2 runs the given `transformWithState` processor
    * per user on RocksDB and writes its emissions to `out`, which the
    * caller reads back.
    */
  private def runUserWalkTopology[O](s: SparkSession, d: String,
      run: java.nio.file.Path,
      processor: org.apache.spark.sql.streaming.StatefulProcessor[
        Long, graft.streaming.UserHourTyped, O],
      outEncoder: org.apache.spark.sql.Encoder[O]): String = {
    val mid = walkStage(s, d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    withStreamingParallelism(s) {
      withRocksDbStateStore(s) {
        import s.implicits._
        val rows = s.readStream
          .schema("user_id BIGINT, hour_epoch BIGINT, evs ARRAY<STRUCT<" +
            "ts: BIGINT, event_id: BIGINT, event_type: STRING>>")
          .option("pathGlobFilter", "*.parquet").parquet(mid)
          .filter(col("user_id") =!= SentinelUser)
          .as[graft.streaming.UserHourTyped]
        val q2 = rows.groupByKey(_.user_id)
          .transformWithState(processor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())(outEncoder)
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk2").toString)
          .start()
        q2.awaitTermination()
      }
    }
    out
  }

  /** Streaming LAST-TOUCH ATTRIBUTION — the `events_attribution` carry
    * window as a streaming topology sharing its oracle: stage 1
    * finalizes `(user, hour)` rows carrying every event's `(ts, id,
    * type, exact cents)` (the [[runUserWalkTopology]] shape, restaged
    * here because that topology's rows carry no values); stage 2 walks
    * them through ONE STRING of keyed state per user
    * ([[graft.streaming.AttributionProcessor]] on RocksDB — the
    * carried touch), emitting one final credit row per purchase; the
    * read side is the same groupBy the batch face ends with.
    */
  private val streamAttribution: Q = (s, d) => {
    val run = Materialized.runDir("graft_attrstream_", d)
    val mid = run.resolve("mid").toString
    val out = run.resolve("out").toString
    Seq(mid, out).foreach(p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p)))
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val src = stageSessionSource(s, d, schema, run,
      sentinelOffsetNanos = 3 * 3600L * 1000 * 1000 * 1000)
    withStreamingParallelism(s) {
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(src)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      val q1 = raw.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(collect_list(struct(col("ts_us").as("ts"), col("event_id"),
          col("event_type"), col("cents"))).as("evs"))
        .select(col("user_id"),
          unix_seconds(col("window.start")).as("hour_epoch"), col("evs"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", mid)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk1").toString)
        .start()
      q1.awaitTermination()
      withRocksDbStateStore(s) {
        import s.implicits._
        val rows = s.readStream
          .schema("user_id BIGINT, hour_epoch BIGINT, evs ARRAY<STRUCT<" +
            "ts: BIGINT, event_id: BIGINT, event_type: STRING, cents: BIGINT>>")
          .option("pathGlobFilter", "*.parquet").parquet(mid)
          .filter(col("user_id") =!= SentinelUser)
          .as[graft.streaming.UserHourValued]
        val q2 = rows.groupByKey(_.user_id)
          .transformWithState(new graft.streaming.AttributionProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.resolve("chk2").toString)
          .start()
        q2.awaitTermination()
      }
    }
    s.read.schema("user_id BIGINT, touch_type STRING, cents BIGINT")
      .parquet(out)
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
  }

  /** M4 DOWNSAMPLING AS STREAMING STATE — the dashboard reduction
    * maintained continuously: per (type, 6 h pixel bucket) the state is
    * FOUR aggregates (count, min, max, and the (te, event_id, c)-struct
    * min/max whose `c` fields are the order-anchored first/last), all
    * declarative min/max/count — so update-mode streaming aggregation
    * merges them batch over batch with no custom processor, and the
    * drained result must equal the batch `events_m4_downsample` (the
    * shared oracle). The struct-min trick is the point: "first by total
    * order" is not a streaming-safe `first()`, but it IS a plain `min`
    * over `(te, event_id, c)` — commutative, mergeable, exact.
    */
  private val streamM4: Q = (s, d) => {
    val run = Materialized.runDir("graft_m4stream_", d)
    val out = run.resolve("out").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    stageIvmSource(s, d, run)
    val schema = org.apache.spark.sql.types.StructType(
      T(s, d, "events").schema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(run.resolve("src").toString)
      .withColumn("te", expr("ts div 1000000000"))
      .withColumn("c", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    withStreamingParallelism(s) {
      val anchor = struct(col("te"), col("event_id"), col("c"))
      val q = raw
        .withWatermark("ts", "1 hour")
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "6 hours"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("c")).as("v_min_cents"), max(col("c")).as("v_max_cents"),
          min(anchor).as("fs"), max(anchor).as("ls"))
        .select(unix_seconds(col("window.start")).as("bucket_epoch"),
          col("event_type"), col("n"), col("v_min_cents"),
          col("v_max_cents"), col("fs.c").as("v_first_cents"),
          col("ls.c").as("v_last_cents"))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", run.resolve("chk").toString)
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket_epoch"), col("event_type"))
      .orderBy(col("batch_id").desc)
    s.read.parquet(out)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("bucket_epoch"), col("n"),
        col("v_min_cents"), col("v_max_cents"), col("v_first_cents"),
        col("v_last_cents"))
  }

  /** Streaming CEP — the `events_cep_match` negative-condition sequence
    * rule run as a keyed stateful stream: the same user-walk topology as
    * attribution/state-history (finalized hours → `transformWithState`
    * on RocksDB), with a TWO-LONG carry per user (ordinals of the most
    * recent view and error). A view in one micro-batch matches a
    * purchase several batches later exactly as the batch carry window
    * would — the confluence the shared oracle enforces. This is the
    * production CEP shape: O(1) state per key however long the stream,
    * each verdict emitted once and final, vs the CEP-engine
    * alternative of buffering event history per pattern.
    */
  private val streamCepMatch: Q = (s, d) => {
    val run = Materialized.runDir("graft_cepstream_", d)
    val out = runUserWalkTopology(s, d, run,
      new graft.streaming.CepProcessor,
      org.apache.spark.sql.Encoders.product[graft.streaming.CepVerdict])
    s.read.schema("user_id BIGINT, te BIGINT, matched BIGINT")
      .parquet(out)
      .groupBy(expr("te div 86400 * 86400").as("day_epoch"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("matched")).as("n_matched"))
  }

  /** Streaming TOKEN-BUCKET RATE LIMITER — `events_rate_limit`'s fold
    * as keyed streaming state (two longs per user: last-event time and
    * token level), the shape an online gateway actually runs. The carry
    * crosses batch boundaries, so a burst split across micro-batches is
    * charged exactly as the batch replay charges it; the per-user
    * report re-aggregates the emitted per-event verdicts (final tokens
    * = the newest verdict by ordinal) and must hash-match the batch
    * oracle.
    */
  private val streamRateLimit: Q = (s, d) => {
    val run = Materialized.runDir("graft_rlstream_", d)
    val out = runUserWalkTopology(s, d, run,
      new graft.streaming.RateLimitProcessor,
      org.apache.spark.sql.Encoders.product[graft.streaming.RlVerdict])
    s.read.schema("user_id BIGINT, ord BIGINT, allowed BIGINT, " +
        "tok_after BIGINT")
      .parquet(out)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("allowed")).as("n_allowed"),
        (count(lit(1)) - sum(col("allowed"))).as("n_dropped"),
        max(struct(col("ord"), col("tok_after"))).getField("tok_after")
          .as("tokens_final_scaled"))
  }

  private val streamStateHistory: Q = (s, d) => {
    val run = Materialized.runDir("graft_scd2stream_", d)
    val out = runUserWalkTopology(s, d, run,
      new graft.streaming.StateHistoryProcessor,
      org.apache.spark.sql.Encoders.product[graft.streaming.RunSnapshot])
    val byVersion = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("version"))
    s.read.schema("user_id BIGINT, version BIGINT, state STRING, " +
        "valid_from_us BIGINT, n_events BIGINT").parquet(out)
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("state")).as("state"),
        min(col("valid_from_us")).as("vf"),
        max(col("n_events")).as("n_events"))
      .withColumn("valid_from",
        expr("timestamp_micros(vf)").cast("timestamp_ntz"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from"), col("valid_to"), col("n_events"))
  }

  /** Streaming face of `events_paths` — the journey miner as a
    * stream: the shared user-walk topology feeds a keyed LAST-TWO
    * state ([[graft.streaming.PathsFold]], ordering argument spec'd
    * pure) that emits one trigram per post-warmup event; every
    * emission is final (append-clean), so the read-back is a plain
    * count + the batch face's total-order top-10 cut.
    */
  private val streamPaths: Q = (s, d) => {
    val run = Materialized.runDir("graft_pathstream_", d)
    val out = runUserWalkTopology(s, d, run,
      new graft.streaming.PathsProcessor,
      org.apache.spark.sql.Encoders.product[graft.streaming.PathHit])
    s.read.schema("user_id BIGINT, path STRING").parquet(out)
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** Every face in a replay group registers as its group's face:
    * the first member invoked runs the whole group concurrently, the
    * rest adopt their cached read-backs. Time travel (its own one-shot
    * replay) and the three build-adopting compaction faces (their fold
    * is the face's own named bench cost — the index builds they adopt
    * are memoized per dataset version) keep solo registrations.
    */
  val queries: Map[String, Q] = Map(
    "state_time_travel" -> stateTimeTravel,
    "text_index_compact" -> textIndexCompact,
    "text_index_delete" -> textIndexDelete,
    "dedup_index_compact" -> dedupIndexCompact,
    "dedup_index_delete" -> dedupIndexDelete,
    "sim_index_compact" -> simIndexCompact,
    "sim_index_delete" -> simIndexDelete,
    "dedup_cc_delete" -> dedupCcDelete,
    "dedup_cc_takedown" -> dedupCcTakedown,
    "stream_index_delete" -> streamIndexDelete,
    "sim_gnav_delete" -> simGnavDelete,
    "stream_gnav_insert" -> streamGnavInsert,
    "lifecycle_text" -> lifecycleText,
    "lifecycle_dedup" -> lifecycleDedup,
    "lifecycle_cc" -> lifecycleCc,
    "lifecycle_gnav" -> lifecycleGnav,
    "lifecycle_stream_text" -> lifecycleStreamText,
    "lifecycle_stream_dedup" -> lifecycleStreamDedup,
    "lifecycle_stream_cc" -> lifecycleStreamCc,
    "lifecycle_stream_gnav" -> lifecycleStreamGnav,
  ) ++ replayGroups.flatMap(g => g.members.keys.map(n => n -> g.face(n)))

  /** Identical oracle to k23_inprogress_set — the streaming pipeline must
    * agree with the declarative window-query semantics.
    */
  // lazy: the map references Similarity.oracles, and Similarity's own
  // init reads TakedownMod from this object — strict init in both
  // directions deadlocks into a null map (r17); deferring this side
  // to first access breaks the cycle (every constant the OTHER
  // direction reads is declared far above and already assigned)
  lazy val oracles: Map[String, String] = Map(
    // the keyed open-run fold must agree with the batch
    // gaps-and-islands interval table
    "stream_state_history" -> TimeSeries.oracles("events_state_history"),
    // the keyed last-two walk must agree with the batch double-lead
    // journey enumeration
    "stream_paths" -> TimeSeries.oracles("events_paths"),
    "stream_inprogress" -> ReferenceOps.oracles("k23_inprogress_set"),
    // the incrementally-maintained count view must equal the
    // from-scratch batch aggregate over the same live-set window
    "stream_ivm_counts" ->
      """SELECT user_id % 10 AS world_bucket, count(*) AS n_live FROM (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type = 'signup'
        |GROUP BY 1""".stripMargin,
    // the second feed consumer: a view keyed on the column updates
    // mutate — the update_preimage/postimage fold must reproduce the
    // from-scratch per-event live census
    "stream_ivm_events" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id, count(*) AS n_live FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type = 'signup'
        |GROUP BY 1""".stripMargin,
    // the table as of the retained mid-replay version must equal the
    // last-signup-wins census over the first HALF of the time-ordered
    // events — the staging's quartile rule ((rn−1)·4 div n, rn over
    // (ts, event_id)) restated in SQL; (rn−1)·4 is nonnegative, where
    // DuckDB's flooring // equals the staging's div
    "state_time_travel" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn,
        |         count(*) OVER () AS n
        |  FROM events),
        |half AS (SELECT * FROM ordered WHERE ((rn - 1) * 4) // n < 2),
        |lastp AS (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn2
        |  FROM half)
        |SELECT user_id, event_id AS last_event_id
        |FROM lastp WHERE rn2 = 1 AND event_type = 'signup'""".stripMargin,
    "stream_windowed_counts" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    // a sketch accumulated across micro-batches (CMS merge = cellwise
    // sum = update-mode streaming aggregation) must price identically
    // to the single-pass batch build
    "stream_countmin" -> Breadth.oracles("sketch_countmin"),
    "stream_kmv" -> Breadth.oracles("sketch_kmv"),
    "stream_hll" -> Breadth.oracles("sketch_hll"),
    "stream_quantile" -> Breadth.oracles("sketch_quantile"),
    // Spark's two-watermark rule over the hash-ordered split: planned
    // wm(k) = max event-time ms over batches < k − 3_600_000 (0 if
    // none); a window is EMITTED at the first batch k (incl. the final
    // no-data batch 4) whose wm(k) passes its end (end_us ≤ wm·1000),
    // counting rows from batches b ≤ min(k, 3) that the late filter
    // admitted — batch b filters against wm(b−1), one batch older
    "stream_late_drops" ->
      """WITH b AS (
        |  SELECT event_type, ts,
        |    ('0x' || substr(md5('late:' || event_id::VARCHAR), 1, 8))::BIGINT
        |      % 4 AS bucket
        |  FROM events),
        |mx AS (SELECT bucket, max(epoch_us(ts)) // 1000 AS mx_ms
        |       FROM b GROUP BY 1),
        |w AS (
        |  SELECT k, coalesce(
        |    (SELECT max(mx_ms) FROM mx WHERE bucket < k) - 3600000, 0)
        |    AS wm_ms
        |  FROM (SELECT unnest(generate_series(0, 4)) AS k)),
        |rows_k AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, bucket,
        |    epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS end_us
        |  FROM b),
        |evict AS (
        |  SELECT event_type, h, min(k) AS e
        |  FROM (SELECT DISTINCT event_type, h, end_us FROM rows_k) kk
        |  JOIN w ON kk.end_us <= w.wm_ms * 1000
        |  GROUP BY 1, 2)
        |SELECT CAST(floor(epoch(kk.h)) AS BIGINT) AS hour_epoch,
        |  kk.event_type, count(*) AS n
        |FROM rows_k kk
        |JOIN evict ev ON kk.event_type = ev.event_type AND kk.h = ev.h
        |JOIN w ON w.k = greatest(kk.bucket - 1, 0)
        |WHERE kk.bucket <= least(ev.e, 3)
        |  AND (kk.bucket = 0 OR kk.end_us > w.wm_ms * 1000)
        |GROUP BY 1, 2""".stripMargin,
    // ingest-time dedup is confluent with the all-at-once LSH pair query
    "stream_dedup_ingest" -> Dedup.oracles("dedup_minhash_lsh"),
    // append-of-arrivals ≡ rebuild: the maintained index's pair set is
    // the from-scratch LSH oracle over ALL documents
    "dedup_index_ivm" -> Dedup.oracles("dedup_minhash_lsh"),
    // append-of-postings + merge-of-df-partials ≡ rebuild: the
    // maintained inverted index ranks identically to the from-scratch
    // text_bm25_grouped oracle over ALL documents
    "text_index_ivm" -> TextAnalysis.oracles("text_bm25_grouped"),
    // compaction must be invisible to every query: same oracle
    "text_index_compact" -> TextAnalysis.oracles("text_bm25_grouped"),
    // tombstones + negative partials must rank exactly like a rebuild
    // over the surviving documents
    "text_index_delete" -> TextAnalysis.bm25GroupedOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    // fold-of-changes ≡ recompute for the clustering itself: the
    // maintained labels, resolved through the final remap, equal the
    // from-scratch transitive-closure components over ALL documents
    "dedup_cc_ivm" -> Dedup.oracles("dedup_components"),
    // stateless stream-static: per-arrival verdicts against the frozen
    // eval reference union to the batch decontamination exactly
    "stream_decontam" -> Dedup.oracles("dedup_decontam_lsh"),
    "stream_substring_gate" -> Dedup.substringGateOracle,
    // map-only stream: per-arrival classifier verdicts union to the
    // batch classifier over the whole corpus exactly
    "stream_quality_gate" -> TextAnalysis.oracles("text_quality_classifier"),
    // frozen-reference drift: ranges + reference histogram freeze from
    // the parity-0 slice; arrivals clamp into the frozen bins (clamp
    // BEFORE the div keeps the numerator nonnegative, where truncating
    // div ≡ flooring //); partial counts fold by SUM
    "stream_embed_drift" -> {
      val B = Similarity.DriftBuckets
      s"""WITH el AS (
         |  SELECT vec_id, i,
         |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
         |               * 1000) AS BIGINT) AS xq
         |  FROM embeddings,
         |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
         |rg AS (SELECT i, min(xq) AS mn, max(xq) AS mx FROM el
         |       WHERE vec_id % 2 = 0 GROUP BY 1),
         |ref AS (
         |  SELECT el.i,
         |    ((el.xq - rg.mn) * $B) // (rg.mx - rg.mn + 1) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_a
         |  FROM el JOIN rg ON rg.i = el.i
         |  WHERE el.vec_id % 2 = 0 GROUP BY 1, 2),
         |arr AS (
         |  SELECT el.i,
         |    ((least(greatest(el.xq, rg.mn), rg.mx) - rg.mn) * $B)
         |      // (rg.mx - rg.mn + 1) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_b
         |  FROM el JOIN rg ON rg.i = el.i
         |  WHERE el.vec_id % 2 = 1 GROUP BY 1, 2),
         |cnt AS (
         |  SELECT coalesce(ref.i, arr.i) AS i,
         |    coalesce(ref.bucket, arr.bucket) AS bucket,
         |    coalesce(ref.n_a, 0) AS n_a, coalesce(arr.n_b, 0) AS n_b
         |  FROM ref FULL OUTER JOIN arr
         |    ON arr.i = ref.i AND arr.bucket = ref.bucket),
         |tot AS (SELECT i, sum(n_a) AS ta, sum(n_b) AS tb
         |        FROM cnt GROUP BY 1)
         |SELECT CAST(cnt.i AS BIGINT) AS i,
         |  CAST(min(tot.ta) AS BIGINT) AS n_a_total,
         |  CAST(min(tot.tb) AS BIGINT) AS n_b_total,
         |  CAST(sum(abs(cnt.n_a * tot.tb - cnt.n_b * tot.ta)) AS BIGINT)
         |    AS l1_x_scaled,
         |  CAST(max(abs(cnt.n_a * tot.tb - cnt.n_b * tot.ta)) AS BIGINT)
         |    AS max_bucket_contrib
         |FROM cnt JOIN tot ON tot.i = cnt.i
         |GROUP BY 1""".stripMargin
    },
    // the same base-trained (first three vec_id-rank quartiles),
    // capped-seed quantizer assigning ALL vectors in one shot — the
    // frozen-quantizer IVM identity; argmin tie-break (d2, cid) as
    // everywhere
    "sim_index_ivm" -> simIndexOracle,
    // compaction must be invisible to every query: the compacted list
    // store reads identically to the generation union, so the twin
    // shares the frozen-quantizer oracle verbatim
    "sim_index_compact" -> simIndexOracle,
    // same statement for the signature store: the compacted index
    // derives the identical candidate-pair set
    "dedup_index_compact" -> Dedup.oracles("dedup_minhash_lsh"),
    // takedowns: the tombstoned stores must read exactly like the
    // from-scratch derivations restricted to the survivors (the frozen
    // quantizer does NOT retrain — deletion is not a reindex)
    "dedup_index_delete" ->
      s"""SELECT a_id, b_id, n_bands
         |FROM (${Dedup.oracles("dedup_minhash_lsh")})
         |WHERE a_id % $TakedownMod <> $TakedownRem
         |  AND b_id % $TakedownMod <> $TakedownRem""".stripMargin,
    "sim_index_delete" ->
      s"""SELECT vec_id, cid FROM ($simIndexOracle)
         |WHERE vec_id % $TakedownMod <> $TakedownRem""".stripMargin,
    // the clustering takedown must relabel exactly like a from-scratch
    // clustering of the survivors (splits, stranded min-labels, and
    // dropped singletons included) — the full closure oracle over the
    // filtered document set
    "dedup_cc_delete" -> Dedup.componentsOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    // a stream of takedown requests must net out exactly like the
    // one-shot deletion: the same rebuild-without oracle
    "stream_index_delete" -> TextAnalysis.bm25GroupedOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    // HNSW-style soft delete: the walk routes through tombstones
    // unchanged; only the final beam filters before ranking
    "sim_gnav_delete" -> Similarity.gnavDeleteOracleFor(
      s"node % $TakedownMod <> $TakedownRem"),
    // stream-of-inserts ≡ one-shot insertion: the SAME chained-CTE
    // insert oracle (restriction, arrival walks, connect, re-cap)
    "stream_gnav_insert" -> Similarity.oracles("sim_gnav_insert"),
    // the lifecycle capstone's terminal states: the three stores with
    // rebuild semantics gate against their families' own
    // rebuild-without oracles over the net corpus; the graph (no
    // rebuild oracle exists — walks are path-dependent) gates against
    // the deterministic composed chained-CTE replay
    "lifecycle_text" -> TextAnalysis.bm25GroupedOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    "lifecycle_dedup" ->
      s"""SELECT a_id, b_id, n_bands
         |FROM (${Dedup.oracles("dedup_minhash_lsh")})
         |WHERE a_id % $TakedownMod <> $TakedownRem
         |  AND b_id % $TakedownMod <> $TakedownRem""".stripMargin,
    "lifecycle_cc" -> Dedup.componentsOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    "lifecycle_gnav" -> Similarity.gnavLifecycleOracle,
    // the STREAMING capstone's terminal states gate against the SAME
    // oracles — delivery through the real doors must be immaterial
    "lifecycle_stream_text" -> TextAnalysis.bm25GroupedOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    "lifecycle_stream_dedup" ->
      s"""SELECT a_id, b_id, n_bands
         |FROM (${Dedup.oracles("dedup_minhash_lsh")})
         |WHERE a_id % $TakedownMod <> $TakedownRem
         |  AND b_id % $TakedownMod <> $TakedownRem""".stripMargin,
    "lifecycle_stream_cc" -> Dedup.componentsOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    "lifecycle_stream_gnav" -> Similarity.gnavLifecycleOracle,
    // folds across a mid-replay compaction must still converge to the
    // from-scratch transitive closure — the same oracle as the
    // uncompacted maintainer
    "dedup_cc_compact" -> Dedup.oracles("dedup_components"),
    // arrivals and takedowns interleaved must converge to the
    // from-scratch clustering of the surviving documents
    "dedup_cc_takedown" -> Dedup.componentsOracleFor(
      s" WHERE doc_id % $TakedownMod <> $TakedownRem"),
    // streaming session merging must agree with batch interval-merge SQL
    "stream_sessionize" -> TimeSeries.oracles("sessionize_native"),
    // the keyed trailing-baseline fold must agree with the batch
    // rowsBetween(-24,-1) window frame
    "stream_anomaly" -> TimeSeries.oracles("events_anomaly"),
    // the one-long keyed fold must agree with the batch aggregate-HOF
    // recurrence
    "stream_ewma" -> TimeSeries.oracles("events_ewma"),
    // the one-string keyed carry must agree with the batch ignoreNulls
    // carry window
    "stream_attribution" -> TimeSeries.oracles("events_attribution"),
    "stream_cep_match" -> TimeSeries.oracles("events_cep_match"),
    "stream_m4" -> TimeSeries.oracles("events_m4_downsample"),
    "stream_holtwinters" -> TimeSeries.oracles("events_holtwinters"),
    "stream_rate_limit" -> TimeSeries.oracles("events_rate_limit"),
    // the keyed per-user state machine must agree with the batch
    // three-window strict-ordering chain
    "stream_funnel" -> TimeSeries.oracles("funnel_conversion"),
    // one-long cohort state must reproduce the batch min-week matrix
    "stream_retention" -> TimeSeries.oracles("retention_cohorts"),
    // the streaming split must count exactly what the batch split does
    "stream_quarantine" -> Profiling.oracles("json_quarantine"),
    // per-arrival door classifications must roll up to the batch
    // leave-one-out probe's confusion matrix restricted to arrivals
    "stream_knn_classify" -> Similarity.knnClassifyArrivalsOracle,
    // per-arrival door rewrites must equal the batch carve of every
    // arrival against the frozen resident gram set, strings included
    "stream_substring_rewrite" -> Dedup.substringRewriteGateOracle,
    // the stream-static enrich must agree with the batch join + group
    "stream_enrich" ->
      """SELECT c.c_mktsegment, e.user_id, count(*) AS n_events,
        |  round(sum(e.value), 2) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,
    // the stream-stream join must agree with the plain SQL self-join
    "stream_join_attrib" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  date_diff('microseconds', c.ts, p.ts) AS gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 24 HOURS""".stripMargin,
  )

  /** The frozen-quantizer IVM identity in SQL — the base-trained
    * (first three vec_id-rank quartiles), capped-seed quantizer
    * assigning ALL vectors in one shot; argmin tie-break (d2, cid) as
    * everywhere. Shared verbatim by `sim_index_ivm` and its compaction
    * twin (compaction must be invisible to every query).
    */
  // lazy: declared after the `oracles` map that embeds it — a strict
  // val would still be null when the map initializes
  private lazy val simIndexOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |r AS (
       |  SELECT vec_id, v,
       |    row_number() OVER (ORDER BY vec_id) AS rn,
       |    count(*) OVER () AS n
       |  FROM e),
       |be AS (
       |  SELECT vec_id, v FROM r WHERE ((rn - 1) * 4) // n < 3),
       |seeds AS (
       |  SELECT CAST(vec_id // ${Similarity.IvfSeedStep} AS INT) AS cid,
       |    v AS cv
       |  FROM be WHERE vec_id % ${Similarity.IvfSeedStep} = 0
       |    AND vec_id <
       |      ${Similarity.IvfSeedStep.toLong * Similarity.IvfCentroidCap}),
       |assign0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT b.vec_id, s.cid,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_inner_product(s.cv, s.cv)
       |                 - 2*list_inner_product(b.v, s.cv), s.cid) AS rn
       |    FROM be b CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |cent AS (
       |  SELECT a.cid, t.i, avg(b.v[t.i]) AS m
       |  FROM assign0 a JOIN be b USING (vec_id),
       |       unnest(generate_series(1, len(b.v))) t(i)
       |  GROUP BY a.cid, t.i),
       |centroids AS (
       |  SELECT cid, list(m ORDER BY i) AS cv FROM cent GROUP BY cid)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_inner_product(c.cv, c.cv)
       |               - 2*list_inner_product(e.v, c.cv), c.cid) AS rn
       |  FROM e CROSS JOIN centroids c)
       |WHERE rn = 1""".stripMargin
}
