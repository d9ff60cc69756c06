package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sources.EssFeeds
import graft.streaming._

/** Seeded alert-frame generator: wire-JSON frames rendered ahead of the
  * clock. Each frame carries its index in `xp`, so the publish log can be
  * checked frame by frame. About 1 % of frames are malformed and about
  * 2 % arrive out of order (an `ended` sent just before the `started` it
  * overtakes, which carries the earlier event time).
  */
final class AlertGen(seed: Long, keys: Int) {
  private val rng = new scala.util.Random(seed)
  private val liveKey = new Array[Boolean](keys)
  private val eventOf = new Array[Int](keys)

  /** Rendered frames; `id`, `state`, `ts`, `eventId`, `worldId` are the
    * logical event (null id for a malformed frame).
    */
  final class Batch(val first: Long, n: Int) {
    val text = new Array[String](n)
    val id = new Array[String](n)
    val state = new Array[Boolean](n) // true = started
    val ts = new Array[Double](n)
    val eventId = new Array[Int](n)
    val worldId = new Array[Int](n)
  }

  private def keyName(k: Int): (String, Int) = {
    val world = 1 + k % 17
    (s"$world-${k / 17}", world)
  }

  private def render(b: Batch, i: Int, idx: Long, k: Int, started: Boolean,
      ts: Double): Unit = {
    val (id, world) = keyName(k)
    if (started) eventOf(k) = 1 + rng.nextInt(220)
    val ev = eventOf(k)
    b.id(i) = id; b.state(i) = started; b.ts(i) = ts
    b.eventId(i) = ev; b.worldId(i) = world
    b.text(i) = s"""{"id":"$id","event_id":$ev,"state":"${if (started) "started" else "ended"}",""" +
      s""""world_id":$world,"zone_id":${2 + k % 6},"nc":33.5,"tr":33.25,"vs":33.25,""" +
      s""""xp":$idx,"timestamp":$ts}"""
  }

  /** Render `n` frames numbered from `first`; frame i's event time is
    * `tsOf(i)` (seconds).
    */
  def next(first: Long, n: Int, tsOf: Int => Double): Batch = {
    val b = new Batch(first, n)
    var i = 0
    while (i < n) {
      val r = rng.nextDouble()
      val idx = first + i
      if (r < 0.01) {
        b.text(i) =
          if (rng.nextBoolean()) s"""{"xp":$idx,"state":"started","timestamp":${tsOf(i)}"""
          else s"""{"xp":$idx,"event_id":7,"state":"started"}"""
        i += 1
      } else if (r < 0.02 && i + 1 < n) {
        // the ended (later event time) overtakes its started
        val k = rng.nextInt(keys)
        render(b, i, idx, k, started = false, tsOf(i + 1))
        render(b, i + 1, idx + 1, k, started = true, tsOf(i))
        b.eventId(i) = b.eventId(i + 1)
        b.text(i) = b.text(i).replaceFirst("\"event_id\":\\d+",
          "\"event_id\":" + b.eventId(i + 1))
        liveKey(k) = false
        i += 2
      } else {
        val k = rng.nextInt(keys)
        val started = !liveKey(k)
        liveKey(k) = started
        render(b, i, idx, k, started, tsOf(i))
        i += 1
      }
    }
    b
  }
}

/** Last-writer-wins fold of the generated frames — the check's oracle. */
final class Fold {
  // id -> (ts, eventId, started, worldId)
  val last = new java.util.HashMap[String, (Double, Int, Boolean, Int)]()
  var valid = 0L
  var malformed = 0L
  def add(b: AlertGen#Batch, upTo: Int = -1): Unit = {
    val n = if (upTo < 0) b.text.length else upTo
    var i = 0
    while (i < n) {
      if (b.id(i) == null) malformed += 1
      else {
        valid += 1
        val cur = last.get(b.id(i))
        if (cur == null || b.ts(i) > cur._1 || (b.ts(i) == cur._1 && b.eventId(i) > cur._2))
          last.put(b.id(i), (b.ts(i), b.eventId(i), b.state(i), b.worldId(i)))
      }
      i += 1
    }
  }
}

/** Delegating publisher that times each partition commit (traced runs).
  * Serialized into tasks, so its counters live in a JVM-global object.
  * Its spans carry the id of the micro-batch whose `addBatch` ran them.
  */
final class TimedPublisher(inner: Publisher, query: String) extends Publisher {
  def publish(routingKey: String, payload: String): Unit =
    publishPartition(Iterator.single((routingKey, payload)))
  override def publishPartition(messages: Iterator[(String, String)]): Unit = {
    var bytes = 0L
    val counted = messages.map { m => bytes += m._2.length + m._1.length + 2; m }
    val t0 = Clock.ms()
    inner.publishPartition(counted)
    val t1 = Clock.ms()
    val batch = Option(org.apache.spark.TaskContext.get())
      .flatMap(t => Option(t.getLocalProperty("streaming.sql.batchId"))).getOrElse("?")
    Spans.add(Span("publisher.partition", s"$query:$batch", "batch.addBatch", t0, t1))
    TimedPublisher.ms.add(t1 - t0)
    TimedPublisher.partitions.incrementAndGet()
    TimedPublisher.bytes.addAndGet(bytes)
  }
}
object TimedPublisher {
  val ms = new DoubleAdder()
  val partitions, bytes = new AtomicLong()
}

object Alerts {
  import ProgressLog._

  private val Ttl = 5400L

  /** The running service under test plus its instruments. */
  private final class Service(a: Main.Args, channel: String, wsUri: Option[String]) {
    val tSession0 = Clock.ms()
    val spark: SparkSession = Main.session(a.cores)
    val tSession1 = Clock.ms()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    spark.streams.addListener(new Observability.MetricsListener)
    val http = new MetricsHttp(0)
    val tmp: Path = Paths.get(sys.props("java.io.tmpdir"))
    val pubDir: String = tmp.resolve("publish").toString
    val tablePath: String = tmp.resolve("state").toString
    val publisher: Publisher = {
      val f = new FilePublisher(pubDir)
      if (a.trace) new TimedPublisher(f, s"graft_publish_$channel") else f
    }
    val cfg = GraftApp.Config(channel = channel, wsUri = wsUri,
      subscribe = None, publishEnabled = true, amqpHost = None,
      publishLogDir = Some(pubDir), purgeStale = true, ttlSeconds = Ttl,
      stateTablePath = tablePath)
    val running: GraftApp.Running = GraftApp.start(spark, cfg, publisher, live = true)
    val stateQ = s"graft_state_$channel"
    val pubQ = s"graft_publish_$channel"

    def committedBoth: Long =
      math.min(progress.committedOf(stateQ), progress.committedOf(pubQ))

    /** Wait until both queries committed `seq`; false at the deadline. */
    def awaitCommitted(seq: Long, deadlineMs: Double): Boolean = {
      while (committedBoth < seq && Clock.ms() < deadlineMs)
        progress.awaitAny(100)
      committedBoth >= seq
    }

    /** Both queries past source initialization (so both consumers are
      * registered on the channel buffer before any frame arrives).
      */
    def awaitInitialized(): Unit = {
      val deadline = Clock.ms() + 60000
      def ready(q: org.apache.spark.sql.streaming.StreamingQuery) =
        q.status.message.startsWith("Waiting")
      while (!(ready(running.state) && running.publish.forall(ready)) &&
        Clock.ms() < deadline) Thread.sleep(20)
      Thread.sleep(200)
    }

    def scrape(): (Map[String, Double], Double) = {
      val t0 = Clock.ms()
      val url = new java.net.URL(s"http://127.0.0.1:${http.boundPort}/metrics")
      val body = scala.util.Using(scala.io.Source.fromURL(url))(_.mkString).get
      val ms = Clock.ms() - t0
      (body.linesIterator.filterNot(_.startsWith("#")).flatMap { l =>
        l.split(" ") match {
          case Array(k, v) => Some(k.stripPrefix("graft_") -> v.toDouble)
          case _ => None
        }
      }.toMap, ms)
    }

    /** Scraped counters must reach the generated counts (the listener
      * folds observations asynchronously, so allow it a moment).
      */
    def countsMatch(valid: Long, malformed: Long): (Boolean, String) = {
      val deadline = Clock.ms() + 15000
      var last = Map.empty[String, Double]
      def ok = last.getOrElse("total_events", 0.0) == valid.toDouble &&
        last.getOrElse("malformed_frames", 0.0) == malformed.toDouble
      while ({ last = scrape()._1; !ok } && Clock.ms() < deadline) Thread.sleep(100)
      (ok, s"total_events=${last.getOrElse("total_events", 0.0)}/$valid " +
        s"malformed_frames=${last.getOrElse("malformed_frames", 0.0)}/$malformed")
    }

    def stop(): Unit = {
      running.stopAll()
      http.close()
      spark.stop()
    }
  }

  /** Frame → visible (state table) and → published latency figures. */
  private def latencies(vis: Seq[Double], pub: Seq[Double]): Map[String, Double] = Map(
    "visible_p50_ms" -> Stats.pct(vis, 50), "visible_p90_ms" -> Stats.pct(vis, 90),
    "visible_p99_ms" -> Stats.pct(vis, 99),
    "published_p50_ms" -> Stats.pct(pub, 50), "published_p90_ms" -> Stats.pct(pub, 90),
    "published_p99_ms" -> Stats.pct(pub, 99))

  /** First batch end (ms) whose committed offset covers each seq. */
  private def visibleAt(ps: Seq[StreamingQueryProgress]): Long => Double = {
    val data = ps.filter(p => endOffset(p) > startOffset(p))
    val ends = data.map(endOffset).toArray
    val at = data.map(endMs).toArray
    seq => {
      val i = java.util.Arrays.binarySearch(ends, seq)
      val j = if (i >= 0) i else -i - 1
      if (j < ends.length) at(j) else Double.PositiveInfinity
    }
  }

  /** Micro-batch engine, state-operator and source figures. */
  private def engineLayers(ps: Seq[StreamingQueryProgress], prefix: String)
      : Map[String, Double] = {
    val data = ps.filter(p => p.numInputRows > 0)
    def m(k: String) = Stats.mean(data.map(dur(_, k)))
    val base = Map(
      s"$prefix.batches" -> data.size.toDouble,
      s"$prefix.planning_ms" -> m("queryPlanning"),
      s"$prefix.add_batch_ms" -> m("addBatch"),
      s"$prefix.wal_ms" -> m("walCommit"),
      s"$prefix.trigger_ms" -> m("triggerExecution")) ++
      (if (prefix == "state") Map(
        "state.rows_per_batch" -> Stats.mean(data.map(_.numInputRows.toDouble)),
        "source.latest_offset_ms" -> m("latestOffset"),
        "source.get_batch_ms" -> m("getBatch")) else Map.empty)
    if (prefix != "state") base
    else {
      val ops = ps.flatMap(_.stateOperators.headOption)
      val dataOps = data.flatMap(_.stateOperators.headOption)
      base ++ Map(
        "stateop.rows_total" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "stateop.rows_updated" -> ops.map(_.numRowsUpdated.toDouble).sum,
        "stateop.rows_removed" -> ops.map(_.numRowsRemoved.toDouble).sum,
        "stateop.commit_ms" -> Stats.mean(dataOps.map(_.commitTimeMs.toDouble)),
        "stateop.update_ms" -> Stats.mean(dataOps.map(_.allUpdatesTimeMs.toDouble)),
        "stateop.memory_mb" -> ops.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0))
    }
  }

  /** Micro-batch spans: one id per (query, batch), the trigger as parent. */
  private def batchSpans(ps: Seq[StreamingQueryProgress]): Unit =
    ps.filter(_.numInputRows > 0).foreach { p =>
      val id = s"${p.name}:${p.batchId}"
      val t0 = startMs(p)
      Spans.add(Span("batch.trigger", id, "", t0, endMs(p)))
      // the engine's phases run in this order inside one trigger
      var t = t0
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets").foreach { k =>
        val d = dur(p, k)
        Spans.add(Span(s"batch.$k", id, "batch.trigger", t, t + d))
        t += d
      }
    }

  /** Watches the durable table while the run goes: segment depth and
    * the compactions (new base segments) it performs.
    */
  private final class TableWatch(t: AlertStateTable) {
    @volatile var stop = false
    @volatile var segmentsMax = 0
    private val bases = new java.util.concurrent.ConcurrentHashMap[String, Unit]()
    private val th = new Thread(() => while (!stop) {
      try {
        val segs = t.segmentDirs
        segmentsMax = math.max(segmentsMax, segs.size)
        segs.filter(_.endsWith("b")).foreach(bases.put(_, ()))
      } catch { case _: Throwable => () }
      Thread.sleep(100)
    }, "perfbench-table-watch")
    th.setDaemon(true)
    def start(): this.type = { th.start(); this }
    def compactions: Int = bases.size
    def halt(): Unit = { stop = true; th.join() }
  }

  private def dirMb(p: String): Double = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0.0
    else scala.util.Using(Files.walk(root))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum / 1048576.0).getOrElse(0.0)
  }

  /** Checks shared by both alert workloads: the final snapshot equals
    * the fold (bar keys within one batch of the TTL horizon), the
    * publish log holds every valid frame and no malformed one, and the
    * scraped counters equal the generated counts. Returns (failed
    * units, detail).
    */
  private def check(svc: Service, fold: Fold, batches: Seq[(AlertGen#Batch, Int)],
      exempt: Double => Boolean,
      expired: Double => Boolean): (Long, Seq[String]) = {
    val detail = Seq.newBuilder[String]
    // publish log, frame by frame (xp = frame index)
    val seen = new java.util.BitSet()
    val msgs = FilePublisher.consume(svc.pubDir)
    msgs.foreach { case (_, payload) =>
      val i = payload.indexOf("\"xp\":")
      if (i >= 0) {
        val rest = payload.substring(i + 5)
        val j = rest.indexWhere(c => c == ',' || c == '}')
        seen.set(rest.substring(0, j).toDouble.toInt)
      }
    }
    var missing = 0L
    var wrongly = 0L
    batches.foreach { case (b, n) =>
      (0 until n).foreach { i =>
        val sent = seen.get((b.first + i).toInt)
        if (b.id(i) != null && !sent) missing += 1
        if (b.id(i) == null && sent) wrongly += 1
      }
    }
    detail += s"publish: ${msgs.size} messages, missing=$missing malformed_published=$wrongly"
    // final in-progress set against the fold
    val snap = svc.running.table.snapshot(svc.spark).collect()
      .map(r => r.getAs[String]("id") -> (r.getAs[Double]("timestamp"),
        r.getAs[Int]("eventId"), r.getAs[Int]("worldId"))).toMap
    var mismatched = 0L
    var exempted = 0L
    fold.last.asScala.foreach { case (id, (ts, ev, started, world)) =>
      val timeout = ts + Ttl
      if (started && exempt(timeout)) exempted += 1
      else {
        val want = started && !expired(timeout)
        val got = snap.get(id)
        val ok = if (want) got.contains((ts, ev, world)) else got.isEmpty
        if (!ok) mismatched += 1
      }
    }
    val stray = snap.keySet.count(k => !fold.last.containsKey(k))
    detail += s"snapshot: ${snap.size} live rows, mismatched=$mismatched " +
      s"stray=$stray exempt=$exempted"
    val (countsOk, counts) = svc.countsMatch(fold.valid, fold.malformed)
    detail += s"metrics: $counts"
    (missing + wrongly + mismatched + stray + (if (countsOk) 0 else 1), detail.result())
  }

  /** Open loop at a fixed offered rate over one loopback websocket, with
    * a closed-loop snapshot reader and a once-a-second /metrics scraper.
    */
  def live(a: Main.Args): Main.Result = {
    val rate = 1000 // frames/s, well below alert_bulk's frames_per_s
    // the reader's think time: without one a closed-loop reader takes
    // every idle core and the writers' latency follows host noise
    val readerThinkMs = 250L
    val warmS = 6
    val server = new graft.LoopbackWsServer()
    val channel = s"live${a.seed}"
    val tStart = Clock.ms()
    val svc = new Service(a, channel, Some(s"ws://127.0.0.1:${server.port}"))
    require(server.awaitConnected(60), "websocket never connected")
    svc.awaitInitialized()
    val gen = new AlertGen(a.seed, 500)
    val fold = new Fold
    /** Send on schedule (frame i is due at `t0 + i / rate`); `onFrame(i)`
      * runs before frame i goes out. Returns each frame's send start and
      * end (ms).
      */
    def send(b: AlertGen#Batch, t0: Double, onFrame: Int => Unit)
        : (Array[Double], Array[Double]) = {
      val start = new Array[Double](b.text.length)
      val end = new Array[Double](b.text.length)
      var i = 0
      while (i < b.text.length) {
        onFrame(i)
        val due = t0 + i * 1000.0 / rate
        var now = Clock.ms()
        while (now < due) {
          val w = due - now
          if (w > 2) Thread.sleep((w - 1).toLong) else Thread.onSpinWait()
          now = Clock.ms()
        }
        start(i) = now
        server.send(b.text(i))
        end(i) = Clock.ms()
        i += 1
      }
      (start, end)
    }
    @volatile var t0 = Double.MaxValue // start of the timed window
    @volatile var done = false
    val snapMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val reader = new Thread(() => {
      var k = 0
      while (!done) {
        val s0 = Clock.ms()
        Spans.time("reader.snapshot", s"r$k") {
          svc.running.table.snapshot(svc.spark).collect()
        }
        if (s0 >= t0) snapMs.add(Clock.ms() - s0)
        k += 1
        Thread.sleep(readerThinkMs)
      }
    }, "perfbench-reader")
    val scrapeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val scraper = new Thread(() => {
      while (!done) {
        val s0 = Clock.ms()
        val ms = svc.scrape()._2
        if (s0 >= t0) scrapeMs.add(ms)
        Thread.sleep(math.max(0L, (1000 - (Clock.ms() - s0)).toLong))
      }
    }, "perfbench-scraper")
    // one open-loop stream, rendered (and stamped with due times) before
    // the clock starts: warm-up frames, then the timed window without a
    // pause, so the pipeline enters the window in its steady state
    val nWarm = warmS * rate
    val n = a.seconds * rate
    val start0 = Clock.ms() + 500
    val all = gen.next(0, nWarm + n, i => (start0 + i * 1000.0 / rate) / 1000.0)
    fold.add(all)
    t0 = start0 + nWarm * 1000.0 / rate
    val setupS = (t0 - Jvm.startMs) / 1000
    val watch = new TableWatch(svc.running.table).start()
    reader.start(); scraper.start()
    var compactions0 = 0
    var cpu0, gc0 = 0.0
    val (allStart, allSent) = send(all, start0, i => if (i == nWarm) {
      compactions0 = watch.compactions
      svc.tracer.foreach(_.on(true))
      cpu0 = Jvm.cpuS; gc0 = Jvm.gcMs
    })
    val sentStart = allStart.drop(nWarm)
    val sent = allSent.drop(nWarm)
    val tWarm = t0
    val lastSeq = nWarm + n.toLong
    val drained = svc.awaitCommitted(lastSeq, Clock.ms() + 30000)
    done = true
    reader.join(); scraper.join(); watch.halt()
    val tEnd = Clock.ms()
    svc.tracer.foreach(_.on(false))
    val cpuS = Jvm.cpuS - cpu0; val gcMs = Jvm.gcMs - gc0
    val stateP = svc.progress.of(svc.stateQ)
    val pubP = svc.progress.of(svc.pubQ)
    val vis = visibleAt(stateP)
    val pub = visibleAt(pubP)
    val due = (i: Int) => t0 + i * 1000.0 / rate
    val valid = (0 until n).filter(i => all.id(nWarm + i) != null)
    val visL = valid.map(i => vis(nWarm + i + 1L) - due(i))
    val pubL = valid.map(i => pub(nWarm + i + 1L) - due(i))
    val late = (0 until n).map(i => sentStart(i) - due(i))
    svc.running.stopAll()
    val (failedUnits, detail) = check(svc, fold, Seq(all -> (nWarm + n)),
      _ => false, _ => false)
    val notVisible = visL.zip(pubL).count { case (x, y) => x.isInfinite || y.isInfinite }
    val failed = failedUnits + notVisible
    val attempted = fold.valid
    val lastVisible = visL.zip(pubL).zip(valid)
      .map { case ((x, y), i) => math.max(x, y) + due(i) }.max
    val throughput = valid.size / ((lastVisible - t0) / 1000)
    val timed = (p: StreamingQueryProgress) => startMs(p) >= t0
    // frames sent but not yet in the state query's batch, at each batch end
    val backlog = stateP.filter(timed)
      .map(p => countSent(sent, endMs(p)) + nWarm - endOffset(p).toDouble)
    val layers = latencies(visL, pubL) ++ Map(
      "snapshot_p50_ms" -> Stats.pct(snapMs.asScala.toSeq, 50),
      "snapshot_p90_ms" -> Stats.pct(snapMs.asScala.toSeq, 90),
      "wall_s" -> (tEnd - t0) / 1000,
      "failed_frac" -> failed.toDouble / attempted,
      "gen.late_p99_ms" -> Stats.pct(late, 99),
      "gen.outstanding_mean" -> Stats.mean(backlog),
      "ws.send_p99_ms" -> Stats.pct((0 until n).map(i => sent(i) - sentStart(i)), 99),
      "source.lag_frames_max" -> backlog.maxOption.getOrElse(0.0),
      "metrics.scrape_ms" -> Stats.mean(scrapeMs.asScala.toSeq),
      "table.segments_max" -> watch.segmentsMax.toDouble,
      "table.compactions" -> (watch.compactions - compactions0).toDouble,
      "table.disk_mb" -> dirMb(svc.tablePath),
      "setup.session_s" -> (svc.tSession1 - svc.tSession0) / 1000,
      "setup.warm_s" -> (tWarm - svc.tSession1) / 1000,
      "jvm.gc_ms" -> gcMs, "jvm.cpu_s" -> cpuS) ++
      engineLayers(stateP.filter(timed), "state") ++
      engineLayers(pubP.filter(timed), "publish") ++
      publisherLayers ++
      svc.tracer.map(_.sched.metrics((tEnd - t0) / 1000)).getOrElse(Nil)
    if (a.trace) batchSpans(stateP ++ pubP)
    val e2e = latencies(visL, pubL) ++ Map(
      "setup_s" -> setupS, "frames_per_s" -> throughput,
      "peak_rss_mb" -> Jvm.peakRssMb)
    svc.stop(); server.close()
    Main.Result(drained && failed == 0, attempted, failed, e2e, layers,
      Map("check" -> detail.mkString("; "), "rate" -> rate.toString,
        "warm_frames" -> nWarm.toString,
        "samples" -> s"latency=${visL.size} snapshot=${snapMs.size} scrape=${scrapeMs.size}",
        "total_s" -> f"${(tEnd - tStart) / 1000}%.3f"))
  }

  private def countSent(sent: Array[Double], at: Double): Double = {
    // sent is ascending: frames whose send completed by `at`
    var lo = 0; var hi = sent.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (sent(m) <= at) lo = m + 1 else hi = m }
    lo.toDouble
  }

  private def publisherLayers: Map[String, Double] = {
    val n = TimedPublisher.partitions.get()
    Map("publisher.partitions" -> n.toDouble,
      "publisher.partition_ms" -> (if (n > 0) TimedPublisher.ms.sum() / n else 0.0),
      "publisher.mb" -> TimedPublisher.bytes.get() / 1048576.0)
  }

  /** Closed loop through `EssFeeds.push` (no socket) that keeps a fixed
    * window of frames outstanding, i.e. pushed but not yet committed by
    * the slower of the two queries, over about 10^6 distinct ids, with
    * an event clock fast enough for the TTL to expire keys in the run.
    */
  def bulk(a: Main.Args): Main.Result = {
    val window = 20000 // frames outstanding
    val maxFrames = 300000 // rendered for the timed window; a run pushes ~150k
    val dt = 0.1 // event seconds per frame: the TTL fires after ~60k frames
    val nWarm = 40000
    val tsBase = 1.7e9
    val channel = s"bulk${a.seed}"
    val tStart = Clock.ms()
    val svc = new Service(a, channel, None)
    svc.awaitInitialized()
    val gen = new AlertGen(a.seed, 1000000)
    val fold = new Fold
    // one stream, rendered before the clock starts: warm-up frames, then
    // the timed window without a pause
    val all = gen.next(0, nWarm + maxFrames, i => tsBase + i * dt)
    System.gc()
    val watch = new TableWatch(svc.running.table).start()
    val pushedAt = new Array[Double](maxFrames) // timed frames only
    val outstanding = Seq.newBuilder[Double]
    var t0, tWarm, tStop = Double.MaxValue
    var cpu0, gc0 = 0.0
    var compactions0 = 0
    var i = 0
    var committed = 0L
    while (Clock.ms() < tStop && i < all.text.length) {
      if (i == nWarm && t0 == Double.MaxValue) {
        t0 = Clock.ms(); tWarm = t0; tStop = t0 + a.seconds * 1000.0
        compactions0 = watch.compactions
        svc.tracer.foreach(_.on(true))
        cpu0 = Jvm.cpuS; gc0 = Jvm.gcMs
      }
      if (i - committed < window) {
        EssFeeds.push(channel, all.text(i))
        if (i >= nWarm) pushedAt(i - nWarm) = Clock.ms()
        i += 1
        if ((i & 1023) == 0) {
          committed = svc.committedBoth
          if (i > nWarm) outstanding += (i - committed).toDouble
        }
      } else {
        svc.progress.awaitAny(5)
        committed = svc.committedBoth
      }
    }
    val setupS = (t0 - Jvm.startMs) / 1000
    val pushed = i - nWarm
    val drained = svc.awaitCommitted(i.toLong, Clock.ms() + 60000)
    watch.halt()
    val tEnd = Clock.ms()
    svc.tracer.foreach(_.on(false))
    val cpuS = Jvm.cpuS - cpu0; val gcMs = Jvm.gcMs - gc0
    svc.running.stopAll()
    fold.add(all, i)
    val stateP = svc.progress.of(svc.stateQ)
    val pubP = svc.progress.of(svc.pubQ)
    val vis = visibleAt(stateP)
    val pub = visibleAt(pubP)
    // every pushed frame over the time until both queries committed it
    val lastSeq = nWarm + pushed.toLong
    val rate = pushed / ((math.max(vis(lastSeq), pub(lastSeq)) - t0) / 1000)
    val valid = (0 until pushed).filter(j => all.id(nWarm + j) != null)
    val visL = valid.map(j => vis(nWarm + j + 1L) - pushedAt(j))
    val pubL = valid.map(j => pub(nWarm + j + 1L) - pushedAt(j))
    // TTL horizon: the watermark trails the newest event time by 10
    // minutes; the last data batch ran with at least `lo`, a no-data
    // batch after the drain may have moved it up to `hi`
    val lastData = stateP.filter(p => endOffset(p) > startOffset(p)).last
    val tsAtSeq = (seq: Long) => tsBase + (seq - 1) * dt
    val lo = tsAtSeq(startOffset(lastData)) - 600 - 2
    val hi = tsAtSeq(nWarm + pushed.toLong) - 600 + 2
    val (failedUnits, detail) = check(svc, fold, Seq(all -> i),
      t => t >= lo && t <= hi, t => t < lo)
    val notVisible = visL.zip(pubL).count { case (x, y) => x.isInfinite || y.isInfinite }
    val failed = failedUnits + notVisible
    val attempted = fold.valid
    val timed = (p: StreamingQueryProgress) => startMs(p) >= t0
    val layers = latencies(visL, pubL) ++ Map(
      "wall_s" -> (tEnd - t0) / 1000,
      "failed_frac" -> failed.toDouble / attempted,
      "gen.outstanding_mean" -> Stats.mean(outstanding.result()),
      "source.lag_frames_max" -> stateP.filter(timed)
        .map(p => countSent(pushedAt.take(pushed), endMs(p)) + nWarm - endOffset(p).toDouble)
        .maxOption.getOrElse(0.0),
      "table.segments_max" -> watch.segmentsMax.toDouble,
      "table.compactions" -> (watch.compactions - compactions0).toDouble,
      "table.disk_mb" -> dirMb(svc.tablePath),
      "setup.session_s" -> (svc.tSession1 - svc.tSession0) / 1000,
      "setup.warm_s" -> (tWarm - svc.tSession1) / 1000,
      "jvm.gc_ms" -> gcMs, "jvm.cpu_s" -> cpuS) ++
      engineLayers(stateP.filter(timed), "state") ++
      engineLayers(pubP.filter(timed), "publish") ++
      publisherLayers ++
      svc.tracer.map(_.sched.metrics((tEnd - t0) / 1000)).getOrElse(Nil)
    if (a.trace) batchSpans(stateP ++ pubP)
    val e2e = latencies(visL, pubL) ++ Map(
      "setup_s" -> setupS, "frames_per_s" -> rate,
      "peak_rss_mb" -> Jvm.peakRssMb)
    svc.stop()
    Main.Result(drained && failed == 0, attempted, failed, e2e, layers,
      Map("check" -> detail.mkString("; "), "pushed" -> pushed.toString,
        "frames_exhausted" -> (pushed == maxFrames).toString,
        "window" -> window.toString,
        "samples" -> s"latency=${visL.size} batches=${stateP.count(timed)}",
        "total_s" -> f"${(tEnd - tStart) / 1000}%.3f"))
  }
}
