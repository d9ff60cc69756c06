package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1 — the ESS event feed as a DataSource V2 streaming source
  * (SURVEY.md §2 S1, §7 step 4): the Spark-native replacement for the
  * reference's `auraxium.EventClient` websocket subscription
  * (`/root/reference/ess_client.py:121-125`).
  *
  * {{{
  * spark.readStream.format("ess")
  *   .option("channel", "census")        // feed identity
  *   .load()                             // => (seq LONG, value STRING, arrival TIMESTAMP)
  * }}}
  *
  * Rows are raw JSON frames; `MetagameEvent.fromJson` projects them into
  * the typed event (P1). The event-type subscription filter (F1) rides in
  * the subscribe message — filtering at the source exactly like the
  * reference's trigger registration.
  *
  * Architecture: a [[FrameTransport]] feeds frames into a per-channel
  * [[FrameBuffer]]; the [[EssMicroBatchStream]] exposes buffer sequence
  * numbers as offsets — ranges of them form micro-batches, `commit`
  * prunes everything at or below the committed offset. Replay between
  * `latestOffset` and `commit` gives the same at-least-once guarantee as
  * the reference's persistent publish (SURVEY.md §6).
  *
  * Scale note: like Spark's built-in socket/rate sources, ingest lands on
  * the driver and ships to executors inside the planned partitions; each
  * batch is split across `numPartitions` (default: scheduler parallelism,
  * at most one per 512 frames) contiguous ranges so replayed/bursty
  * batches fan out over every core.
  * A firehose-scale feed should still land in Kafka and use that source;
  * this source's job is protocol parity, not bulk transport.
  */
class EssSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ess"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EssSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EssTable(new CaseInsensitiveStringMap(properties))
}

object EssSource {
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("arrival", TimestampType, nullable = false)))

  /** The fewest frames a default-split input partition carries. */
  val MinFramesPerPartition = 512
}

private[sources] class EssTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val channel = options.getOrDefault("channel", "default")

  override def name(): String = s"ess:$channel"
  override def schema(): StructType = EssSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = EssSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new EssMicroBatchStream(channel, opts)
    }
}

/** Offset = highest buffered sequence number consumed (exclusive end). */
case class EssOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

private[sources] class EssMicroBatchStream(
    channel: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val buffer = EssFeeds.buffer(channel)
  // multi-consumer safety: this stream only advances its own committed
  // mark; the buffer truncates below the minimum across live consumers
  private val consumer = buffer.register()

  // live mode: ensure ONE shared websocket per channel, refcounted —
  // several queries reading the same channel must not each open a socket
  // (each socket would push every remote frame into the buffer again)
  private val transportLease: Option[EssFeeds.TransportLease] =
    Option(options.get("wsUri")).map { uri =>
      EssFeeds.leaseTransport(channel, uri, Option(options.get("subscribe")))
    }

  // live-path overflow guard (drop-oldest above capacity, counted);
  // several readers on one channel share the buffer - last setting wins
  Option(options.get("maxBufferedFrames"))
    .foreach(n => buffer.setCapacity(n.toInt))

  override def initialOffset(): Offset = EssOffset(buffer.firstSeq)

  override def latestOffset(): Offset = EssOffset(buffer.lastSeq)

  // Admission control (the Kafka maxOffsetsPerTrigger analog): a replayed
  // backlog or burst is consumed in bounded micro-batches, so per-batch
  // memory and state-update pressure stay flat instead of scaling with
  // however much is queued. SupportsTriggerAvailableNow is implemented
  // NATIVELY (snapshot the drain target, cap each batch at it) because
  // the engine's generic AvailableNow wrapper cannot compose a snapshot
  // with a read limit for offsets it cannot compare - wrapped sources
  // lose their per-batch cap.
  override def getDefaultReadLimit: ReadLimit =
    Option(options.get("maxFramesPerTrigger"))
      .map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  // Long.MaxValue outside AvailableNow mode: continuous triggers drain
  // to the live buffer head as usual
  @volatile private var availableNowEnd: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = buffer.lastSeq

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startSeq = start.asInstanceOf[EssOffset].seq
    // skip an evicted region in ONE step instead of crawling through it
    // in empty capped batches (start can lag buffer.firstSeq after
    // drop-oldest eviction)
    val from = math.max(startSeq, buffer.firstSeq)
    val last = math.min(buffer.lastSeq, availableNowEnd)
    limit match {
      case r: ReadMaxRows =>
        // saturating add: a Long.MaxValue "unlimited" cap must not wrap
        val capped =
          if (r.maxRows() > last - from) last
          else math.min(last, from + r.maxRows())
        EssOffset(math.max(capped, startSeq))
      case _ => EssOffset(math.max(last, startSeq))
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val seq = json.toLong
    // checkpoint recovery in a NEW JVM: the in-memory buffer restarted at
    // seq 0, so fast-forward past the recovered offset — frames buffered
    // before the crash are gone (this source is in-memory; cross-restart
    // durability belongs to a durable upstream like Kafka), but new
    // frames get sequence numbers the recovered query will actually plan,
    // instead of crashing on an inverted range or silently re-numbering.
    buffer.fastForward(seq)
    EssOffset(seq)
  }

  // How many input partitions a batch is split across: `numPartitions`
  // when set; else the session's scheduler parallelism, so a large
  // replayed batch fans out over every core instead of running as one
  // task (the round-1 choke), but with at least `MinFramesPerPartition`
  // frames to a partition. A task costs milliseconds to schedule against
  // microseconds to parse a frame, and a durable publisher writes one
  // fsync'd file per partition per batch, which on a filesystem mounted
  // with online discard costs tens of milliseconds to free again.
  private lazy val fixedPartitions: Option[Int] =
    Option(options.get("numPartitions")).map(n => math.max(1, n.toInt))

  private lazy val parallelism: Int =
    try org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
    catch { case _: Throwable => 1 }

  private def partitionsFor(frames: Int): Int = {
    val wanted = fixedPartitions.getOrElse(math.min(parallelism,
      (frames + EssSource.MinFramesPerPartition - 1) / EssSource.MinFramesPerPartition))
    math.max(1, math.min(wanted, frames))
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val frames = buffer.range(
      start.asInstanceOf[EssOffset].seq, end.asInstanceOf[EssOffset].seq)
    // frames travel inside the serialized partitions to the executors,
    // split into contiguous near-equal sequence ranges (order preserved
    // within each partition; cross-partition order is carried by `seq`)
    val p = partitionsFor(frames.length)
    val base = frames.length / p
    val rem = frames.length % p
    val parts = new Array[InputPartition](p)
    var idx = 0
    var i = 0
    while (i < p) {
      val len = base + (if (i < rem) 1 else 0)
      parts(i) = EssInputPartition(frames.slice(idx, idx + len))
      idx += len
      i += 1
    }
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val it =
        partition.asInstanceOf[EssInputPartition].frames.iterator
      private var current: (Long, String, Long) = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow =
        InternalRow(current._1, UTF8String.fromString(current._2),
          current._3)
      override def close(): Unit = ()
    }

  override def commit(end: Offset): Unit =
    buffer.committed(consumer, end.asInstanceOf[EssOffset].seq)

  override def stop(): Unit = {
    buffer.unregister(consumer)
    transportLease.foreach(_.release())
  }
}

/** (seq, payload, arrival micros) triples shipped to executors. */
case class EssInputPartition(frames: Array[(Long, String, Long)])
    extends InputPartition

/** Per-channel frame buffer: sequence-numbered, replayable between
  * latestOffset and commit. JVM-global so the driver-side transport and
  * the stream share state (the same pattern MemoryStream uses).
  */
class FrameBuffer {
  private val frames = new ConcurrentSkipListMap[Long, (String, Long)]()
  private val seq = new AtomicLong(0L)
  // consumer id -> highest committed seq; frames are only dropped below
  // the minimum, so N streams can share one channel (fan-out reads)
  private val consumers = new ConcurrentHashMap[Long, Long]()
  private val consumerIds = new AtomicLong(0L)

  // Overflow policy for the live path: an in-memory buffer on the driver
  // cannot grow without bound when a consumer stalls. Above capacity the
  // OLDEST frames are dropped (the stalled reader loses its lag window,
  // never the fresh data) and counted on the `ess_dropped_frames`
  // metric. Default unbounded = the replay/test behavior.
  @volatile private var capacity: Int = Int.MaxValue
  private val dropped = new AtomicLong(0L)
  // buffered-frame count tracked explicitly: ConcurrentSkipListMap.size()
  // is O(n), which would make every at-capacity push O(capacity)
  private var count: Int = 0

  def setCapacity(max: Int): Unit = synchronized { capacity = max; evict() }

  def droppedFrames: Long = dropped.get()

  // callers hold the monitor (push/setCapacity): eviction, gc and the
  // count never race each other
  private def evict(): Unit =
    while (count > capacity) {
      if (frames.pollFirstEntry() != null) {
        count -= 1
        dropped.incrementAndGet()
        graft.streaming.Metrics.add("ess_dropped_frames", 1.0)
      } else { count = 0 }
    }

  // push and lastSeq share a monitor: a reader may only observe a
  // sequence number once its frame is in the map, otherwise latestOffset
  // could plan past a not-yet-visible frame and skip it forever
  def push(frame: String): Unit = synchronized {
    val s = seq.incrementAndGet()
    frames.put(s, (frame, System.currentTimeMillis() * 1000))
    count += 1
    evict()
  }

  def firstSeq: Long =
    if (frames.isEmpty) lastSeq else frames.firstKey() - 1

  def lastSeq: Long = synchronized { seq.get() }

  /** Frames with start < seq <= end, in seq order. (Iterate the sorted
    * map's iterator directly — mapping the entrySet through a Scala Set
    * view would scramble the order.)
    */
  def range(start: Long, end: Long): Array[(Long, String, Long)] = {
    import scala.jdk.CollectionConverters._
    frames.subMap(start, false, end, true).entrySet().iterator().asScala
      .map(e => (e.getKey, e.getValue._1, e.getValue._2)).toArray
  }

  /** Advance the sequence counter to at least `n` (no-op if already
    * past): checkpoint recovery in a fresh JVM realigns new frames with
    * the recovered offset space.
    */
  def fastForward(n: Long): Unit = synchronized {
    while (seq.get() < n && !seq.compareAndSet(seq.get(), n)) ()
  }

  def register(): Long = {
    val id = consumerIds.incrementAndGet()
    consumers.put(id, -1L) // nothing committed yet: pins the buffer
    id
  }

  def unregister(id: Long): Unit = {
    consumers.remove(id)
    gc()
  }

  /** Record a consumer's committed offset and drop globally-done frames. */
  def committed(id: Long, upTo: Long): Unit = {
    consumers.merge(id, upTo, (a, b) => math.max(a, b))
    gc()
  }

  // synchronized on the same monitor as push/evict: a concurrent gc
  // clearing committed head entries must not race an eviction into
  // dropping a frame that was actually under capacity (or into phantom
  // dropped-frame counts). Runs once per micro-batch commit, so the
  // O(cleared) size recount is off the per-push hot path.
  private def gc(): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val marks = consumers.values().asScala
    if (marks.nonEmpty) {
      val min = marks.min
      if (min >= 0) {
        val head = frames.headMap(min, true)
        count -= head.size()
        head.clear()
        if (count < 0) count = 0
      }
    }
  }
}

/** Registry of live feeds — push point for transports and tests. */
object EssFeeds {
  private val buffers = new ConcurrentHashMap[String, FrameBuffer]()
  def buffer(channel: String): FrameBuffer =
    buffers.computeIfAbsent(channel, _ => new FrameBuffer)
  def push(channel: String, frame: String): Unit = buffer(channel).push(frame)

  /** A refcounted hold on the channel's single shared transport. */
  final class TransportLease private[EssFeeds] (channel: String) {
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) releaseTransport(channel)
  }

  private case class SharedTransport(conn: AutoCloseable,
      refs: java.util.concurrent.atomic.AtomicInteger)
  private val transports = new ConcurrentHashMap[String, SharedTransport]()

  /** Open (or join) the channel's shared websocket transport. */
  def leaseTransport(channel: String, uri: String,
      subscribe: Option[String]): TransportLease = synchronized {
    val t = transports.computeIfAbsent(channel, _ =>
      SharedTransport(
        FrameTransport.webSocket(uri, subscribe).connect(push(channel, _)),
        new java.util.concurrent.atomic.AtomicInteger(0)))
    t.refs.incrementAndGet()
    new TransportLease(channel)
  }

  private def releaseTransport(channel: String): Unit = synchronized {
    Option(transports.get(channel)).foreach { t =>
      if (t.refs.decrementAndGet() <= 0) {
        transports.remove(channel)
        try t.conn.close() catch { case _: Throwable => () }
      }
    }
  }
}

/** Transport abstraction: how frames arrive. Production = a websocket
  * (JDK 11+ built-in client, no extra dependency — the stand-in for the
  * reference's `websockets` library); tests = direct pushes via
  * [[EssFeeds.push]].
  */
trait FrameTransport {
  /** Start delivering frames to `onFrame`; close() unsubscribes. */
  def connect(onFrame: String => Unit): AutoCloseable
}

object FrameTransport {

  /** Gauge name for the feed-connection state — the reference DECLARES
    * this Info metric but never sets it (`ess_client.py:66-69`); here it
    * counts LIVE websocket connections (several channels may each hold
    * one): > 0 means connected, each close/error decrements exactly once.
    */
  val StatusGauge = "census_status"

  /** Counter of reconnect attempts scheduled after a lost connection —
    * with [[FrameBuffer.droppedFrames]]'s `ess_dropped_frames`, the two
    * signals an operator of the live deployment pages on: reconnect churn
    * means the feed is flapping, a silent 0 with `census_status` 0 means
    * the transport gave up (which this transport never does while open).
    */
  val ReconnectsMetric = "ess_reconnects"

  /** Outage STATE, complementing [[ReconnectsMetric]]'s attempt COUNT:
    * `ess_in_outage` is 1 from the moment a connection is lost until a
    * socket reopens, and `ess_outage_since_epoch_ms` carries the outage
    * start (0 while healthy) — the "currently down since T" an operator
    * alerts on, which a monotonically growing attempt counter can't
    * express. With several channels the gauges reflect the most recent
    * transition (any lost connection raises them; any reopen clears).
    */
  val OutageGauge = "ess_in_outage"
  val OutageSinceGauge = "ess_outage_since_epoch_ms"

  /** `java.net.http.WebSocket` transport. Sends `subscribe` (the ESS
    * subscription JSON carrying the event-type filter, F1) once the
    * socket opens — mirroring `ess_client.py:124` trigger registration.
    *
    * The connection SELF-HEALS: on `onClose`/`onError` (server drop,
    * network fault — anything but the caller's own `close()`), a
    * reconnect is scheduled with exponential backoff plus jitter, and the
    * subscribe message is re-sent on every reopen — the liveness the
    * reference delegates to `auraxium.EventClient`'s managed socket
    * lifecycle (`ess_client.py:121-124`). Without it a dropped socket
    * would silently starve the source forever. Each attempt counts on
    * [[ReconnectsMetric]]; the backoff doubles from `reconnectBaseMs` up
    * to `reconnectMaxMs` and resets on a successful open.
    *
    * The status gauge increments in the listener's `onOpen` (the socket
    * thread, ordered BEFORE any onClose/onError the same socket can
    * deliver) — setting it after `buildAsync().join()` on the caller
    * thread would race a server that accepts and immediately drops. Each
    * connection generation decrements exactly once, so the gauge stays
    * honest across reconnect cycles: 1 while connected, 0 during an
    * outage window.
    *
    * The VERY FIRST connect still fails fast (throws): a bad URI or
    * unreachable endpoint at setup time is a configuration error the
    * caller should see, not retry into.
    */
  def webSocket(uri: String, subscribe: Option[String],
      reconnectBaseMs: Long = 250L,
      reconnectMaxMs: Long = 30000L): FrameTransport =
    onFrame => new AutoCloseable {
      private val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
      // the live connection generation: (socket, its idempotent markLost)
      @volatile private var live
          : Option[(java.net.http.WebSocket, () => Unit)] = None
      private val attempt = new java.util.concurrent.atomic.AtomicInteger(0)
      private val client = java.net.http.HttpClient.newHttpClient()
      private val scheduler =
        java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
          val t = new Thread(r, "ess-ws-reconnect")
          t.setDaemon(true)
          t
        })

      private def connectOnce(failFast: Boolean): Unit = {
        if (stopped.get()) return
        // per-GENERATION open flag: gauge decrement and reconnect
        // scheduling happen exactly once per connection, however many of
        // onClose/onError/close() race on it
        val open = new java.util.concurrent.atomic.AtomicBoolean(false)
        def markLost(): Unit =
          if (open.compareAndSet(true, false)) {
            graft.streaming.Metrics.add(StatusGauge, -1.0)
            graft.streaming.Metrics.set(OutageGauge, 1.0)
            graft.streaming.Metrics.set(OutageSinceGauge,
              System.currentTimeMillis().toDouble)
            scheduleReconnect()
          }
        val listener = new java.net.http.WebSocket.Listener {
          private val sb = new StringBuilder
          override def onOpen(ws: java.net.http.WebSocket): Unit = {
            open.set(true)
            attempt.set(0) // healthy again: next outage backs off from base
            graft.streaming.Metrics.add(StatusGauge, 1.0)
            graft.streaming.Metrics.set(OutageGauge, 0.0)
            graft.streaming.Metrics.set(OutageSinceGauge, 0.0)
            ws.request(1)
          }
          override def onText(ws: java.net.http.WebSocket,
              data: CharSequence, last: Boolean)
              : java.util.concurrent.CompletionStage[_] = {
            sb.append(data)
            if (last) { onFrame(sb.toString()); sb.clear() }
            ws.request(1)
            null
          }
          override def onClose(ws: java.net.http.WebSocket, statusCode: Int,
              reason: String): java.util.concurrent.CompletionStage[_] = {
            markLost()
            null
          }
          override def onError(ws: java.net.http.WebSocket,
              error: Throwable): Unit = markLost()
        }
        try {
          val ws = client.newWebSocketBuilder()
            .buildAsync(java.net.URI.create(uri), listener).join()
          live = Some((ws, () => markLost()))
          // resubscribe on EVERY open: the new socket carries no server
          // state from the old one (trigger re-registration, F1)
          try subscribe.foreach(s => ws.sendText(s, true))
          catch { case _: Throwable => markLost() }
          if (stopped.get()) quietClose(ws, () => markLost()) // close() raced us
        } catch {
          case e: Throwable =>
            if (failFast) { scheduler.shutdownNow(); throw e }
            scheduleReconnect()
        }
      }

      private def scheduleReconnect(): Unit = {
        if (stopped.get()) return
        val n = attempt.getAndIncrement()
        graft.streaming.Metrics.add(ReconnectsMetric, 1.0)
        val cap = math.min(reconnectMaxMs,
          reconnectBaseMs * (1L << math.min(n, 20)))
        // jittered in [cap/2, cap]: a fleet of clients must not stampede
        // the endpoint in lockstep after a shared outage
        val delay = cap / 2 + java.util.concurrent.ThreadLocalRandom
          .current().nextLong(cap / 2 + 1)
        try scheduler.schedule(new Runnable {
          override def run(): Unit = connectOnce(failFast = false)
        }, delay, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { // scheduler shut down by close(): nothing left to heal
          case _: java.util.concurrent.RejectedExecutionException => ()
        }
      }

      private def quietClose(ws: java.net.http.WebSocket,
          markLost: () => Unit): Unit = {
        try ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "bye").join()
        catch { case _: Throwable => () }
        finally markLost() // gauge honest even if the close echo never comes
      }

      override def close(): Unit =
        if (stopped.compareAndSet(false, true)) {
          scheduler.shutdownNow()
          live.foreach { case (ws, markLost) => quietClose(ws, markLost) }
        }

      connectOnce(failFast = true)
    }
}
