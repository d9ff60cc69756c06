package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The metrics HTTP endpoint — parity with the reference's
  * `start_http_server(METRICS_PORT)` (`/root/reference/ess_client.py:172`,
  * default port 8000 via `ess_client.py:32`): exposes [[Metrics.snapshot]]
  * in the Prometheus text exposition format on `GET /metrics`.
  *
  * JDK-builtin `com.sun.net.httpserver` — no dependency; runs on a
  * daemon-ish single-thread executor beside the driver, exactly like the
  * reference's metrics thread.
  */
class MetricsHttp(port: Int) extends AutoCloseable {

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/metrics", (ex: HttpExchange) => {
      val body = render().getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(200, body.length)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
    })
    s.start()
    s
  }

  /** The bound port (useful when constructed with port 0 in tests). */
  def boundPort: Int = server.getAddress.getPort

  private def render(): String =
    Metrics.snapshot.toSeq.sortBy(_._1).map { case (name, v) =>
      val n = name.replaceAll("[^a-zA-Z0-9_]", "_")
      val (kind, help) = MetricsHttp.described
        .getOrElse(name, ("gauge", s"graft metric $name."))
      s"# HELP graft_$n $help\n# TYPE graft_$n $kind\ngraft_$n $v"
    }.mkString("", "\n", "\n")

  override def close(): Unit = server.stop(0)
}

object MetricsHttp {
  import graft.sources.FrameTransport

  /** Prometheus type and help text per series. Counters only grow over
    * the process lifetime; every other series, listed or not, is a gauge.
    */
  private val described: Map[String, (String, String)] = Map(
    "total_events" ->
      ("counter", "Events parsed by the state query."),
    "malformed_frames" ->
      ("counter", "ESS frames that failed to parse."),
    FrameTransport.ReconnectsMetric ->
      ("counter", "ESS websocket reconnect attempts."),
    "ess_dropped_frames" ->
      ("counter", "ESS frames dropped by a full source buffer."),
    FilePublisher.CorruptLinesMetric ->
      ("counter", "Corrupt lines skipped while reading the publish log."),
    AmqpConnections.DialsMetric ->
      ("counter", "AMQP broker connections dialed."),
    "last_event_time" ->
      ("gauge", "Event time of the newest event seen, in POSIX seconds."),
    "running_queries" ->
      ("gauge", "Streaming queries currently running."),
    FrameTransport.StatusGauge ->
      ("gauge", "Open ESS websocket connections."),
    FrameTransport.OutageGauge ->
      ("gauge", "1 while the ESS websocket is down, else 0."),
    FrameTransport.OutageSinceGauge ->
      ("gauge", "Start of the current ESS outage in epoch ms, 0 when healthy."))

  /** Reference default: METRICS_PORT, 8000 (`ess_client.py:32`). */
  def fromEnv(): MetricsHttp =
    new MetricsHttp(sys.env.getOrElse("METRICS_PORT", "8000").toInt)
}
