package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.concurrent.Eventually.eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import org.scalatest.time.SpanSugar._
import graft.sources.FrameTransport
import graft.streaming.{AlertStateTable, AlertUpdate, Metrics, MetricsHttp}

/** GET /metrics serves the Prometheus text format from a live server. */
class MetricsHttpSpec extends AnyFunSuite {

  private implicit val patience: org.scalatest.concurrent.Eventually.PatienceConfig =
    org.scalatest.concurrent.Eventually.PatienceConfig(
      org.scalatest.time.Span(10, Seconds), 50.milliseconds)

  /** Parse the text exposition format: series name -> (type, sample).
    * Every sample line must follow its own `# HELP` and `# TYPE` lines.
    */
  private def parseExposition(body: String): Map[String, (String, Double)] = {
    val Help = raw"# HELP (\S+) (.+)".r
    val Type = raw"# TYPE (\S+) (counter|gauge)".r
    val Sample = raw"(\S+) (\S+)".r
    val lines = body.linesIterator.toList
    lines.sliding(3, 3).map {
      case List(Help(h, _), Type(t, kind), Sample(n, v)) if h == n && t == n =>
        n -> (kind, v.toDouble)
      case other => fail(s"malformed exposition block: $other")
    }.toMap.ensuring(_.size * 3 == lines.length, body)
  }

  test("metrics endpoint serves gauges in Prometheus text format") {
    Metrics.reset()
    // the monotonic series are counters, every other one a gauge
    val counters = Seq("total_events", "malformed_frames",
      FrameTransport.ReconnectsMetric, "ess_dropped_frames",
      graft.streaming.FilePublisher.CorruptLinesMetric,
      graft.streaming.AmqpConnections.DialsMetric)
    val gauges = Seq("last_event_time", "running_queries",
      FrameTransport.StatusGauge, FrameTransport.OutageGauge,
      FrameTransport.OutageSinceGauge)
    (counters ++ gauges).zipWithIndex.foreach { case (n, i) =>
      Metrics.set(n, i.toDouble) }
    Metrics.set("total_events", 42.0)
    Metrics.set("last_event_time", 1700000000.0)
    val http = new MetricsHttp(0) // ephemeral port
    try {
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${http.boundPort}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get.contains("text/plain"))
      val body = resp.body()
      // sample lines keep their `graft_<name> <double>` form
      assert(body.linesIterator.contains("graft_total_events 42.0"), body)
      assert(body.linesIterator.contains("graft_last_event_time 1.7E9"), body)
      val series = parseExposition(body)
      val expected = counters.map(n => s"graft_$n" -> "counter") ++
        gauges.map(n => s"graft_$n" -> "gauge")
      assert(series.map { case (n, (t, _)) => n -> t } == expected.toMap, body)
    } finally http.close()
  }

  test("the state table's merges, freed entries and segments are typed series, counters only grow") {
    Metrics.reset()
    val spark = SparkTestSession.spark
    import spark.implicits._
    val table = new AlertStateTable(
      java.nio.file.Files.createTempDirectory("alert_table_metrics").toString,
      compactEvery = 3)
    val http = new MetricsHttp(0)
    def scrape(): Map[String, (String, Double)] = parseExposition(
      HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${http.boundPort}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
    try {
      // compactEvery 3: merge 3 compacts, merge 4 frees its inputs
      val seen = (1 to 5).map { g =>
        table.merge(spark, Seq(AlertUpdate(s"k-$g", "live", g, 17, 1000.0 * g)).toDF())
        scrape()
      }
      seen.foreach { m =>
        assert(m("graft_table_merges")._1 == "counter")
        assert(m("graft_table_entries_freed")._1 == "counter")
        assert(m("graft_table_segments")._1 == "gauge")
      }
      val merges = seen.map(_("graft_table_merges")._2)
      val freed = seen.map(_("graft_table_entries_freed")._2)
      assert(merges == (1 to 5).map(_.toDouble), merges)
      assert(freed.sliding(2).forall { case Seq(a, b) => b >= a }, freed)
      assert(freed.last > freed.head, s"the GC after a compaction frees entries: $freed")
      assert(seen.map(_("graft_table_segments")._2) == Seq(1.0, 2.0, 1.0, 2.0, 1.0))
    } finally http.close()
  }

  test("operational ESS signals are scrapeable: dropped frames and reconnects") {
    Metrics.reset()
    // real overflow, not a hand-set gauge: a capacity-1 buffer dropping
    // its oldest frame is exactly what feeds ess_dropped_frames
    val buf = new graft.sources.FrameBuffer
    buf.setCapacity(1)
    buf.push("a"); buf.push("b")
    assert(buf.droppedFrames == 1)
    // the reconnect counter the transport advances per heal attempt
    Metrics.add(graft.sources.FrameTransport.ReconnectsMetric, 2.0)
    val http = new MetricsHttp(0)
    try {
      val body = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${http.boundPort}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("graft_ess_dropped_frames 1.0"), body)
      assert(body.contains("graft_ess_reconnects 2.0"), body)
    } finally http.close()
  }

  test("outage STATE is scrapeable: in_outage rises through the kill window and clears on heal") {
    Metrics.reset()
    val server = new LoopbackWsServer
    val http = new MetricsHttp(0)
    def scrape(): String = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${http.boundPort}/metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    def gauge(body: String, name: String): Option[Double] =
      ("(?m)^" + java.util.regex.Pattern.quote(name) + raw" (\S+)$$").r
        .findFirstMatchIn(body).map(_.group(1).toDouble)
    try {
      val conn = FrameTransport
        .webSocket(s"ws://127.0.0.1:${server.port}/", None,
          reconnectBaseMs = 50, reconnectMaxMs = 400)
        .connect(_ => ())
      try {
        assert(server.awaitConnected())
        eventually {
          assert(gauge(scrape(), "graft_ess_in_outage").contains(0.0))
        }
        // the kill window: an operator scraping /metrics must see the
        // outage STATE (down since T), not just a grown attempt counter
        server.dropConnection()
        eventually {
          val body = scrape()
          assert(gauge(body, "graft_ess_in_outage").contains(1.0), body)
          assert(gauge(body, "graft_ess_outage_since_epoch_ms").exists(_ > 0), body)
        }
        // self-heal closes the window: state returns to healthy
        assert(server.awaitConnected(20), "transport never reconnected")
        eventually {
          val body = scrape()
          assert(gauge(body, "graft_ess_in_outage").contains(0.0), body)
          assert(gauge(body, "graft_ess_outage_since_epoch_ms").contains(0.0), body)
        }
      } finally conn.close()
    } finally { http.close(); server.close() }
  }
}
