package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.MetagameEvent

/** C1 — config-driven pipeline assembly: the Spark-native `main()` of the
  * reference (`/root/reference/ess_client.py:113-178`), wiring source →
  * filter/project → sinks from environment configuration:
  *
  * | env | reference analog | default |
  * |---|---|---|
  * | `ESS_CHANNEL`          | service feed identity            | `census` |
  * | `ESS_WS_URI`           | ESS websocket endpoint (optional; unset = frames pushed via [[graft.sources.EssFeeds]]) | — |
  * | `ESS_SUBSCRIBE`        | subscription JSON (F1 filter)    | — |
  * | `PUBLISH_ENABLED`      | `RABBITMQ_ENABLED`               | `true` |
  * | `AMQP_HOST`/`AMQP_PORT`| `RABBITMQ_HOST`/... — publish to a real AMQP 0-9-1 broker ([[AmqpPublisher]]); takes precedence | — |
  * | `AMQP_USER`/`AMQP_PASS`/`AMQP_VHOST` | the credentials/vhost of the reference's `rabbitmq_url` | `guest`/`guest`/`/` |
  * | `AMQP_DURABLE_EXCHANGE` | declare the exchange durable (the reference declares non-durable) | `false` |
  * | `PUBLISH_LOG_DIR`      | RabbitMQ PERSISTENT delivery (durable [[FilePublisher]] append log; unset = in-memory queue) | — |
  * | `PURGE_STALE_ALERTS`   | TTL purge gate                   | `true` |
  * | `ALERT_TTL_SECONDS`    | 5400 s purge horizon             | `5400` |
  * | `STATE_TABLE_PATH`     | Mongo alerts collection          | `/tmp/graft_alerts` |
  * | `METRICS_PORT`         | `METRICS_PORT`: port of `/metrics` ([[MetricsHttp.fromEnv]]) | `8000` |
  * | `SPARK_GRAFT_CPUS`     | — (cores of the local Spark session) | `4` |
  *
  * Boolean envs are parsed properly (the reference string-compares
  * `== 'True'`, a quirk not worth preserving).
  */
object GraftApp {

  case class Config(
      channel: String = sys.env.getOrElse("ESS_CHANNEL", "census"),
      wsUri: Option[String] = sys.env.get("ESS_WS_URI"),
      subscribe: Option[String] = sys.env.get("ESS_SUBSCRIBE"),
      publishEnabled: Boolean =
        sys.env.get("PUBLISH_ENABLED").forall(_.toBoolean),
      amqpHost: Option[String] = sys.env.get("AMQP_HOST"),
      amqpPort: Int =
        sys.env.get("AMQP_PORT").map(_.toInt).getOrElse(5672),
      // the reference takes a full rabbitmq_url (RabbitService.py); the
      // same surface as discrete fields — guest/guest is localhost-only
      // on a default RabbitMQ, so real deployments must set these
      amqpUser: String = sys.env.getOrElse("AMQP_USER", "guest"),
      amqpPass: String = sys.env.getOrElse("AMQP_PASS", "guest"),
      amqpVhost: String = sys.env.getOrElse("AMQP_VHOST", "/"),
      amqpDurableExchange: Boolean =
        sys.env.get("AMQP_DURABLE_EXCHANGE").exists(_.toBoolean),
      publishLogDir: Option[String] = sys.env.get("PUBLISH_LOG_DIR"),
      purgeStale: Boolean =
        sys.env.get("PURGE_STALE_ALERTS").forall(_.toBoolean),
      ttlSeconds: Long =
        sys.env.get("ALERT_TTL_SECONDS").map(_.toLong).getOrElse(5400L),
      stateTablePath: String =
        sys.env.getOrElse("STATE_TABLE_PATH", "/tmp/graft_alerts"))

  /** Started queries for one pipeline instance. */
  case class Running(
      publish: Option[StreamingQuery],
      state: StreamingQuery,
      table: AlertStateTable) {
    def processAllAvailable(): Unit = {
      publish.foreach(_.processAllAvailable())
      state.processAllAvailable()
    }
    def stopAll(): Unit = {
      publish.foreach(_.stop())
      state.stop()
    }
  }

  /** Assemble and start the §3.1 pipeline: ess source → parse →
    * { publish sink?, stateful merge into the durable alert table }.
    *
    * The A2/A3 observation rides on the *state* branch only — attaching
    * it to the shared sub-plan would double-count every event when both
    * queries run (each query executes its own copy of the plan).
    *
    * @param live continuous service mode, where each query starts its
    *             next micro-batch as soon as the previous one commits
    *             (`ProcessingTime(0)`, no fixed tick to wait for), vs
    *             drain-and-stop replay mode (`AvailableNow`, the default
    *             for tests and batch replays)
    */
  def start(spark: SparkSession, cfg: Config,
      publisher: Publisher, live: Boolean = false): Running = {
    val raw = {
      val r = spark.readStream.format("ess").option("channel", cfg.channel)
      val r2 = cfg.wsUri.fold(r)(u => r.option("wsUri", u))
      cfg.subscribe.fold(r2)(s => r2.option("subscribe", s)).load()
    }
    import spark.implicits._
    // the state branch carries BOTH observations (graft_metrics AND the
    // graft_parse malformed counter); the publish branch parses without
    // them - each query executes its own plan copy, so a shared observe
    // node would count every frame once per running query
    val events = MetagameEvent.fromJson(raw.select("value"))
    val observed = Observability.observed(events.toDF()).as[MetagameEvent]
    val trigger =
      if (live) Trigger.ProcessingTime(0) else Trigger.AvailableNow()

    val publishQ =
      if (cfg.publishEnabled)
        Some(Sinks.publishStream(
          MetagameEvent.fromJson(raw.select("value"), observeParse = false),
          publisher, trigger)
          .queryName(s"graft_publish_${cfg.channel}").start())
      else None

    val table = new AlertStateTable(cfg.stateTablePath)
    val ttl = if (cfg.purgeStale) Some(cfg.ttlSeconds) else None
    val stateQ = AlertStateTable.sink(observed, table, ttl, trigger)
      .queryName(s"graft_state_${cfg.channel}").start()

    Running(publishQ, stateQ, table)
  }

  /** Service entry point: run until terminated (live mode needs
    * `ESS_WS_URI`; without it the process idles waiting for pushed
    * frames, which is what tests and local replays use).
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.streams.addListener(new Observability.MetricsListener)
    val metricsHttp = MetricsHttp.fromEnv() // ess_client.py:172 parity
    val cfg = Config()
    // a real broker when AMQP_HOST is set (the reference's RabbitMQ
    // wiring), else durable file publish when PUBLISH_LOG_DIR is set -
    // the PERSISTENT delivery mode without a broker
    val publisher = cfg.amqpHost
      .map(h => new AmqpPublisher(AmqpConfig(h, cfg.amqpPort,
        user = cfg.amqpUser, pass = cfg.amqpPass, vhost = cfg.amqpVhost,
        durableExchange = cfg.amqpDurableExchange)): Publisher)
      .orElse(cfg.publishLogDir.map(new FilePublisher(_): Publisher))
      .getOrElse(InMemoryPublisher("graft_app"))
    val running = start(spark, cfg, publisher, live = true)
    try spark.streams.awaitAnyTermination()
    finally {
      running.stopAll(); metricsHttp.close(); AmqpConnections.closeAll()
    }
  }
}
