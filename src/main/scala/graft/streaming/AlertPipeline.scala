package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.MetagameEvent

/** An update to the in-progress alert set, emitted by the stateful stage.
  *
  * `status` ∈ `live` (key present after this event), `removed`
  * (event-driven delete: a non-`started` state arrived), `expired`
  * (TTL timeout fired — the streaming generalization of the reference's
  * boot-time purge, `/root/reference/ess_client.py:100-110`).
  */
case class AlertUpdate(
    id: String,
    status: String,
    eventId: Int,
    worldId: Int,
    timestamp: Double)

/** Last-writer-wins per-key state: the most recent event (by event time,
  * then eventId) decides whether the key is live.
  */
case class AlertState(event: MetagameEvent)

/** The reference pipeline re-expressed on Structured Streaming
  * (SURVEY.md §3.1):
  *
  * {{{
  * readStream (ESS / file / memory)
  *   → filter(event type)                         F1
  *   → project to MetagameEvent                   P1-P3
  *   → groupByKey(id) flatMapGroupsWithState      K2/K3 (+T1 via timeout)
  *   → { append sink (K1), in-progress set }
  * }}}
  *
  * Per-key ordering: the reference relies on a single websocket; here the
  * shuffle on `id` restores per-key locality, and last-writer-wins by
  * event time makes the fold insensitive to within-batch arrival order
  * (FIXTURES.md scenario 4: an `ended` with no prior `started` tombstones
  * the key — a later, *older* `started` must not resurrect it).
  *
  * State is bounded: Spark's default HDFS-backed state store (only the
  * `transformWithState` processors run on RocksDB), TTL via event-time
  * timeout + watermark, keys ≈ concurrent alerts (tens).
  */
object AlertPipeline {

  /** K2/K3 state machine with optional T1 TTL. Emits an [[AlertUpdate]]
    * per state transition (Update output mode semantics).
    *
    * @param ttlSeconds TTL for live keys measured in event time; `None`
    *                   disables expiry (pure K2/K3 semantics).
    */
  def updates(
      events: Dataset[MetagameEvent],
      ttlSeconds: Option[Long] = Some(5400L),
      watermarkDelay: String = "10 minutes"): Dataset[AlertUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._

    // TTL timeouts need event-time semantics, which only exist on a
    // streaming plan with a watermark — a batch fold ignores TTL (the
    // batch analog of expiry is the t1 predicate filter)
    val ttlActive = ttlSeconds.isDefined && events.isStreaming
    val timeout =
      if (ttlActive) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout

    // EventTimeTimeout needs a watermark on a streaming source; the extra
    // eventTime column is ignored by the by-name encoder binding.
    val keyed =
      if (events.isStreaming)
        events.withColumn("eventTime", timestamp_seconds(col("timestamp")))
          .withWatermark("eventTime", watermarkDelay)
          .as[MetagameEvent]
      else events

    keyed.groupByKey(_.id)
      .flatMapGroupsWithState[AlertState, AlertUpdate](
        OutputMode.Update(), timeout) { (id, it, state) =>
        if (state.hasTimedOut) {
          val old = state.getOption.map(_.event)
          state.remove()
          // only live entries announce expiry; an aged-out tombstone is
          // silent (the key was already absent from the in-progress set)
          old.filter(_.state == MetagameEvent.Started).map(e =>
            AlertUpdate(id, "expired", e.eventId, e.worldId, e.timestamp))
            .iterator
        } else {
          // newest event (by event time, then eventId) wins the key.
          // Non-started states are kept as TOMBSTONES rather than removed:
          // clearing state would let a late-arriving *older* `started` in a
          // later batch resurrect the key. The tombstone ages out with the
          // same TTL, which bounds state exactly like live entries.
          val newest = (state.getOption.map(_.event) ++ it)
            .maxBy(e => (e.timestamp, e.eventId))
          val live = newest.state == MetagameEvent.Started
          state.update(AlertState(newest))
          if (ttlActive) ttlSeconds.foreach { t =>
            // the timeout must sit at or above the current watermark
            val target = (newest.timestamp * 1000).toLong + t * 1000
            state.setTimeoutTimestamp(
              math.max(target, state.getCurrentWatermarkMs() + 1))
          }
          Iterator.single(AlertUpdate(id,
            if (live) "live" else "removed",
            newest.eventId, newest.worldId, newest.timestamp))
        }
      }
  }

  /** Batch form of the in-progress set (same semantics as `updates`
    * folded to completion): last event per key, live iff `started`.
    * Equivalent to SURVEY §2 K2/K3 as a window query — one shuffle.
    */
  def inProgressSnapshot(events: Dataset[MetagameEvent]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("timestamp").desc, col("eventId").desc)
    events.toDF()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("state") === MetagameEvent.Started)
      .drop("rn")
  }

  /** Map the driver's `events` testdata table onto MetagameEvent
    * semantics: key = user_id, `signup` = the "started" state, any other
    * event type removes the key (the reference's de-facto K3 semantics).
    */
  def eventsTableAsAlerts(spark: SparkSession, df: DataFrame)
      : Dataset[MetagameEvent] = {
    import spark.implicits._
    df.select(
      col("user_id").cast("string").as("id"),
      col("event_id").cast("int").as("eventId"),
      when(col("event_type") === "signup", MetagameEvent.Started)
        .otherwise("ended").as("state"),
      col("user_id").cast("int").as("worldId"),
      lit(0).as("zoneId"),
      lit(0.0).as("nc"), lit(0.0).as("tr"), lit(0.0).as("vs"),
      col("value").as("xp"),
      unix_micros(col("ts").cast("timestamp")).cast("double")./(1e6)
        .as("timestamp"))
      .as[MetagameEvent]
  }
}
