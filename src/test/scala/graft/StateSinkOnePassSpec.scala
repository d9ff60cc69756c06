package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.Eventually.eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import org.scalatest.time.SpanSugar._
import graft.model.MetagameEvent
import graft.streaming.AlertStateTable

/** The state sink executes each micro-batch's plan exactly once: a
  * pre-check (`isEmpty`, `count`) or a second write would rerun the
  * stateful stage, which is the dominant per-batch cost of the service
  * path.
  */
class StateSinkOnePassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private implicit val patience: org.scalatest.concurrent.Eventually.PatienceConfig =
    org.scalatest.concurrent.Eventually.PatienceConfig(
      Span(30, Seconds), 50.milliseconds)

  private def ev(id: String, state: String, ts: Double): MetagameEvent =
    MetagameEvent(id, 1, state, 17, 1, 40, 30, 20, 25, ts)

  private val DrainKey = "graft.test.drain"

  /** Counts submitted stages that run the state store, per (query id,
    * micro-batch id), from the local properties the stream thread sets.
    */
  private class StatefulStages extends SparkListener {
    val perBatch = new ConcurrentHashMap[(String, Long), Int]()
    val drained = ConcurrentHashMap.newKeySet[String]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      for {
        props <- Option(e.properties)
        query <- Option(props.getProperty("sql.streaming.queryId"))
        batch <- Option(props.getProperty("streaming.sql.batchId"))
        if e.stageInfo.rddInfos.exists(_.name == "StateStoreRDD")
      } perBatch.merge((query, batch.toLong), 1, _ + _)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(DrainKey)))
        .foreach(drained.add)
  }

  /** Returns once the listener has seen every event posted so far: the
    * bus delivers in order, so seeing a marker job means all earlier
    * stage events were delivered too.
    */
  private def drain(l: StatefulStages): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setLocalProperty(DrainKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainKey, null)
    eventually { assert(l.drained.contains(token)) }
  }

  test("the stateful stage runs exactly once per micro-batch, no-data batches included") {
    val dir = Files.createTempDirectory("alert_onepass")
    val table = new AlertStateTable(dir.resolve("table").toString)
    val chk = dir.resolve("chk").toString
    val mem = MemoryStream[MetagameEvent](spark)
    val stages = new StatefulStages
    spark.sparkContext.addSparkListener(stages)
    try {
      // three runs on one checkpoint: new keys, an ended key, then a
      // duplicate; each advances the watermark, so each data batch is
      // followed by a no-data batch that only moves the watermark
      val progress = Seq(
        Seq(ev("17-1", "started", 1000), ev("19-2", "started", 1100)),
        Seq(ev("17-1", "ended", 2000), ev("13-9", "started", 2100)),
        Seq(ev("13-9", "started", 2100), ev("11-4", "started", 3000))
      ).flatMap { events =>
        mem.addData(events)
        val q = AlertStateTable.sink(mem.toDS(), table, ttlSeconds = Some(5400L))
          .option("checkpointLocation", chk).start()
        try q.awaitTermination() finally q.stop()
        q.recentProgress.toSeq.map(p => (p.id.toString, p.batchId, p.numInputRows))
      }
      drain(stages)

      assert(progress.exists(_._3 == 0L), s"no no-data batch ran: $progress")
      import scala.jdk.CollectionConverters._
      val counted = stages.perBatch.asScala.toMap
      val perBatch = progress.map { case (q, b, _) => (b, counted.getOrElse((q, b), 0)) }
      assert(perBatch.forall(_._2 == 1),
        s"stateful stage runs per batch (batch id -> stages): $perBatch")
      assert(counted.keySet == progress.map(p => (p._1, p._2)).toSet,
        s"stateful stages outside the reported batches: $counted")
      assert(table.snapshot(spark).select("id").as[String].collect().toSet ==
        Set("19-2", "13-9", "11-4"))
    } finally spark.sparkContext.removeSparkListener(stages)
  }
}
