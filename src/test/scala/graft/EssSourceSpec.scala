package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.model.MetagameEvent
import graft.sources.EssFeeds
import graft.streaming.AlertPipeline

/** End-to-end over the custom DSv2 source: raw ESS JSON frames pushed into
  * the feed → readStream.format("ess") → from_json projection → stateful
  * in-progress set. This is the full §3.1 pipeline with the real source
  * stage (minus only the network socket, which tests replace by direct
  * frame pushes).
  */
class EssSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def frame(id: String, state: String, ts: Double): String =
    s"""{"id": "$id", "event_id": 123, "state": "$state", "world_id": ${id.split("-")(0)},
       | "zone_id": 1, "nc": 40, "tr": 30, "vs": 20, "xp": 25,
       | "timestamp": $ts}""".stripMargin.replace("\n", "")

  test("ess source streams pushed frames as rows") {
    val ch = s"t1_${System.nanoTime()}"
    EssFeeds.push(ch, frame("17-1", "started", 1000))
    EssFeeds.push(ch, frame("19-2", "started", 2000))
    val name = s"ess_rows_$ch"
    val q = spark.readStream.format("ess").option("channel", ch).load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val rows = spark.table(name).selectExpr("seq", "value").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.length == 2)
    assert(rows.head._2.contains("\"id\": \"17-1\""))
  }

  test("full pipeline: frames -> parse -> stateful in-progress set") {
    val ch = s"t2_${System.nanoTime()}"
    Seq(
      frame("17-1", "started", 1000), frame("19-2", "started", 1500),
      frame("17-1", "ended", 2000), frame("13-9", "started", 2500)
    ).foreach(EssFeeds.push(ch, _))
    val raw = spark.readStream.format("ess").option("channel", ch).load()
    val events = MetagameEvent.fromJson(raw.select("value"))
    val name = s"ess_pipe_$ch"
    val q = AlertPipeline.updates(events, ttlSeconds = None)
      .writeStream.outputMode("update").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val live = spark.table(name)
      .groupBy("id").agg(org.apache.spark.sql.functions.expr("max_by(status, timestamp)").as("status"))
      .filter("status = 'live'").select("id").as[String].collect().toSet
    assert(live == Set("19-2", "13-9"))
  }

  test("two queries on one channel both see every frame (fan-out)") {
    val ch = s"t4_${System.nanoTime()}"
    def startQ(n: String) =
      spark.readStream.format("ess").option("channel", ch).load()
        .writeStream.format("memory").queryName(n).start()
    val (n1, n2) = (s"fan_a_$ch", s"fan_b_$ch")
    val q1 = startQ(n1)
    val q2 = startQ(n2)
    try {
      EssFeeds.push(ch, frame("17-1", "started", 1000))
      // q1 fully processes and commits (advancing its committed mark)
      // before q2 reads: frames must survive until q2 commits too
      q1.processAllAvailable()
      EssFeeds.push(ch, frame("19-2", "started", 1500))
      q1.processAllAvailable() // forces commit of the earlier batch
      q2.processAllAvailable()
      assert(spark.table(n1).count() == 2)
      assert(spark.table(n2).count() == 2,
        "second consumer must not lose frames committed by the first")
    } finally { q1.stop(); q2.stop() }
  }

  test("a multi-frame batch is planned across multiple input partitions") {
    val ch = s"t5_${System.nanoTime()}"
    (1 to 64).foreach(i => EssFeeds.push(ch, frame(s"17-$i", "started", 1000 + i)))
    val name = s"ess_part_$ch"
    val q = spark.readStream.format("ess").option("channel", ch)
      .option("numPartitions", "8").load()
      .selectExpr("seq", "value", "spark_partition_id() AS pid")
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val rows = spark.table(name).selectExpr("seq", "pid")
      .as[(Long, Int)].collect()
    assert(rows.length == 64, "no frame lost by the split")
    assert(rows.map(_._1).distinct.length == 64, "no frame duplicated")
    assert(rows.map(_._2).distinct.length == 8,
      s"expected the batch to fan out over 8 partitions, got ${rows.map(_._2).distinct.length}")
    // near-equal split: no partition hogs the batch (the round-1 shape
    // was all 64 frames in one task)
    val counts = rows.groupBy(_._2).values.map(_.length)
    assert(counts.max <= 16, s"unbalanced fan-out: $counts")
  }

  test("the default split gives each input partition at least MinFramesPerPartition frames") {
    def partitionsOf(frames: Int): Int = {
      val ch = s"t5d_${frames}_${System.nanoTime()}"
      (1 to frames).foreach(i => EssFeeds.push(ch, frame(s"17-$i", "started", 1000 + i)))
      val name = s"ess_defpart_$ch"
      val q = spark.readStream.format("ess").option("channel", ch).load()
        .selectExpr("spark_partition_id() AS pid")
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val pids = spark.table(name).as[Int].collect()
      assert(pids.length == frames, "no frame lost or duplicated by the split")
      pids.distinct.length
    }
    val min = graft.sources.EssSource.MinFramesPerPartition
    val cores = spark.sparkContext.defaultParallelism
    assert(partitionsOf(64) == 1, "a small batch is one task")
    assert(partitionsOf(2 * min + 1) == math.min(cores, 3))
  }

  test("maxFramesPerTrigger bounds every micro-batch of a replayed backlog") {
    val ch = s"t6_${System.nanoTime()}"
    (1 to 100).foreach(i => EssFeeds.push(ch, frame(s"17-$i", "started", 1000 + i)))
    val batchSizes = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val q = spark.readStream.format("ess").option("channel", ch)
      .option("maxFramesPerTrigger", "30").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(b.count()); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.asScala.toSeq
    assert(sizes.sum == 100, s"backlog must drain completely: $sizes")
    assert(sizes.forall(_ <= 30), s"every batch must respect the cap: $sizes")
    assert(sizes.count(_ > 0) >= 4, s"cap must split the backlog: $sizes")
  }

  test("bounded buffer drops oldest frames above capacity and counts them") {
    val ch = s"t7_${System.nanoTime()}"
    val buf = EssFeeds.buffer(ch)
    buf.setCapacity(10)
    (1 to 25).foreach(i => EssFeeds.push(ch, frame(s"17-$i", "started", 1000 + i)))
    assert(buf.droppedFrames == 15)
    val kept = buf.range(0, buf.lastSeq)
    assert(kept.length == 10, "capacity must bound the buffer")
    // drop-oldest: the newest frames survive, never the fresh data
    assert(kept.map(_._1).toSeq == (16L to 25L))
    // and a query on the channel still reads exactly the surviving frames
    val name = s"ess_cap_$ch"
    val q = spark.readStream.format("ess").option("channel", ch).load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table(name).count() == 10)
  }

  test("incremental micro-batches: later pushes arrive in later batches") {
    val ch = s"t3_${System.nanoTime()}"
    EssFeeds.push(ch, frame("17-1", "started", 1000))
    val name = s"ess_inc_$ch"
    val q = spark.readStream.format("ess").option("channel", ch).load()
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
      EssFeeds.push(ch, frame("17-1", "ended", 2000))
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)
    } finally q.stop()
  }
}
