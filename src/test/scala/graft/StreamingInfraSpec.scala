package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.model.MetagameEvent
import graft.streaming._

/** K1 publish sink + A2/A3 observability, driven end-to-end through
  * writeStream (the reference's RabbitMQ publish + Prometheus metrics).
  */
class StreamingInfraSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ev(id: String, ts: Double): MetagameEvent =
    MetagameEvent(id, 1, "started", 17, 1, 40, 30, 20, 25, ts)

  test("publish sink delivers every event as wire JSON") {
    val qname = s"pub_${System.nanoTime()}"
    val mem = MemoryStream[MetagameEvent](spark)
    mem.addData(Seq(ev("17-1", 1000), ev("17-2", 2000)))
    val q = Sinks.publishStream(mem.toDS(), InMemoryPublisher(qname)).start()
    try q.processAllAvailable() finally q.stop()
    val got = InMemoryPublisher.queue(qname).toArray
      .map(_.asInstanceOf[(String, String)])
    assert(got.length == 2)
    assert(got.forall(_._1 == Sinks.RoutingKey))
    assert(got.exists(_._2.contains("\"id\":\"17-1\"")))
  }

  test("file publisher: durable across restart, lossless under kill mid-stream") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pub_ckpt").toString
    val mem = MemoryStream[MetagameEvent](spark)
    mem.addData(Seq(ev("17-1", 1000), ev("17-2", 2000)))
    val q1 = Sinks.publishStream(mem.toDS(), new FilePublisher(dir))
      .option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop() // "kill" the service
    // more events arrive while the service is down, then it restarts
    // from the checkpoint with a FRESH publisher instance (new process)
    mem.addData(Seq(ev("17-3", 3000)))
    val q2 = Sinks.publishStream(mem.toDS(), new FilePublisher(dir))
      .option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = FilePublisher.consume(dir)
    assert(got.forall(_._1 == Sinks.RoutingKey))
    val ids = got.map(_._2).flatMap("\"id\":\"([^\"]+)\"".r
      .findFirstMatchIn(_).map(_.group(1))).toSet
    assert(ids == Set("17-1", "17-2", "17-3"),
      "no message may be lost across the kill/restart")
  }

  test("file publisher: redelivery duplicates tolerated, partial writes invisible") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log2").toString
    val p = new FilePublisher(dir)
    val batch = Seq(("metagame", """{"id":"17-1"}"""), ("metagame", """{"id":"19-2"}"""))
    p.publishPartition(batch.iterator)
    p.publishPartition(batch.iterator) // micro-batch retry redelivers
    // a crash mid-write leaves an in-progress temp file: never visible
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".part-crashed.inprogress"),
      "metagame\t{\"id\":\"torn-frame".getBytes)
    val got = FilePublisher.consume(dir)
    assert(got.length == 4, "redelivered messages appear (at-least-once)")
    assert(got.toSet == batch.toSet, "dedup by content recovers the exact set")
    assert(!got.exists(_._2.contains("torn-frame")),
      "uncommitted partial file must be invisible")
  }

  test("file publisher: incremental consume with offset set + truncation") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log4").toString
    val p = new FilePublisher(dir)
    p.publish("k", "m1")
    p.publish("k", "m2")
    val (first, seen1) = FilePublisher.consumeFrom(dir, Set.empty)
    assert(first.map(_._2) == Vector("m1", "m2") && seen1.size == 2)
    // nothing new: empty delta, offsets carried forward
    val (none, seenSame) = FilePublisher.consumeFrom(dir, seen1)
    assert(none.isEmpty && seenSame == seen1)
    p.publish("k", "m3")
    val (delta, seen2) = FilePublisher.consumeFrom(dir, seen1)
    assert(delta.map(_._2) == Vector("m3") && seen2.size == 3)
    // a commit whose rename lands LATE, with a name sorting BEFORE the
    // already-consumed files (concurrent partition tasks): the offset
    // SET still picks it up - a high-watermark cursor would skip it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0000000000000-late.log"),
      "k\tm0\n".getBytes)
    val (late, seen3) = FilePublisher.consumeFrom(dir, seen2)
    assert(late.map(_._2) == Vector("m0"),
      "late-landing low-named commit must not be skipped")
    // retention: drop exactly what the consumer durably processed
    assert(FilePublisher.truncate(dir, seen1) == 2)
    assert(FilePublisher.consume(dir).map(_._2).toSet == Set("m0", "m3"))
    assert(seen3.size == 4)
  }

  test("idempotent publish: batch commit is atomic, retries and repartitioned replays dedup") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log5").toString
    val p = new FilePublisher(dir)
    val m = (id: String) => ("metagame", s"""{"id":"$id"}""")
    // attempt 1 of batch 7: stages only one of its partitions, then the
    // job dies before commit - nothing is visible
    val staging1 = p.stagingDirFor(7)
    p.stagePartition(staging1, 0, Seq(m("17-1")).iterator)
    assert(FilePublisher.consume(dir).isEmpty, "uncommitted staging invisible")
    // attempt 2 replays batch 7 REPLANNED with different partitioning
    // (3 partitions instead of 2) and commits
    val staging2 = p.stagingDirFor(7)
    p.stagePartition(staging2, 0, Seq(m("17-1")).iterator)
    p.stagePartition(staging2, 1, Seq(m("19-2")).iterator)
    p.stagePartition(staging2, 2, Seq(m("13-9")).iterator)
    assert(p.commitStaged(staging2, 7))
    // a zombie third attempt finishes late and must lose + clean up
    val staging3 = p.stagingDirFor(7)
    p.stagePartition(staging3, 0, Seq(m("17-1"), m("19-2"), m("13-9")).iterator)
    assert(!p.commitStaged(staging3, 7), "late attempt must lose the commit race")
    assert(p.batchCommitted(7))
    val got = FilePublisher.consume(dir)
    assert(got.map(_._2).sorted ==
      Vector("""{"id":"13-9"}""", """{"id":"17-1"}""", """{"id":"19-2"}"""),
      s"exactly the winning attempt's rows, once: $got")
    // no staging residue: attempt 1's partial files were swept on commit
    val leftovers = new java.io.File(dir).list().count(_.contains("staging"))
    assert(leftovers == 0, "stale staging attempts must be swept")
  }

  test("exactly-once publish stream delivers each event once across restart") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log6").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pub_ckpt6").toString
    val mem = MemoryStream[MetagameEvent](spark)
    mem.addData(Seq(ev("17-1", 1000), ev("17-2", 2000)))
    val p = new FilePublisher(dir)
    val q1 = Sinks.publishStreamExactlyOnce(mem.toDS(), p)
      .option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    mem.addData(Seq(ev("17-3", 3000)))
    val q2 = Sinks.publishStreamExactlyOnce(mem.toDS(), new FilePublisher(dir))
      .option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = FilePublisher.consume(dir).map(_._2)
      .flatMap("\"id\":\"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1)))
    assert(ids.sorted == Seq("17-1", "17-2", "17-3"),
      s"each event exactly once: $ids")
  }

  test("commit rename failure with no prior commit throws instead of deleting staged data") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log7").toString
    val p = new FilePublisher(dir)
    // a staging path that cannot be renamed (it does not exist) and no
    // committed dir for the batch: the ONLY safe outcome is an exception
    // (micro-batch retries) — silently returning would let the
    // checkpoint advance past messages that were never published
    val ghost = new java.io.File(dir, ".batch-000000000003-ghost.staging")
    intercept[java.io.IOException] {
      p.commitStaged(ghost.getPath, 3L)
    }
    assert(!p.batchCommitted(3L))
  }

  test("consume skips a corrupt separator-less line without poisoning the file") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log8").toString
    val p = new FilePublisher(dir)
    p.publish("k", "good1")
    // corrupt commit file: one torn line (no tab) between two good ones
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.log"),
      "k\tgood2\ntruncated-no-separator\nk\tgood3\n".getBytes)
    val before = Metrics.snapshot.getOrElse(FilePublisher.CorruptLinesMetric, 0.0)
    val (msgs, seen, corrupt) = FilePublisher.consumeFromDetailed(dir, Set.empty)
    assert(msgs.map(_._2).sorted == Vector("good1", "good2", "good3"),
      "good lines around the corrupt one must still be delivered")
    // the loss is OBSERVABLE, not silent: the damaged file and skipped
    // count are reported and the corruption metric advances
    assert(corrupt == Vector(("part-corrupt.log", 1)))
    assert(Metrics.snapshot(FilePublisher.CorruptLinesMetric) == before + 1.0)
    // the damaged file is consumed (offset advances): progress, not a
    // permanent re-read loop
    val (again, _) = FilePublisher.consumeFrom(dir, seen)
    assert(again.isEmpty)
  }

  test("orphaned windowed-sink dirs from dead pids are swept, live ones kept") {
    val root = java.nio.file.Files.createTempDirectory("winstream_root")
    // a pid that cannot be alive (max pid on linux is < 2^22 by default;
    // ProcessHandle.of returns empty for nonexistent ids)
    val deadPid = Iterator.iterate(999999999L)(_ - 1)
      .find(p => !ProcessHandle.of(p).isPresent).get
    val dead = root.resolve(s"graft_winstream_$deadPid")
    java.nio.file.Files.createDirectories(dead.resolve("runX"))
    val live = root.resolve(
      s"graft_winstream_${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(live)
    val unrelated = root.resolve("somethingelse")
    java.nio.file.Files.createDirectories(unrelated)
    graft.operators.Materialized.sweepDeadSiblings(root, "graft_winstream_")
    assert(!java.nio.file.Files.exists(dead), "dead-pid dir reclaimed")
    assert(java.nio.file.Files.exists(live), "own dir untouched")
    assert(java.nio.file.Files.exists(unrelated), "non-matching dir untouched")
  }

  test("file publisher round-trips payloads containing tabs and newlines") {
    val dir = java.nio.file.Files.createTempDirectory("pub_log3").toString
    val p = new FilePublisher(dir)
    val tricky = "line1\nline2\tcol\\end\rcarriage"
    p.publish("k\t1", tricky)
    assert(FilePublisher.consume(dir) == Vector(("k\t1", tricky)))
  }

  test("observe() metrics: total_events counter and last_event_time gauge") {
    Metrics.reset()
    val listener = new Observability.MetricsListener
    spark.streams.addListener(listener)
    try {
      val mem = MemoryStream[MetagameEvent](spark)
      val name = s"obs_${System.nanoTime()}"
      val q = Observability.observed(mem.toDS().toDF())
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      try {
        mem.addData(Seq(ev("17-1", 1000), ev("17-2", 2500)))
        q.processAllAvailable()
        mem.addData(Seq(ev("17-3", 3000)))
        q.processAllAvailable()
      } finally q.stop()
      // listener callbacks are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (Metrics.snapshot.getOrElse("total_events", 0.0) < 3.0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val m = Metrics.snapshot
      assert(m("total_events") == 3.0)
      assert(m("last_event_time") == 3000.0)
    } finally spark.streams.removeListener(listener)
  }
}
