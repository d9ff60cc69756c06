package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StreamingQueries

/** The conf scopes of `StreamingQueries.replay`. A replay group runs
  * several replays at once on one session, so a scope must hold while
  * any sibling is still starting (streaming conf is captured at
  * `start()`), and the session's own values — an unset key included —
  * must come back only when the last one exits, however it exits.
  */
class ReplayConfScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private lazy val src: String = {
    val dir = Files.createTempDirectory("confscope_src").resolve("in")
    spark.range(0, 40).withColumn("k", col("id") % 4)
      .repartition(2).write.parquet(dir.toString)
    dir.toString
  }

  // a stateful replay: a streaming aggregation's state store is
  // created under the conf the query starts with
  private def counts() =
    spark.readStream.schema("id BIGINT, k BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .groupBy(col("k")).count()
      .writeStream.outputMode("update").format("noop")

  // the conf a query started under, as its first offset-log entry
  // records it
  private def startedUnder(run: Path, key: String): Option[String] = {
    val log = new String(Files.readAllBytes(run.resolve("chk/offsets/0")),
      StandardCharsets.UTF_8)
    ("\"" + java.util.regex.Pattern.quote(key) + "\":\"([^\"]*)\"").r
      .findFirstMatchIn(log).map(_.group(1))
  }

  private def sessionSetting(key: String): Option[String] =
    spark.conf.getAll.get(key)

  // run `body` with the session's own settings of `keys` (None: unset),
  // then put back what the shared session had before
  private def withSession(keys: (String, Option[String])*)(
      body: => Unit): Unit = {
    val prior = keys.map { case (k, _) => k -> sessionSetting(k) }
    def put(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    put(keys)
    try body finally put(prior)
  }

  test("concurrent replays hold their scopes until the last one exits, " +
    "and the session's own values come back, unset included") {
    withSession(Shuffle -> Some("5"), Provider -> None) {
      val pool = Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val allIn = new CountDownLatch(3)
      def enterTogether(): Unit =
        assert(allIn.await(60, TimeUnit.SECONDS), "the replays did not overlap")
      try {
        val thrower = Future {
          StreamingQueries.replay(spark,
              Files.createTempDirectory("confscope_throw"), rocksDb = true) {
            allIn.countDown()
            enterTogether()
            throw new IllegalStateException("body failed")
          }
        }
        // each body records the conf it sees after the thrower has exited
        // its scopes: that exit must not restore anything yet
        def sibling(name: String, rocksDb: Boolean) = Future {
          val run = Files.createTempDirectory(s"confscope_$name")
          var seen = Map.empty[String, Option[String]]
          StreamingQueries.replay(spark, run, rocksDb = rocksDb) {
            allIn.countDown()
            enterTogether()
            Await.ready(thrower, 60.seconds)
            seen = Map(Shuffle -> spark.conf.getOption(Shuffle),
              Provider -> spark.conf.getOption(Provider))
            counts()
          }
          (run, seen)
        }
        val plain = sibling("plain", rocksDb = false)
        val rocks = sibling("rocks", rocksDb = true)
        val failed = intercept[IllegalStateException](
          Await.result(thrower, 3.minutes))
        assert(failed.getMessage == "body failed")
        val (plainRun, plainSeen) = Await.result(plain, 3.minutes)
        val (rocksRun, rocksSeen) = Await.result(rocks, 3.minutes)
        assert(plainSeen(Shuffle).contains("8"))
        assert(rocksSeen(Shuffle).contains("8"))
        assert(rocksSeen(Provider).contains(Rocks))
        assert(startedUnder(plainRun, Shuffle).contains("8"))
        assert(startedUnder(rocksRun, Shuffle).contains("8"))
        assert(startedUnder(rocksRun, Provider).contains(Rocks))
        assert(sessionSetting(Shuffle).contains("5"))
        assert(sessionSetting(Provider).isEmpty, s"$Provider was unset " +
          s"before the replays, now ${sessionSetting(Provider)}")
      } finally pool.shutdown()
    }
  }

  test("an overlapping enter that asks for a different value fails, " +
    "and the scope it tried to join still restores") {
    withSession(Shuffle -> None) {
      val e = intercept[IllegalArgumentException] {
        StreamingQueries.replay(spark,
            Files.createTempDirectory("confscope_conflict")) {
          StreamingQueries.ConfScope.enter(spark, Shuffle, "4")(
            fail("a conflicting scope was entered"))
        }
      }
      assert(e.getMessage.contains(s"ConfScope: overlapping enter for " +
        s"$Shuffle requested '4' but the active scope holds '8'"))
      assert(sessionSetting(Shuffle).isEmpty)
    }
  }
}
