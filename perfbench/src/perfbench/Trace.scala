package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Percentiles and means over measured samples. */
object Stats {
  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = (s.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** One timed interval at a layer boundary. Spans of one micro-batch, face
  * or group share `id`; `parent` names the span (same id) that caused it.
  */
final case class Span(name: String, id: String, parent: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder, written out as JSON when the run ends. */
object Spans {
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as span `name` under `parent` (same id). */
  def time[T](name: String, id: String, parent: String = "")(body: => T): T = {
    val t0 = Clock.ms()
    try body finally add(Span(name, id, parent, t0, Clock.ms()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time: a span's duration minus the part of it that its child
    * spans (same id, parent = this span's name) cover.
    */
  def selfMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (math.max(k.startMs, s.startMs),
      math.min(k.endMs, s.endMs))).filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    s.durMs - covered
  }

  /** JSON of every span with its self time, plus per-name totals. */
  def json(): String = {
    val ss = all
    val kids = ss.groupBy(s => (s.id, s.parent))
    val rows = ss.map { s =>
      val self = selfMs(s, kids.getOrElse((s.id, s.name), Seq.empty))
      (s, self)
    }
    val byName = rows.groupBy(_._1.name).toSeq.sortBy(_._1).map {
      case (n, rs) =>
        s"""${Json.str(n)}:{"count":${rs.size},"total_ms":${Json.num(
          rs.map(_._1.durMs).sum)},"self_ms":${Json.num(rs.map(_._2).sum)}}"""
    }
    val list = rows.map { case (s, self) =>
      s"""{"name":${Json.str(s.name)},"id":${Json.str(s.id)},""" +
        s""""parent":${Json.str(s.parent)},"start_ms":${Json.num(s.startMs)},""" +
        s""""dur_ms":${Json.num(s.durMs)},"self_ms":${Json.num(self)}}"""
    }
    s"""{"by_name":{${byName.mkString(",")}},"spans":[${list.mkString(",\n")}]}"""
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * nanoTime deltas anchored once to currentTimeMillis, so spans and
  * Spark's progress timestamps share one time base.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** Every streaming progress event of the run, kept for the latency fold
  * (always on: it is the measurement itself, not tracing) and for the
  * per-layer micro-batch metrics.
  */
class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  // per query name: highest committed source end offset
  private val committed = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val lock = new Object

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(p)
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => o.trim.toLongOption).foreach { end =>
        committed.merge(p.name, end, (a, b) => math.max(a, b))
      }
    lock.synchronized(lock.notifyAll())
  }

  def committedOf(query: String): Long = committed.getOrDefault(query, 0L)

  /** Block up to `ms` for the next progress event. */
  def awaitAny(ms: Long): Unit = lock.synchronized(lock.wait(math.max(1L, ms)))

  def of(query: String): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.name == query).toSeq.sortBy(_.batchId)
}

object ProgressLog {
  def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      dur(p, "triggerExecution")
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(0L)
  def startOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.startOffset))
      .flatMap(_.trim.toLongOption).getOrElse(0L)
}

/** Spark scheduler counters (traced runs only), counted while `on`. */
class SchedulerTrace extends SparkListener {
  @volatile var on = false
  val jobs, stages, tasks = new AtomicLong()
  val taskMs, schedDelayMs, gcMs = new DoubleAdder()
  val inputB, shuffleReadB, shuffleWriteB, spillB = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks.incrementAndGet()
      taskMs.add(m.executorRunTime.toDouble)
      gcMs.add(m.jvmGCTime.toDouble)
      schedDelayMs.add(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime).toDouble)
      inputB.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  def metrics(wallS: Double): Seq[(String, Double)] = {
    val mb = 1024.0 * 1024.0
    val n = math.max(1L, tasks.get()).toDouble
    Seq(
      "spark.jobs" -> jobs.get().toDouble,
      "spark.stages" -> stages.get().toDouble,
      "spark.tasks" -> tasks.get().toDouble,
      "spark.task_s" -> taskMs.sum() / 1000,
      "spark.cores_used" -> (if (wallS > 0) taskMs.sum() / 1000 / wallS else 0.0),
      "spark.sched_delay_ms" -> schedDelayMs.sum() / n,
      "spark.gc_ms" -> gcMs.sum(),
      "spark.input_mb" -> inputB.get() / mb,
      "spark.shuffle_read_mb" -> shuffleReadB.get() / mb,
      "spark.shuffle_write_mb" -> shuffleWriteB.get() / mb,
      "spark.spill_mb" -> spillB.get() / mb)
  }
}

/** Catalyst phase times from each finished query's planning tracker
  * (traced runs only), summed while `on`.
  */
class PlanTrace extends QueryExecutionListener {
  @volatile var on = false
  val analysis, optimization, planning = new DoubleAdder()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = if (on) {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    analysis.add(ms("analysis"))
    optimization.add(ms("optimization"))
    planning.add(ms("planning"))
  }
  def metrics: Seq[(String, Double)] = Seq(
    "plan.analysis_ms" -> analysis.sum(),
    "plan.optimization_ms" -> optimization.sum(),
    "plan.planning_ms" -> planning.sum())
}

/** JVM-wide figures read from the platform MX beans and /proc. */
object Jvm {
  def gcMs: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb: Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)).getOrElse(0.0)
  /** JVM start in epoch ms. */
  def startMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
}

/** Tracing hooks installed on a session for a traced run. */
final class Tracer(spark: SparkSession) {
  val sched = new SchedulerTrace
  val plan = new PlanTrace
  spark.sparkContext.addSparkListener(sched)
  spark.listenerManager.register(plan)
  Spans.enabled = true
  def on(b: Boolean): Unit = { sched.on = b; plan.on = b }
}
