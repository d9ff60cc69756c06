import sys
p = sys.argv[1] + '/src/main/scala/graft/streaming/StateTable.scala'
s = open(p).read()
def rep(a, b):
    global s
    assert s.count(a) == 1, a
    s = s.replace(a, b)
rep('protected def fsStep(step: String)(run: => Unit): Unit = run',
'''private val traceOut = sys.env.get("STATE_TABLE_TRACE")
  private val acc = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Double)]
  private var phase = "merge"
  protected def fsStep(step: String)(run: => Unit): Unit = {
    val t0 = System.nanoTime; run
    val k = s"$phase.$step"; val (n, ms) = acc.getOrElse(k, (0, 0.0))
    acc(k) = (n + 1, ms + (System.nanoTime - t0) / 1e6)
  }''')
rep('def merge(spark: SparkSession, updates: DataFrame): Unit = synchronized {',
    'def merge(spark: SparkSession, updates: DataFrame): Unit = synchronized {\n    acc.clear(); phase = "merge"; val tMerge = System.nanoTime')
rep('    val freed = gc(committed.filterNot(_.slot.contains(slot)) :+ head)',
    '    phase = "gc"; val tGc = System.nanoTime\n    val freed = gc(committed.filterNot(_.slot.contains(slot)) :+ head)\n    phase = "merge"')
rep('    Metrics.set(AlertStateTable.SegmentsGauge, newSegs.length)\n',
'''    Metrics.set(AlertStateTable.SegmentsGauge, newSegs.length)
    traceOut.foreach { f =>
      val now = System.nanoTime
      val steps = acc.map { case (k, (n, ms)) => f"\\"$k\\": [$n, $ms%.2f]" }.mkString(", ")
      val line = f"{\\"id\\": $id, \\"compacting\\": $compacting, \\"ms\\": ${(now - tMerge) / 1e6}%.2f, \\"gc_ms\\": ${(now - tGc) / 1e6}%.2f, \\"gc_freed\\": $freed, \\"steps\\": {$steps}}\\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(f), line.getBytes,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
''')
open(p, 'w').write(s)
