package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * All tables are plain parquet; Spark's DSv2 parquet source gives us
  * predicate pushdown, column pruning and partition coalescing for free —
  * every query below should show `PushedFilters`/`ReadSchema` pruning in
  * `.explain("formatted")`. At 100 TB these reads become distributed scans;
  * nothing here assumes single-node layout.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.parquet's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * surfaces as a raw nanos long under
    * `spark.sql.legacy.parquet.nanosAsLong` — or native micros
    * (TIMESTAMP/TIMESTAMP_NTZ). Normalize BY THE SCHEMA WE GOT, not by
    * assumption, to a microsecond TIMESTAMP_NTZ either way: lossless
    * (the data is micro-precision), and NTZ matches DuckDB's naive
    * timestamp semantics. The session is pinned UTC, so the
    * TIMESTAMP→NTZ cast is wall-clock-preserving.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => df.withColumn("ts",
          expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
        case _: org.apache.spark.sql.types.TimestampNTZType => df
        case _ => df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    } else df
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** Session tuning shared by Verify / Bench / tests.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions sized to
  * cores (not the 200 default), AQE on so skewed shuffles re-plan at runtime
  * exactly as they would on a 1000-executor cluster. The local filesystem
  * is replaced by [[graft.io.NioLocalFileSystem]] / [[graft.io.NioLocalFs]]:
  * without libhadoop, Hadoop's own starts a `chmod` or `readlink` process
  * on every checkpoint, state-store and parquet file create or rename.
  */
object GraftSession {
  def tune(b: SparkSession.Builder, cores: String): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.io.NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.io.NioLocalFs].getName)

  def local(cores: Int = 4): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]")
      .appName("graft"), cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
