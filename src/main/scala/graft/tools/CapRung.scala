package graft.tools

import org.apache.spark.sql.functions._

/** Capstone scale-rung probe for the r20 tree: generate (or adopt) the
  * ScaleRung v2 N× dataset, pre-build the shared artifacts the replay
  * bases adopt (timed separately — the bench's named-build-item
  * accounting), then time both composed lifecycle replays. Comparison
  * target: the r18 rung ladder (RUNLOG_r18.md — batch 113.4 s /
  * streaming 101.6 s at 10×, sequential phases, pre-adoption bases).
  *
  * Usage: `SPARK_GRAFT_CPUS=32 runMain graft.tools.CapRung [factor]`
  */
object CapRung {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val dest = s"/tmp/graft_scale_${factor}x_v2"
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import java.nio.file.{Files, Paths}
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(
        f"[cap-rung] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      a
    }
    if (!Files.exists(Paths.get(dest, "_DONE"))) {
      timed(s"generate ${factor}x dataset (v2 mix)") {
        val reps = spark.range(factor.toLong).select(col("id").as("rep"))
        val docs = spark.read.parquet(s"$src/documents.parquet")
        val nDocs = docs.count()
        val isNear = col("rep") > 0 && col("rep") % 4 === 0
        docs.crossJoin(reps)
          .select((col("doc_id") + col("rep") * nDocs).as("doc_id"),
            when(isNear, concat(col("text"), lit(" rev"), col("rep")))
              .otherwise(col("text")).as("text"),
            col("lang"), col("source"),
            (col("n_chars") + when(isNear,
              length(concat(lit(" rev"), col("rep"))).cast("long"))
              .otherwise(0L)).as("n_chars"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dest/documents.parquet")
        val emb = spark.read.parquet(s"$src/embeddings.parquet")
        val nVec = emb.count()
        emb.crossJoin(reps)
          .select((col("vec_id") + col("rep") * nVec).as("vec_id"),
            expr("transform(embedding, x -> CAST(x + rep * 1e-4 AS FLOAT))")
              .as("embedding"),
            col("label"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
        Files.write(Paths.get(dest, "_DONE"), Array.emptyByteArray)
      }
    }
    // the shared artifacts the replay bases ADOPT — built (or adopted)
    // here so the capstone timings below account folds + compactions,
    // not train-once artifact costs (the bench's named-item split)
    val capstones = graft.operators.Materialized.builds.collect {
      case m: graft.operators.Materialized.Memo[_]
          if m.name.startsWith("lifecycle") => m
    }
    (capstones.flatMap(_.adopts).distinct ++ capstones).foreach { e =>
      timed(s"${e.name} ${factor}x")(e.ensure(spark, dest))
    }
    spark.stop()
  }
}
