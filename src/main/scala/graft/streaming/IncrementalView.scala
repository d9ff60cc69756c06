package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Dirs

/** An INCREMENTALLY MAINTAINED materialized aggregate over an
  * [[AlertStateTable]]: live-alert counts grouped by `bucketExpr`
  * (a SQL expression over the live row's columns). The reference's
  * Mongo collection is itself a materialized view of the event stream;
  * this is the next view in that chain — and instead of recounting the
  * table per refresh, it folds the table's change feed
  * ([[AlertStateTable.changesBetween]]): +1 for `insert`/
  * `update_postimage`, −1 for `delete`/`update_preimage`, merged into
  * the stored counts. Refresh cost is O(|changes|), independent of the
  * table size — the IVM contract — falling back to a full recount only
  * when the last-applied version has aged out of the table's retention
  * window (or on first refresh).
  *
  * Durability: counts live in immutable versioned dirs, `_CURRENT` records
  * `<countsDir> <appliedTableVersion>` and swaps via ATOMIC_MOVE, so a
  * crashed refresh leaves the previous view fully readable and the
  * next refresh re-derives from the recorded version (re-applying a
  * change feed is idempotent because the merge replaces counts rather
  * than adding blindly — it recomputes `stored + delta` from the same
  * stored generation).
  */
class LiveCountsView(path: String, bucketExpr: String = "worldId % 10",
    keyName: String = "world_bucket") {

  private def pointer: Path = Paths.get(path, "_CURRENT")

  /** (countsDir, appliedTableVersion) if the view has been built. */
  private def current: Option[(String, String)] =
    if (!Files.exists(pointer)) None
    else new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8)
      .trim.split("\\s+") match {
        case Array(dir, ver) if Files.exists(Paths.get(path, dir)) =>
          Some((dir, ver))
        case _ => None
      }

  /** The maintained view: `(world_bucket, n_live)`. */
  def read(spark: SparkSession): DataFrame = current match {
    case Some((dir, _)) => spark.read.parquet(s"$path/$dir")
    case None => spark.emptyDataFrame
      .select(lit(0L).as(keyName), lit(0L).as("n_live"))
  }

  private def fullCounts(table: AlertStateTable,
      spark: SparkSession): DataFrame =
    table.snapshot(spark)
      .groupBy(expr(bucketExpr).cast("long").as(keyName))
      .agg(count(lit(1)).as("n_live"))

  /** Bring the view up to the table's newest version. */
  def refresh(spark: SparkSession, table: AlertStateTable): Unit =
    synchronized {
      val vs = table.versions
      if (vs.isEmpty) return
      val cur = vs.last
      val prior = current
      val next = prior match {
        case Some((_, seen)) if seen == cur => return // already current
        case Some((dir, seen)) if vs.contains(seen) =>
          // the IVM path: fold the change feed into the stored counts
          val deltas = table.changesBetween(spark, seen, cur)
            .select(expr(bucketExpr).cast("long").as(keyName),
              when(col("change").isin("insert", "update_postimage"), 1L)
                .otherwise(-1L).as("d"))
            .groupBy(col(keyName)).agg(sum(col("d")).as("d"))
          spark.read.parquet(s"$path/$dir")
            .join(deltas, Seq(keyName), "full_outer")
            .select(col(keyName),
              (coalesce(col("n_live"), lit(0L)) +
                coalesce(col("d"), lit(0L))).as("n_live"))
            // a bucket whose last member left must VANISH, exactly as a
            // recompute would never emit it
            .filter(col("n_live") =!= 0L)
        case _ => fullCounts(table, spark) // first build / horizon aged out
      }
      val gen = prior.map(_._1.drop(1).toLong + 1).getOrElse(1L)
      val dir = f"c$gen%018d"
      next.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$path/$dir")
      val tmp = Paths.get(path, "_CURRENT.tmp")
      Files.write(tmp, s"$dir $cur".getBytes(StandardCharsets.UTF_8))
      FilePublisher.syncFile(tmp)
      Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      // retire all but the just-replaced generation (same racing-reader
      // grace the table's own GC gives)
      import scala.jdk.CollectionConverters._
      val keep = Set(dir) ++ prior.map(_._1)
      Dirs.list(Paths.get(path))
        .filter(p => p.getFileName.toString.startsWith("c") &&
          !keep.contains(p.getFileName.toString))
        .foreach { p =>
          Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
        }
    }
}
