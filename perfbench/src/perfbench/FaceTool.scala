package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.operators.StreamingQueries

/** Regenerates the candidate lists behind `faces.tsv` and `groups.tsv`:
  *
  * {{{
  * FaceTool <sfDir> <candidates.txt> <out.json>
  * }}}
  *
  * Runs each candidate face once (fresh `clearCache`) and records its
  * seconds, its row count and whether it left the shared artifact root
  * empty, plus its oracle SQL; then runs the events-only replay groups
  * and records every member's read-back row count. `oracle_counts.py`
  * turns the JSON into the two tables.
  */
object FaceTool {
  def main(argv: Array[String]): Unit = {
    val Array(sf, candidates, out) = argv
    val spark = Main.session(Runtime.getRuntime.availableProcessors)
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_shared")
    def rootEmpty = !Files.exists(root) ||
      scala.util.Using(Files.list(root))(_.count() == 0).get
    def wipe(): Unit = if (Files.exists(root))
      scala.util.Using(Files.walk(root))(_.iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_)))
    val names = Files.readAllLines(Paths.get(candidates)).asScala.map(_.trim).filter(_.nonEmpty)
    val rows = names.map { name =>
      wipe()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = try queries(name)(spark, sf).select(count(lit(1))).head().getLong(0)
        catch { case e: Throwable => System.err.println(s"[facetool] $name: $e"); -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[facetool] $name $sec%.3f s rows=$n")
      s"""{"name":${Json.str(name)},"kind":"face","sec":$sec,"rows":$n,""" +
        s""""shared_empty":$rootEmpty,"sql":${oracles.get(name).map(Json.str).getOrElse("null")}}"""
    }
    wipe()
    val groupRows = Registry.Groups.flatMap { g =>
      StreamingQueries.ensureReplayGroup(spark, sf, g)
      StreamingQueries.replayGroupMembers(g).toSeq.sorted.map { face =>
        val n = queries(face)(spark, sf).count()
        s"""{"name":${Json.str(face)},"kind":"member","group":${Json.str(g)},"rows":$n,""" +
          s""""sql":${oracles.get(face).map(Json.str).getOrElse("null")}}"""
      }
    }
    Files.writeString(Paths.get(out), (rows ++ groupRows).mkString("[", ",\n", "]\n"))
    spark.stop()
  }
}
