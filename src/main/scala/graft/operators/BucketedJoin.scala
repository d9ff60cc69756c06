package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{load => T}

/** Co-located FACT-FACT join via bucketed layout — the storage-level
  * answer to the one shuffle the star-schema faces can't avoid: when
  * BOTH join sides are big (orders ⋈ lineitem — no broadcast escape)
  * and the join repeats across a workload, pre-bucketing both tables on
  * the join key (same bucket count, Spark's Murmur3 bucketing) lets
  * every subsequent join run with ZERO exchanges — each task reads
  * bucket k of both sides and joins locally. This is the lakehouse
  * layout trade: pay one bucketed write per table version, amortized
  * over every downstream join (at 100 TB, the difference between
  * re-shuffling 700 GB of lineitem per query and never shuffling it).
  *
  * The layout rides the [[SharedArtifacts]] protocol like the dedup
  * signature tables: built once per dataset version with a transient
  * catalog name, published atomically, adopted by fresh sessions as
  * EXTERNAL bucketed tables (schema from the parquet footers, bucket
  * spec re-declared — [[SharedArtifacts.fingerprint]]'s layout tag pins
  * the bucket count so stale metadata can't corrupt the join).
  * StorageLayoutSpec pins the zero-exchange plan; the DuckDB oracle is
  * the PLAIN join — bucketing must change only the partitioning, never
  * a value.
  */
object BucketedJoin {

  type Q = (SparkSession, String) => DataFrame

  private val Buckets = 8

  /** The bucketed orders/lineitem pair. The artifact holds BOTH facts,
    * so the key fingerprints both sources: keying on orders alone would
    * adopt a stale bucketed lineitem after only lineitem.parquet is
    * regenerated.
    */
  private[graft] lazy val bucketedFacts = Materialized.shared(
      "bkt_shared_build", "bktjoin_", s"bktjoin:v2:$Buckets:",
      "orders.parquet", "lineitem.parquet") { (s, base) =>
    val ds = base.getFileName.toString.stripPrefix("bktjoin_")
    val oTbl = s"graft_bkt_orders_$ds"
    val lTbl = s"graft_bkt_lineitem_$ds"
    Materialized.registerBucketed(s, oTbl, base.resolve("orders"),
      "o_orderkey", Buckets)
    Materialized.registerBucketed(s, lTbl, base.resolve("lineitem"),
      "l_orderkey", Buckets)
    (s.table(oTbl), s.table(lTbl))
  } { (s, d, staging) =>
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val oTmp = s"graft_build_bo_$attempt"
    val lTmp = s"graft_build_bl_$attempt"
    try {
      T(s, d, "orders")
        .write.mode("overwrite").bucketBy(Buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", staging.resolve("orders").toString)
        .saveAsTable(oTmp)
      T(s, d, "lineitem")
        .write.mode("overwrite").bucketBy(Buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", staging.resolve("lineitem").toString)
        .saveAsTable(lTmp)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $oTmp")
      s.sql(s"DROP TABLE IF EXISTS $lTmp")
    }
  }

  /** The zero-exchange join itself: both sides read bucket-aligned, the
    * only shuffle is the final tiny aggregation. Quantities are exact
    * integers (l_quantity is integral in this schema), so the rollup is
    * hash-checkable.
    */
  private val joinBucketed: Q = (s, d) => {
    val (o, l) = bucketedFacts(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("qty_sum"))
  }

  val queries: Map[String, Q] = Map(
    "join_bucketed" -> joinBucketed)

  val oracles: Map[String, String] = Map(
    // the layout is plumbing — the oracle is the plain join
    "join_bucketed" ->
      """SELECT o_orderstatus, l_returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin)
}
