package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._
import graft.Tables.{load => T}

/** Similarity search over the `embeddings` table (north-star Ext2).
  *
  * Two paths:
  *  - `sim_topk_bruteforce`: exact cosine top-k for a bounded query set.
  *    The query side is tiny and broadcast, so the big side streams through
  *    a map-side join with no shuffle of the corpus; top-k per query is one
  *    window shuffle on the (small) joined result. At 100 TB the corpus
  *    scan is embarrassingly parallel.
  *  - `sim_ann_lsh`: random-hyperplane (sign) LSH — corpus is bucketed by a
  *    deterministic bit signature, queries probe only their own bucket
  *    (plus the exact-rerank inside it). Sub-linear candidate set at scale;
  *    recall is measured against brute force in the scalatest suite rather
  *    than oracle-matched (the hyperplane construction is not
  *    SQL-expressible in DuckDB).
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  private val NQueries = 10

  /** Exact brute-force cosine top-k for vec_id < NQueries. Norms are
    * precomputed once per vector; the per-pair work is one dot product.
    */
  private val bruteforce: Q = (s, d) => {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val joined = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        (round(col("sim"), 4) + lit(0.0)).as("sim"))
  }

  private val Tables = 6 // hash tables (L)
  private val PlanesPerTable = 4 // hyperplanes per table (m)
  private val Dims = 64

  /** Deterministic pseudo-random hyperplanes (table t, plane p,
    * component d): a seeded hash folded to [-1, 1] — reproducible across
    * runs and cluster layouts, no driver-side randomness to ship.
    */
  private def planeComponent(t: Int, p: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3
      .productHash((t, p, d), seed = 42)
    (h.toDouble / Int.MaxValue)
  }

  /** The full plane tensor [table][plane][dim], shipped to executors as a
    * referenced object inside [[graft.functions.SignLshBuckets]].
    */
  private lazy val planeTensor: Array[Array[Array[Double]]] =
    Array.tabulate(Tables, PlanesPerTable, Dims)(planeComponent)

  /** ANN via multi-table sign-LSH: each vector lands in one bucket per
    * hash table; candidates = corpus vectors sharing *any* table's bucket
    * with the query (union over L tables — the standard recall amplifier:
    * a true neighbor is missed only if it differs in every table).
    * Exact cosine rerank inside the candidate set. The corpus side is an
    * equi-join on (table, bucket) — sub-linear candidates at scale, no
    * all-pairs product. Recall vs brute force is pinned in
    * DedupSimilaritySpec, and since round 12 the face is HASH-CHECKED:
    * the oracle embeds the [[planeTensor]] as deterministic double
    * literals (shortest-roundtrip `toString`), so the whole bucketing +
    * rerank reproduces in DuckDB.
    */
  private val annLsh: Q = (s, d) => {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val bucketed = e.select(col("vec_id"), col("v"),
      posexplode(graft.functions.VectorExpressions
        .sign_lsh_buckets(col("v"), planeTensor)).as(Seq("t", "bucket")))
    val q = bucketed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("t"),
        col("bucket"))
    // dedup the candidate union on ids only (never shuffle the vectors as
    // grouping keys), then re-attach vectors for the exact rerank
    val candidateIds = bucketed.select(col("vec_id"), col("t"), col("bucket"))
      .join(broadcast(q.select(col("q_id"), col("t"), col("bucket"))),
        Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct() // union over tables
    val candidates = candidateIds
      .join(e, Seq("vec_id"))
      .join(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))),
        Seq("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    candidates.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        (round(col("sim"), 4) + lit(0.0)).as("sim"))
  }

  /** Same exact top-k, computed with the typed bounded-top-k Aggregator
    * instead of a window: partitions reduce to ≤ k candidates before the
    * shuffle (map-side combine), so the exchange never carries the whole
    * corpus per query. Must produce byte-identical output to
    * `sim_topk_bruteforce` — it shares that oracle.
    */
  private val bruteforceAgg: Q = (s, d) => {
    import s.implicits._
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v")).as("sim"))
      .as[(Long, Long, Double)]
    val topk = new graft.functions.TopKAggregator(K).toColumn
    scored.groupByKey(_._1)
      .mapValues { case (_, id, sim) => (sim, id) }
      .agg(topk.name("topk"))
      .flatMap { case (qId, items) =>
        items.zipWithIndex.map { case ((sim, id), i) =>
          (qId, id, (i + 1).toLong, sim)
        }
      }
      .toDF("q_id", "neighbor_id", "rank", "sim")
      .withColumn("sim", round(col("sim"), 4) + lit(0.0))
  }

  /** MAXIMUM INNER-PRODUCT SEARCH (MIPS) — the recommender/retrieval
    * scoring the cosine faces deliberately normalize away: `argmax
    * ⟨q, x⟩` favors large-MAGNITUDE items (a two-tower model's item
    * popularity lives in the norm), so its ranking genuinely differs
    * from cosine's. Computed as exact integers on the registry's
    * 1e3-quantized elements (`Σ round(1000·qᵢ)·round(1000·xᵢ)`, one
    * codegen'd zip_with/aggregate pair — no float summation order to
    * diverge), so the scores themselves are hash-checked, not just the
    * ranking. Brute force is the oracle-checkable face; at scale MIPS
    * reduces to cosine ANN by the standard norm augmentation
    * (Bachrach et al. 2014: append `√(M²−‖x‖²)` to items, 0 to
    * queries) and rides the IVF/PQ indexes above.
    *
    * Scale shape: same as `sim_topk_bruteforce` — queries broadcast
    * (allowlisted ≤[[NQueries]]-row build side), corpus scanned once,
    * per-query top-k through one window on the candidate set.
    */
  private val mips: Q = (s, d) => mipsOn(T(s, d, "embeddings"))

  /** The MIPS body on an arbitrary `(vec_id, embedding)` frame — split
    * out so the magnitude-vs-angle semantics are testable on literal
    * vectors.
    */
  private[graft] def mipsOn(emb: DataFrame): DataFrame = {
    val qz = expr("transform(embedding, x -> " +
      "CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
    val e = emb.select(col("vec_id"), qz.as("v"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), expr(
        "aggregate(zip_with(qv, v, (a, b) -> a * b), 0L, (acc, p) -> acc + p)")
        .as("score_scaled"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_scaled").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("score_scaled"))
  }

  /** SQ code width: 8-bit codes over the per-dim range — FAISS's SQ8. */
  private val SqLevels = 255L

  /** SCALAR-QUANTIZATION ANN (SQ8) — the third codec next to IVF's
    * pruning and PQ's subspace codebooks, and the simplest of FAISS's
    * workhorses: per DIMENSION, the corpus min/max define a linear
    * 8-bit grid; each vector stores one byte per dim — 8× more bytes
    * than PQ's 8-byte code, but the grid is per-dimension where PQ's
    * codebook entries cover 8-dim sub-blocks, so SQ8 loses far less
    * (measured 49/50 vs 23/50 recall@5) and decode is a multiply — no
    * codebook lookup. Scoring is asymmetric like ADC: the query's
    * exact elements against the candidates' DEQUANTIZED grid points.
    *
    * Exactness discipline: elements quantize to the registry's 1e3
    * integers FIRST, so the trained ranges, the codes
    * `((x−mn)·255) div (mx−mn)`, the dequantized points
    * `mn + (c·(mx−mn)) div 255`, and the final scores Σ q·dec are ALL
    * int64 with floor division on nonnegative operands only — the
    * whole trained structure hash-checks cross-engine, codes included
    * (the PQ precedent; a float-grid SQ would diverge in the last
    * ulp).
    *
    * Scale shape: training is one (dim)-keyed min/max aggregation (64
    * rows, broadcast back); encoding and scoring are dim equi-joins
    * with map-side-combinable sums — O(n·dims), no all-pairs anywhere;
    * the query side is the allowlisted ≤[[NQueries]]-row broadcast.
    */
  private[graft] def sqElements(emb: DataFrame): DataFrame = emb
    .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
    .select(col("vec_id"), col("i").cast("long").as("i"),
      round(col("e").cast("double") * lit(1000d)).cast("long").as("xq"))

  private val annSq: Q = (s, d) => {
    val el = sqElements(T(s, d, "embeddings"))
    val ranges = el.groupBy(col("i"))
      .agg(min(col("xq")).as("mn"), max(col("xq")).as("mx"))
    val dec = el.join(broadcast(ranges), Seq("i"))
      .select(col("vec_id"), col("i"),
        expr(s"""CASE WHEN mx > mn
                 | THEN mn + ((((xq - mn) * $SqLevels) div (mx - mn))
                 |   * (mx - mn)) div $SqLevels
                 | ELSE mn END""".stripMargin).as("dx"))
    val q = el.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("i"), col("xq").as("qx"))
    val scored = dec.join(broadcast(q), Seq("i"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("qx") * col("dx")).as("score_scaled"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_scaled").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("score_scaled"))
  }

  /** SQ compression-loss report — recall@[[K]] of the SQ8 ranking
    * against the EXACT integer inner-product ranking (`sim_mips`, the
    * right reference for a raw-vector codec: both rank by dot, so the
    * diff isolates the 8-bit grid's loss, not a metric mismatch). The
    * `sim_pq_recall` discipline: codec quality is a hash gate, not a
    * dashboard.
    */
  private val sqRecall: Q = (s, d) => {
    val exact = mips(s, d).select(col("q_id"), col("neighbor_id"))
    val sq = annSq(s, d)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(sq, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
  }

  /** Histogram width of the drift monitor: 10 equal-width bins over
    * each dimension's observed range — the PSI convention.
    */
  private[graft] val DriftBuckets = 10L

  /** EMBEDDING DRIFT MONITOR — per-DIMENSION distribution shift
    * between two slices of the corpus (vec_id parity — the registry's
    * deterministic stand-in for "yesterday's index batch vs today's"):
    * the check a production vector pipeline runs before trusting a new
    * encoder export or a re-embedded shard, because ANN indexes
    * trained on one distribution degrade silently when fed another
    * (the `dq_schema_drift` idiom applied to the vector column).
    *
    * Each dimension quantizes to the registry's 1e3 integers, bins
    * into [[DriftBuckets]] equal-width buckets of its OWN observed
    * range (`(xq−mn)·B div (mx−mn+1)` — exact, in [0, B), degenerate
    * constant dims land wholly in bucket 0), and the two slices'
    * bucket histograms compare by the CROSS-MULTIPLIED L1 statistic
    * `Σ_b |n_a(b)·N_b − n_b(b)·N_a|` = 2·N_a·N_b·TVD — total-variation
    * distance with the divisions cleared, so the whole report is
    * exact int64 and hash-checks cross-engine (PSI's per-bucket `ln`
    * would put a libm call between the engines — the reason BM25 uses
    * the odds ratio). TVD itself is the consumer's one division,
    * `l1_x_scaled / (2·n_a·n_b)` — the [[GraphOps]] modularity
    * protocol. int64 holds while N_a·N_b·2·B < 9.2e18 (≈ 6.8e8
    * vectors a slice); past that, the same report in DECIMAL(38,0).
    *
    * Scale shape: one posexplode scan (n·64 rows), the per-dim range
    * a 64-row broadcast, counts collapse map-side to ≤ 64·B·2 rows —
    * nothing downstream of the scan is corpus-sized.
    */
  private val embedDrift: Q = (s, d) => {
    val el = sqElements(T(s, d, "embeddings"))
    val ranges = el.groupBy(col("i"))
      .agg(min(col("xq")).as("mn"), max(col("xq")).as("mx"))
    val counts = el.join(broadcast(ranges), Seq("i"))
      .withColumn("bucket",
        expr(s"((xq - mn) * $DriftBuckets) div (mx - mn + 1)"))
      .groupBy(col("i"), col("bucket"))
      .agg(sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L))
        .as("n_a"),
        sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L).otherwise(0L))
          .as("n_b"))
    val totals = counts.groupBy(col("i"))
      .agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    counts.join(totals, Seq("i"))
      .withColumn("contrib",
        abs(col("n_a") * col("tb") - col("n_b") * col("ta")))
      .groupBy(col("i"))
      .agg(min(col("ta")).as("n_a_total"), min(col("tb")).as("n_b_total"),
        sum(col("contrib")).as("l1_x_scaled"),
        max(col("contrib")).as("max_bucket_contrib"))
  }

  // private[graft]: the streaming index-IVM oracle interpolates both
  // constants into its SQL, so a knob change can never desynchronize
  // face and oracle (the CepWindow/OrdBase shared-constant discipline)
  private[graft] val IvfSeedStep = 31 // every 31st vector seeds a list: C ≈ n/31

  /** Centroid-count cap: the quantizer takes the FIRST [[IvfCentroidCap]]
    * stride seeds, so C = min(n/[[IvfSeedStep]], cap) — without it C
    * grows with the corpus and every n×C assignment/probe pass is
    * quadratic/31 (the 100× rung's real cost); production IVF pins C
    * (FAISS nlist) for exactly this reason. Both gate SFs sit far
    * under the cap (C = 17 and 65), so capping changes nothing the
    * oracle checks — it bounds what a bigger corpus pays.
    */
  private[graft] val IvfCentroidCap = 2048L

  private val NProbe = 4

  /** ANN via IVF-flat: a coarse quantizer partitions the corpus into
    * inverted lists; queries probe only the `NProbe` nearest lists and
    * exact-rerank inside them — the second classic scale path next to
    * [[annLsh]] (sub-linear candidates, equi-join on the list id).
    *
    * The quantizer is trained IN Spark, deterministically: seed
    * centroids are every `IvfSeedStep`-th vector (the sampled-init every
    * k-means starts from, with a fixed instead of random sample), then
    * ONE distributed Lloyd iteration refines them — assignment is a
    * broadcast-join argmin (`min_by`), the update is a posexplode →
    * per-(list, dim) average → re-assembled centroid arrays. No driver
    * loops, no randomness to ship; every stage is a shuffle-bounded
    * DataFrame op. Recall vs brute force is pinned in StreamingTopKSpec's
    * sibling (SimilaritySpec section of DedupSimilaritySpec); the DuckDB
    * oracle replays the same deterministic construction (seeded init +
    * one unrolled Lloyd round), so the gate hash-checks it end to end.
    */
  /** Assign each (vec_id, v) row its nearest centroid id. Tie-break on
    * equal distance is the SMALLEST cid (min over (d2, cid) structs) —
    * explicit and deterministic, matching the streaming per-row argmin
    * in [[graft.streaming.StreamingTopK.topKIvf]]; `min_by` would leave
    * ties to aggregation encounter order.
    */
  private def nearestCentroid(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // The argmin is a HIGHER-ORDER FOLD over the broadcast centroid
    // ARRAY, not a row product: the previous `crossJoin +
    // min(struct(d2, cid))` materialized n×C rows and — because a
    // struct min is not hash-aggregable — SORT-aggregated them (a full
    // sort of 409M rows per Lloyd pass at the 100× rung, the dominant
    // build cost). Collapsing the centroids to ONE broadcast row
    // carrying the (cid, cv, cn2) array and taking
    // `array_min(transform(...))` per vector emits ONE row per vector
    // with ZERO shuffle for the assignment; the centroid self-dot is
    // computed once per centroid on the build side. `array_min` on the
    // (d2, cid) struct is the lexicographic (d2 asc, cid asc) compare
    // — the exact argmin + tie-break the struct-min computed, on the
    // same doubles, so the winner is bit-identical.
    val centRow = cents
      .select(struct(col("cid"),
        dot(col("cv"), col("cv")).as("cn2"), col("cv")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cs"))
    vecs.crossJoin(broadcast(centRow))
      .select(col("vec_id"),
        array_min(transform(col("cs"), c =>
          struct((c.getField("cn2")
            - lit(2) * dot(col("v"), c.getField("cv"))).as("d2"),
            c.getField("cid").as("cid"))))
          .getField("cid").as("cid"))
  }

  /** The trained IVF model as reusable DataFrames — shared between the
    * batch query and the STREAMING IVF top-k
    * ([[graft.streaming.StreamingTopK.topKIvf]]): `corpus` (vec_id, v,
    * nrm — the ONE definition of the embedding projection both the
    * trainer and the index builder must share), `centroids` (cid, cv),
    * `probes` (q_id, cid — the NProbe nearest lists per query) and
    * `queries` (q_id, qv, qn).
    */
  /** The TRAINED index as a published [[SharedArtifacts]] artifact:
    * `centroids` (cid, cv) and the inverted `lists` (vec_id, cid),
    * keyed by the embeddings table's content fingerprint. Training runs
    * ONCE per (dataset, content version) — every later invocation, in
    * any session or process, adopts the files: an ANN index at 100 TB
    * is maintained infrastructure, not a per-query recomputation. The
    * inverted lists are re-derived from the WRITTEN centroids, so index
    * and quantizer can never drift. The layout tag (seed stride +
    * algorithm version) keeps a parameter change from adopting an index
    * trained under the old shape.
    */
  private[graft] lazy val ivfArtifacts = Materialized.shared(
      "ivf_shared_build", "ivf_", s"ivf:v2:seed$IvfSeedStep:cap$IvfCentroidCap",
      "embeddings.parquet")((s, base) =>
      (s.read.parquet(base.resolve("centroids").toString),
        s.read.parquet(base.resolve("lists").toString))) {
      (s, d, staging) =>
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    // stride-capped seeds + one Lloyd step ([[ivfTrainOn]]); the
    // inverted lists re-derive from the WRITTEN centroids, so index and
    // quantizer can never drift
    ivfTrainOn(e)
      .write.mode("overwrite").parquet(staging.resolve("centroids").toString)
    nearestCentroid(e, s.read.parquet(staging.resolve("centroids").toString))
      .write.mode("overwrite").parquet(staging.resolve("lists").toString)
  }

  /** Train the IVF quantizer on an arbitrary `(vec_id, v)` frame —
    * stride-capped seeds + one Lloyd step, the exact construction
    * [[ivfArtifacts]] inlines — exposed `private[graft]` so the
    * maintained-index replay face (`sim_index_ivm`) trains on the
    * RESIDENT corpus and freezes the result for streamed arrivals.
    */
  private[graft] def ivfTrainOn(e: DataFrame): DataFrame = {
    val seeds = e.filter(pmod(col("vec_id"), lit(IvfSeedStep)) === 0 &&
        col("vec_id") < IvfSeedStep.toLong * IvfCentroidCap)
      .select((col("vec_id") / IvfSeedStep).cast("int").as("cid"),
        col("v").as("cv"))
    val assign0 = nearestCentroid(e, seeds).join(e, Seq("vec_id"))
    assign0
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cid"), expr("transform(dm, p -> p.m)").as("cv"))
  }

  /** Assign `(vec_id, v)` rows to their nearest centroid — the
    * [[nearestCentroid]] argmin, exposed for the maintained-index
    * replay's per-batch assignment against the frozen quantizer.
    */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    nearestCentroid(e, cents)

  def ivfModel(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val (centroids, _) = ivfArtifacts(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("d2",
        dot(col("cv"), col("cv")) - lit(2) * dot(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("pr") <= NProbe)
      .select(col("q_id"), col("cid"))
    (e, centroids, probes, q)
  }

  private val annIvf: Q = (s, d) => {
    val (e, _, probes, q) = ivfModel(s, d)
    val lists = ivfArtifacts(s, d)._2 // (vec_id, cid): inverted index
    val candidates = lists
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .join(e, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    candidates.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        (round(col("sim"), 4) + lit(0.0)).as("sim"))
  }

  /** ANN QUALITY REPORT — recall@[[K]] of the IVF index against the
    * exact brute-force ranking, per query: the measure-don't-guess
    * number an index rollout gates on (probe counts and list sizes are
    * tuned against exactly this curve). Both sides are the registry's
    * own deterministic rankings, so the report is itself
    * hash-checkable — a recall regression in either index flips an
    * integer and fails the gate, turning index quality into a
    * correctness invariant rather than a dashboard.
    *
    * Scale shape: two top-k frames of NQueries·K rows joined on the
    * pair key — negligible next to the indexes it audits.
    */
  private val annRecall: Q = (s, d) => {
    val bf = bruteforce(s, d).select(col("q_id"), col("neighbor_id"))
    val iv = annIvf(s, d)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    bf.join(iv, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
  }

  /** Probe budgets swept by [[annTradeoff]]. */
  private val ProbeBudgets = Seq(1L, 2L, 4L, 8L)

  /** THE RECALL-vs-NPROBE TUNING CURVE — [[annRecall]] swept over probe
    * budgets in one report: recall@[[K]] of the IVF ranking at
    * nprobe ∈ {1, 2, 4, 8}, the exact trade an index operator tunes
    * (probe more lists → scan more candidates → recall climbs toward
    * brute force). Because candidate sets NEST as the budget grows and
    * brute-force sims are global, recall is provably MONOTONE
    * non-decreasing in nprobe — a structural invariant the spec pins
    * and the hash gate freezes; the nprobe=4 row must equal
    * `sim_ann_recall`'s totals (same configuration, cross-checked).
    *
    * Scale shape: one probe ranking against the broadcast centroid
    * table (the inherited allowlisted scalar pattern), budgets fan out
    * by explode on the probe rows (≤ max-budget rows per query), and
    * all four top-k rankings share ONE window pass partitioned by
    * (nprobe, q_id) — the sweep costs one candidate-scoring pass over
    * the union, not four pipelines.
    */
  private val annTradeoff: Q = (s, d) => {
    val (e, centroids, _, q) = ivfModel(s, d)
    val probesR = q.crossJoin(broadcast(centroids))
      .withColumn("d2",
        dot(col("cv"), col("cv")) - lit(2) * dot(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("pr") <= ProbeBudgets.max)
      .withColumn("nprobe",
        explode(array(ProbeBudgets.map(lit(_)): _*)))
      .filter(col("pr") <= col("nprobe"))
      .select(col("nprobe"), col("q_id"), col("cid"))
    val lists = ivfArtifacts(s, d)._2
    val candidates = lists.join(broadcast(probesR), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("nprobe"), col("q_id"), col("vec_id"))
      .join(e, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val topk = candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("nprobe"), col("q_id"), col("vec_id").as("neighbor_id"),
        lit(1L).as("hit"))
    val bf = bruteforce(s, d).select(col("q_id"), col("neighbor_id"))
      .withColumn("nprobe", explode(array(ProbeBudgets.map(lit(_)): _*)))
    bf.join(topk, Seq("nprobe", "q_id", "neighbor_id"), "left")
      .groupBy(col("nprobe"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("n_possible"))
      .withColumn("recall_bp", expr("n_hits * 10000 div n_possible"))
  }

  /** [[annRecall]]'s PQ twin — recall@[[K]] of the ADC ranking vs brute
    * force: the compression loss number (how much the 2-bit codes cost
    * against exact cosine), next to the IVF report's pruning loss.
    */
  private val pqRecall: Q = (s, d) => {
    val bf = bruteforce(s, d).select(col("q_id"), col("neighbor_id"))
    val pq = annPq(s, d)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    bf.join(pq, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
  }

  private val PqSubspaces = 8 // 64 dims = 8 subspaces × 8 dims
  private val PqSubDim = 8
  private val PqK = 256 // centroids per subspace codebook (8-bit codes)
  private val PqSeedStep = 1 // seeds: the first PqK vectors' sub-blocks
  private val PqIters = 4 // Lloyd refinement rounds per subspace

  /** PRODUCT-QUANTIZATION ANN — the other half of the FAISS-standard
    * IVF+PQ pairing (`sim_ann_ivf` prunes WHICH vectors to score; PQ
    * compresses HOW each candidate is scored): every vector encodes as
    * [[PqSubspaces]] codebook ids (8 subspaces × 8-bit codes — a
    * 64-dim float vector in 8 bytes, FAISS's production PQ8 shape),
    * and a query scores candidates via its
    * per-subspace distance TABLE — [[PqSubspaces]] integer lookups per
    * candidate instead of a 64-dim dot product, the asymmetric-distance
    * (ADC) trick. Codebooks start from the deterministic seed rule
    * (the first [[PqK]] vectors' sub-blocks — stride [[PqSeedStep]],
    * the IVF seeding discipline with the stride collapsed so K = 256
    * seeds exist at every test SF) and are then LLOYD-REFINED for
    * [[PqIters]] rounds per subspace —
    * assignment is the usual integer-d2 argmin, and the centroid
    * update is the round-half-away-from-zero INTEGER mean
    * `sign(s)·((2|s|+n) div 2n)` (sign-split so Spark's truncating
    * `div` and DuckDB's flooring `//` see only positive numerators),
    * with empty clusters inheriting their previous centroid — so the
    * trained codebook is still exact integers. EVERYTHING stays
    * integer on the 1e3-quantized elements — subspace distances peak
    * at 8·(2e3)² ≈ 3.2e7, ADC sums < 3e8 — so encode, tables, and
    * ranking are bit-identical on any engine, and the DuckDB oracle
    * hash-checks the whole TRAINED structure, unrolled Lloyd rounds
    * included (every ANN face is hash-checked; LSH graduated via its
    * hyperplane-literal oracle).
    *
    * Scale shape: encoding is one broadcast (≤ K·M-row array codebook)
    * join on the subspace id + a codegen'd `zip_with` distance fold
    * per (vector, subspace, centroid) row, argmin as a map-side-
    * combinable `min(struct(d2, k))`; the query tables broadcast; ADC
    * is a broadcast equi-join on (m, k) collapsing to (query,
    * candidate) sums. At corpus scale the codes table IS the index —
    * 8 bytes a vector (8 subspaces × 8-bit codes) — and the candidate
    * set comes from the IVF lists, identical joins.
    */
  private val annPq: Q = (s, d) => {
    val (codes, dt) = pqModelCached(s, d)
    adcRank(codes, dt)
  }

  /** The quantized sub-block stream `(vec_id, m, xs)` every PQ stage
    * consumes: one row per (vector, subspace) carrying the subspace's
    * [[PqSubDim]] quantized coordinates as an array — NOT one row per
    * scalar element. The array shape is what keeps every distance pass
    * a per-row `zip_with`/`aggregate` fold in whole-stage codegen
    * instead of a (vector × subspace × dim)-row join: the same integer
    * values flow, 1/[[PqSubDim]]th the rows shuffle.
    */
  private def pqBlocks(emb: DataFrame): DataFrame = {
    val xCols = (0 until PqSubDim).map(j =>
      round(expr(s"cast(embedding[m * $PqSubDim + $j] as double)") *
        lit(1000d)).cast("long").as(s"x$j"))
    emb.select(col("vec_id"),
        explode(expr(s"sequence(0L, ${PqSubspaces - 1}L)")).as("m"),
        col("embedding"))
      .select(col("vec_id") +: col("m") +: xCols: _*)
  }

  /** Reshape a trained codebook `(k, m, j, cx)` to one row per centroid
    * `(m, k, cx0..cx${PqSubDim-1})` — the broadcast side of every
    * block-shaped distance pass. The when-pivot per fixed `j` is exact
    * (j unique per centroid), no collect/sort needed.
    */
  private def cbBlocks(cb: DataFrame): DataFrame = cb
    .groupBy(col("m"), col("k"))
    .agg(
      max(when(col("j") === 0, col("cx"))).as("cx0"),
      (1 until PqSubDim).map(j =>
        max(when(col("j") === j, col("cx"))).as(s"cx$j")): _*)

  /** Exact integer subspace distances `(vec_id, m, k, d2)`: one
    * broadcast join on the subspace id fans each block out to the ≤
    * [[PqK]] centroids of its subspace, and the squared distance is a
    * flat `Σ (xj − cxj)²` over scalar columns — pure whole-stage-
    * codegen arithmetic, no element rows, no array allocation.
    */
  private def pqSub2(blocks: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = (0 until PqSubDim).map { j =>
      (col(s"x$j") - col(s"cx$j")) * (col(s"x$j") - col(s"cx$j"))
    }.reduce(_ + _)
    blocks.join(broadcast(cbBlocks(cb)), Seq("m"))
      .select(col("vec_id"), col("m"), col("k"), d2.as("d2"))
  }

  /** Nearest-centroid assignment `(vec_id, m, k)` by exact integer d2,
    * ties → smallest k (the registry-wide rule), as a HIGHER-ORDER FOLD
    * over the broadcast per-subspace codebook ARRAY: `min(struct(d2,
    * k))` is not hash-aggregable, so the previous groupBy planned a
    * SortAggregate — a full sort of the (vector, subspace, centroid)
    * row product (819M rows at the 100× rung, the dominant encode
    * cost). Collapsing each subspace's ≤ [[PqK]] centroids into one
    * array row turns the encode into a 16-row broadcast hash join plus
    * one codegen'd `array_min(transform(...))` per BLOCK row — n·M rows
    * total, zero argmin shuffle. The (d2, k) struct compare is the same
    * lexicographic order on the same exact integers, so the winner is
    * identical.
    */
  private def pqAssign(blocks: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cbBlocks(cb)
      .select(col("m"), struct(
        (col("k") +: (0 until PqSubDim).map(j => col(s"cx$j"))): _*).as("c"))
      .groupBy(col("m"))
      .agg(array_sort(collect_list(col("c"))).as("cs"))
    def d2(c: Column): Column = (0 until PqSubDim).map { j =>
      (col(s"x$j") - c.getField(s"cx$j")) *
        (col(s"x$j") - c.getField(s"cx$j"))
    }.reduce(_ + _)
    // (d2, k) packs into ONE long — d2 ≤ 8·(2e3)² ≈ 3.2e7 exact
    // integers, k < PqK — so `d2·PqK + k` orders exactly like the
    // lexicographic struct and the fold allocates NO per-element
    // structs (higher-order lambdas evaluate interpreted — a struct
    // per (row, centroid) was the measured small-SF cost of the first
    // fold shape). argmin(enc) decodes back to k by modulus.
    blocks.join(broadcast(cbArr), Seq("m"))
      .select(col("vec_id"), col("m"),
        pmod(array_min(transform(col("cs"), c =>
          d2(c) * lit(PqK.toLong) + c.getField("k"))), lit(PqK.toLong))
          .as("k"))
  }

  /** Lloyd training-sample cap: codebooks train on the first
    * [[PqTrainCap]] vectors only — the FAISS discipline (k-means on a
    * bounded sample, encode the corpus with the frozen result), which
    * makes training cost CORPUS-INDEPENDENT: without the cap the 30×
    * rung measured 374 s of build, almost all of it K = 256 Lloyd
    * passes over every vector. Both gate SFs hold ≤ [[PqTrainCap]]
    * vectors, so the cap changes nothing the oracle checks — it only
    * bounds what a bigger corpus pays. (The deterministic id-prefix
    * rule keeps the sample a pure SQL function of the table.)
    */
  private val PqTrainCap = 2000L

  /** Train the per-subspace codebooks: stride seeds, then [[PqIters]]
    * integer Lloyd rounds ([[pqLloydStep]]) over the capped training
    * sample.
    */
  private def pqTrain(blocks: DataFrame, seedStep: Int): DataFrame = {
    val train = blocks.filter(col("vec_id") < PqTrainCap)
    val cb0 = train.filter(col("vec_id") % seedStep === 0 &&
        col("vec_id") < PqK.toLong * seedStep)
      .select((col("vec_id") / seedStep).cast("long").as("k"),
        col("m"), posexplode(array((0 until PqSubDim).map(j =>
          col(s"x$j")): _*)))
      .select(col("k"), col("m"), col("pos").cast("long").as("j"),
        col("col").as("cx"))
    // each round's ≤ K·M·PqSubDim-row codebook MATERIALIZES before the
    // next round reads it (twice: distance pass + empty-cluster join) —
    // without the cut, the unrolled foldLeft doubles the lineage per
    // round, so round N re-optimizes and re-executes ~2^N copies of
    // round 1 (measured: the 49 s artifact build was mostly this; the
    // checkpoint drops it to seconds). Values are exact integers, so
    // materializing changes nothing the oracle hashes.
    (1 to PqIters).foldLeft(cb0)((c, _) =>
      pqLloydStep(train, c).localCheckpoint(true))
  }

  /** The PQ model pieces given a trained codebook: per-vector codes
    * `(vec_id, m, k)` and the queries' ADC distance tables
    * `(q_id, m, k, d2)`.
    */
  private def pqFromCodebook(blocks: DataFrame, cb: DataFrame)
      : (DataFrame, DataFrame) = {
    // encode: the O(n·K) pass touches only block rows — argmin folds
    // map-side, the full distance table materializes for QUERIES only
    val codes = pqAssign(blocks, cb)
    val dt = pqSub2(blocks.filter(col("vec_id") < NQueries), cb)
      .select(col("vec_id").as("q_id"), col("m"), col("k"), col("d2"))
    (codes, dt)
  }

  /** The SHARED TRAINED CODEBOOK artifact — Lloyd training is a pure
    * function of the embeddings table and the PQ parameters, so it runs
    * once per dataset version (layout key pins K/stride/iters/subspace
    * geometry — a parameter change can never adopt a stale codebook)
    * and every PQ face adopts the ≤ K·M·[[PqSubDim]]-row parquet. This
    * is also what made Lloyd refinement affordable: training inline put
    * 2 argmin+mean rounds into EVERY downstream query's lineage
    * (measured 1.4 → 5.8 s per PQ bench entry); the artifact restores
    * flat per-query cost and is the production shape — train once,
    * encode once, query with frozen codes. The artifact holds all
    * three derived tables (`cb`, per-vector `codes`, query ADC `dt`),
    * so query faces never touch raw vectors.
    */
  private[graft] lazy val pqCodebook = Materialized.shared("pq_shared_build",
      "pqcb_", s"pqcb:v3:K$PqK:step$PqSeedStep:it$PqIters:tc$PqTrainCap:" +
        s"m$PqSubspaces:j$PqSubDim", "embeddings.parquet")(
      Materialized.dir) { (s, d, staging) =>
    // el feeds every Lloyd round's assignment AND sums, plus the encode
    // pass — pin it once for the build instead of re-exploding the
    // embeddings per stage (and sub2 feeds both the codes and dt
    // writes, so the encode is pinned too). REPARTITION first: the
    // argmin is a per-row interpreted array fold, so a gate-SF table
    // that arrives as one parquet split would otherwise fold on ONE
    // core (measured 56 s for the sf0.1 build vs ~12 s spread) — one
    // bounded shuffle of the block rows buys full parallelism for all
    // five assignment passes
    val blocks = pqBlocks(T(s, d, "embeddings"))
      .repartition(s.sparkContext.defaultParallelism).persist()
    try {
      val cb = pqTrain(blocks, PqSeedStep)
      cb.write.mode("overwrite").parquet(staging.resolve("cb").toString)
      val frozen = s.read.parquet(staging.resolve("cb").toString)
      val (codes, dt) = pqFromCodebook(blocks, frozen)
      codes.write.mode("overwrite")
        .parquet(staging.resolve("codes").toString)
      dt.write.mode("overwrite").parquet(staging.resolve("dt").toString)
    } finally blocks.unpersist()
  }

  /** Registry-face model: codes and query ADC tables adopted straight
    * from the shared artifact — at query time PQ touches no vectors at
    * all, the production contract ("the codes table IS the index").
    */
  private def pqModelCached(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val base = pqCodebook(s, d)
    (s.read.parquet(base.resolve("codes").toString),
      s.read.parquet(base.resolve("dt").toString))
  }

  /** One per-subspace Lloyd round on the QUANTIZED integer sub-blocks:
    * assign each (vector, subspace) block to its nearest centroid by
    * exact integer d2 (ties → smallest k, the registry-wide rule), then
    * move each centroid to the round-half-away-from-zero integer mean
    * of its members' coordinates. The sign split keeps every integer
    * division's numerator positive, where Spark's truncating `div` and
    * DuckDB's flooring `//` agree — the whole training loop stays
    * bit-identical cross-engine. A centroid with no members keeps its
    * previous coordinates (the left join's coalesce), so the codebook
    * never shrinks and `k` stays a stable code.
    *
    * Scale shape per round: one broadcast of the ≤ [[PqK]]·[[PqSubspaces]]
    * -row array codebook, the [[pqAssign]] codegen'd argmin (d2 folds
    * inside each row — no element rows, no per-group sort), one
    * (m, k, j)-keyed sum — O(n·K) compute, O(n) shuffle, same as
    * [[lloydStep]] but in exact integers.
    */
  private def pqLloydStep(blocks: DataFrame, cb: DataFrame): DataFrame = {
    val assign = pqAssign(blocks, cb)
    val means = assign.join(blocks, Seq("vec_id", "m"))
      .select(col("m"), col("k"), posexplode(array((0 until PqSubDim)
        .map(j => col(s"x$j")): _*)))
      .select(col("m"), col("k"), col("pos").cast("long").as("j"),
        col("col").as("x"))
      .groupBy(col("m"), col("k"), col("j"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("m"), col("k"), col("j"),
        when(col("s") >= 0, expr("(2*s + n) div (2*n)"))
          .otherwise(-expr("(2*(-s) + n) div (2*n)")).as("cm"))
    cb.join(means, Seq("m", "k", "j"), "left")
      .select(col("k"), col("m"), col("j"),
        coalesce(col("cm"), col("cx")).as("cx"))
  }

  /** IVF + PQ — the composition FAISS ships as its workhorse: the IVF
    * inverted lists prune WHICH candidates a query touches (probed
    * cells only, never the corpus), and PQ's ADC tables price each
    * survivor in [[PqSubspaces]] integer lookups instead of a full
    * 64-dim dot product. Both halves are this registry's own
    * hash-checked structures (`sim_ann_ivf` candidates, `sim_ann_pq`
    * codes/tables), composed by two equi-joins — so the full
    * production ANN shape is itself oracle-hash-checked end to end.
    *
    * Scale shape: candidates = lists ⋈ broadcast probes (cell-bounded
    * fan-out, the IVF contract); each candidate picks up its 8 code
    * rows by vec_id equi-join and its 8 table cells by broadcast
    * (q, m, k) equi-join; the sum collapses map-side. Nothing touches
    * vectors after the model builds.
    */
  private val annIvfPq: Q = (s, d) => {
    val (e, _, probes, _) = ivfModel(s, d)
    val lists = ivfArtifacts(s, d)._2
    val cand = lists.join(broadcast(probes.select(col("q_id"), col("cid"))),
        Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val (codes, dt) = pqModelCached(s, d)
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(dt), Seq("q_id", "m", "k"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_dist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("adc_dist"))
  }

  private[graft] def annPqOn(emb: DataFrame, seedStep: Int): DataFrame = {
    val blocks = pqBlocks(emb)
    val (codes, dt) = pqFromCodebook(blocks, pqTrain(blocks, seedStep))
    adcRank(codes, dt)
  }

  /** Exhaustive ADC ranking from model pieces: every code row meets the
    * query tables through the (m, k) equi-join — no candidate cross
    * product materializes.
    */
  private def adcRank(codes: DataFrame, dt: DataFrame): DataFrame = {
    val adc = codes.join(broadcast(dt), Seq("m", "k"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_dist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("adc_dist"))
  }

  private val KmIters = 3

  /** One Lloyd step: assign every vector to its nearest centroid, then
    * replace each centroid with the mean of its assigned vectors —
    * `(cid, cv)` in, `(cid, cv)` out. Shared by the IVF trainer (one
    * step) and [[kmeansMix]] (several). The update is a posexplode →
    * per-(cid, dim) average → re-assembled arrays: every stage a
    * shuffle-bounded DataFrame op, no driver math.
    */
  private def lloydStep(e: DataFrame, cents: DataFrame): DataFrame =
    nearestCentroid(e, cents).join(e, Seq("vec_id"))
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cid"), expr("transform(dm, p -> p.m)").as("cv"))

  /** Semantic clustering for data-mix analysis: deterministic k-means
    * (stride-sampled seeds, `KmIters` full Lloyd iterations) over the
    * embedding space, reported as the per-cluster composition a corpus
    * curator reads — members, dominant `label`, dominant-label count.
    * This is the "what's actually IN each semantic bucket" report that
    * drives sampling weights when the corpus mix is rebalanced (the
    * cluster-then-weight recipe behind semantic dedup/balancing).
    *
    * Everything discrete is deterministic: seeds are every
    * `IvfSeedStep`-th vector, the argmin tie-breaks on smallest cid, the
    * dominant label on (count desc, label asc). The continuous centroid
    * coordinates stay engine-internal; only integer counts and ids are
    * emitted, so the DuckDB oracle (the same pipeline as three unrolled
    * CTE rounds) hash-matches exactly — random 64-d distances are far
    * apart relative to cross-engine summation-order noise, the
    * [[ivfOracle]] precedent.
    *
    * Scale shape: per iteration, ONE broadcast of the centroid table and
    * a map-side-combinable argmin (the shuffle carries one row per
    * vector), then a (cid, dim)-keyed average — O(n·C·d) compute, O(n)
    * shuffle, no all-pairs product anywhere. Centroid count grows as
    * n/IvfSeedStep; at 100 TB the centroid table outgrows a broadcast
    * and the assignment becomes a bucketed equi-join on a coarse
    * pre-quantizer — the same evolution path as [[annIvf]].
    */
  /** The converged assignment `(vec_id, cid)` after `KmIters` Lloyd
    * iterations from the stride seeds — shared by [[kmeansMix]] and the
    * SemDeDup-style [[semanticDedup]].
    */
  private def kmeansAssign(e: DataFrame): DataFrame = {
    // same centroid-count cap as the IVF quantizer (production pins k;
    // both gate SFs sit far under it, so nothing hash-checked moves)
    val seeds = e.filter(pmod(col("vec_id"), lit(IvfSeedStep)) === 0 &&
        col("vec_id") < IvfSeedStep.toLong * IvfCentroidCap)
      .select((col("vec_id") / IvfSeedStep).cast("int").as("cid"),
        col("v").as("cv"))
    // PIN each round's centroid table (≤ IvfCentroidCap rows): a
    // broadcast exchange executes its child subplan, so an unpinned
    // round-k broadcast re-ran the ENTIRE round-(k−1) chain — Lloyd
    // cost grew quadratically in the round count (100× build 334 s
    // unpinned → ~220 s pinned, measured on an idle box; the residual
    // is the n×C assignment row volume itself, linear and capped.
    // localCheckpoint keeps the exact doubles, so nothing hash-checked
    // moves). Superseded rounds are released; the final table stays
    // pinned for the caller's write.
    val cents = (1 to KmIters).foldLeft(seeds) { (c, _) =>
      val next = Dedup.materialize(lloydStep(e, c))
      Dedup.releaseCheckpoint(c) // no-op on the lineage-only seed frame
      next
    }
    nearestCentroid(e, cents)
  }

  /** The shared K-MEANS ASSIGNMENT artifact: the converged
    * `(vec_id, cid)` labels of [[kmeansAssign]] — the expensive
    * multi-round Lloyd training, built once per dataset version and
    * adopted by [[kmeansMix]] and [[semanticDedup]] (which previously
    * each re-ran the full training: 2×~2.5 s at sf0.1 for one
    * deterministic result). Layout key pins the seed stride and
    * iteration count — a parameter change can never adopt stale labels.
    */
  private[graft] lazy val kmAssign = Materialized.shared("km_shared_build",
      "km_", s"km:v2:seed$IvfSeedStep:cap$IvfCentroidCap:it$KmIters",
      "embeddings.parquet")(Materialized.parquet("assign")) {
      (s, d, staging) =>
    kmeansAssign(T(s, d, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .write.mode("overwrite").parquet(staging.resolve("assign").toString)
  }

  private val kmeansMix: Q = (s, d) => {
    val emb = T(s, d, "embeddings")
    val af = kmAssign(s, d)
    val mix = af.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("n"))
    val byCid = Window.partitionBy(col("cid"))
    mix
      .withColumn("rn", row_number().over(
        byCid.orderBy(col("n").desc, col("label"))))
      .withColumn("n_members", sum(col("n")).over(byCid))
      .filter(col("rn") === 1)
      .select(col("cid").cast("long").as("cid"), col("n_members"),
        col("label").cast("long").as("top_label"),
        col("n").as("top_label_n"))
  }

  private val SemTau = 0.35 // within-cluster cosine drop threshold

  /** SemDeDup-style semantic dedup (Abbas et al. 2023's recipe,
    * re-expressed relationally): cluster the embedding space, then
    * compare pairs ONLY within a cluster and drop every doc that has a
    * more-canonical (lower-id) similar neighbor. Output is the DROP
    * list: `(drop_id, keep_id, n_similar)` with `keep_id` the smallest
    * similar lower-id cluster-mate (the greedy keep-first-seen
    * witness — a witness may itself be dropped further up its chain,
    * the standard greedy semantics) and `n_similar` the doc's total
    * similar lower-id witnesses.
    *
    * The whole point of clustering first is the join shape: all-pairs
    * is intractable at corpus scale, but within-cluster pairs are an
    * EQUI-JOIN on cid whose per-key fan-out is bounded by cluster size
    * (centroid count scales as n/IvfSeedStep, so mean cluster size
    * stays ~IvfSeedStep at any corpus) — compare [[Dedup]]'s
    * block-partitioned exact variant, which must touch every pair.
    * Threshold-compares on unrounded cosine are the hash-stable
    * precedent from `dedup_embedding_cosine`.
    */
  private val semanticDedup: Q = (s, d) => {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val m = kmAssign(s, d)
      .join(e.withColumn("nrm", norm2(col("v"))), Seq("vec_id"))
    val a = m.select(col("cid"), col("vec_id").as("a_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = m.select(col("cid"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cid")).filter(col("a_id") < col("b_id"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= SemTau)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("keep_id"), count(lit(1)).as("n_similar"))
      .select(col("b_id").as("drop_id"), col("keep_id"), col("n_similar"))
  }

  /** Int8 symmetric quantization of the embedding column — the standard
    * 4× compression before an ANN index ships: per-vector scale
    * 127/max|x|, element `floor(x · scale)`. Output is the per-vector
    * integer PROFILE (dim, sum, min, max of the quantized elements) so
    * the whole computation is hash-checked cross-engine in integer
    * arithmetic — the quantized array itself stays engine-internal (raw
    * array output stringifies differently per engine, [[Breadth]]'s
    * array_funcs precedent).
    *
    * Scale shape: map-side only — one scan, `transform`/`aggregate`
    * HOFs per row, zero shuffle; the all-zero-vector guard keeps the
    * scale finite.
    */
  private val quantize: Q = (s, d) => quantizeProfile(T(s, d, "embeddings"))

  /** The quantization body on an arbitrary `(vec_id, embedding)` frame —
    * split out so the zero-vector guard is testable with literal input
    * (the generated testdata has no all-zero embedding).
    */
  private[graft] def quantizeProfile(emb: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    emb
      .select(col("vec_id"), v.as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q",
        when(col("maxabs") === 0d,
          transform(col("v"), _ => lit(0L)))
        .otherwise(transform(col("v"),
          x => floor(x * (lit(127.0) / col("maxabs"))).cast("long"))))
      .select(col("vec_id"),
        size(col("q")).cast("long").as("dim"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
  }

  /** Upper-triangle covariance matrix of the embedding dimensions —
    * the one-pass statistic PCA/whitening/feature-correlation audits
    * start from. The raw second moments come from the SHARED
    * [[moments]] artifact (built once per dataset version); this query
    * is the d²/2-row arithmetic on top: the 64-row per-dimension sum
    * table broadcasts onto both triangle coordinates, one float
    * division and round at the end.
    *
    * Numerics: round-7 shipped this over raw double sums rounded to 6,
    * and the driver falsified the "rounding absorbs sum order" claim —
    * `Σxy/n − μᵢμⱼ` is catastrophic cancellation, so a last-ulp
    * difference in either engine's reduction order survives any fixed
    * rounding near a boundary. Fix = the in-repo `graph_pagerank` /
    * `embed_quantize` pattern: quantize each element to an exact
    * integer (`round(x·10⁶)`), sum products as DECIMAL(38,0) — an
    * ORDER-INDEPENDENT exact reduction — and form the covariance as
    * `(n·Σxy − Σx·Σy) / (n²·10¹²)` with exactly ONE float division at
    * the end. Both engines now reduce bit-identical integers; the
    * single cast + divide + round is deterministic IEEE arithmetic.
    * The declared semantic is covariance of the 1e-6-quantized
    * embeddings (within ~1e-6 of the float truth — fine for an audit
    * statistic, and exactly reproducible at any cluster size).
    */
  private val covariance: Q = (s, d) => {
    val (gram, sums) = moments(s, d)
    gram.join(broadcast(sums.select(col("i"), col("sx"))), Seq("i"))
      .join(broadcast(sums.select(col("i").as("j"), col("sx").as("sx_j"))),
        Seq("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (round(
          (col("n").cast("decimal(38,0)") * col("sxy") -
            col("sx") * col("sx_j")).cast("double") /
          (col("n").cast("double") * col("n").cast("double") * lit(1e12)),
          6) + lit(0.0)).as("cov"))
  }

  private val PowerIters = 3

  /** The shared integer-MOMENTS artifact: the exact second-moment
    * statistics of the 1e-6-quantized embedding corpus — the Gram
    * upper triangle `(i, j, Σqᵢqⱼ, n)` and the per-dimension sums
    * `(i, Σqᵢ, n)` — built once per dataset version (the only
    * corpus-sized pass any moment consumer needs) and adopted by
    * [[covariance]], [[pcaPowerCompute]], and [[embedProject]]: the
    * same train-once/consume-many protocol as the LSH signature and
    * IVF artifacts. DECIMAL(38,0) end to end, so every consumer's
    * arithmetic stays exact.
    */
  private lazy val moments = Materialized.shared("moments",
      "moments_", "moments:v1", "embeddings.parquet")((s, base) =>
      (s.read.parquet(base.resolve("gram").toString),
        s.read.parquet(base.resolve("sums").toString))) {
      (s, d, staging) =>
    val q = T(s, d, "embeddings").select(transform(col("embedding"),
      x => round(x.cast("double") * lit(1000000d)).cast("long")).as("q"))
    // upper triangle only (the matrix is symmetric): two chained
    // posexplode GENERATORS — codegen'd, not interpreted lambdas —
    // with map-side partial aggregation, so shuffle volume is
    // O(d²·tasks), corpus-size independent.
    // TWO-STAGE exactness: the hot loop (corpus·d²/2 multiplies)
    // accumulates per-INPUT-PARTITION partials in primitive LONGs —
    // |q| ≤ 1e6 ⟹ product ≤ 1e12, so a partition of P vectors
    // bounds the partial at P·1e12, overflow-safe to P ≈ 9e6 (a
    // 128 MB parquet split holds ~5e5 of these rows — 18× margin at
    // any corpus size, since P is per-split, not per-corpus). Only
    // the tiny d²·tasks-row merge runs in DECIMAL(38,0). Same exact
    // result as the previous all-decimal formulation; r10-measured
    // 7.1 → 5.7 s on the sf0.1 build slot (the remainder is the pca
    // derivation and parquet/publish constants, not the multiply).
    q.select(col("q"), posexplode(col("q")).as(Seq("i", "xv")))
      .select(col("i"), col("xv"),
        posexplode(col("q")).as(Seq("j", "yv")))
      .filter(col("j") >= col("i"))
      .groupBy(spark_partition_id().as("pid"), col("i"), col("j"))
      .agg(sum(col("xv") * col("yv")).as("psxy"),
        count(lit(1)).as("pn"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("psxy").cast("decimal(38,0)")).as("sxy"),
        sum(col("pn")).as("n"))
      .write.mode("overwrite").parquet(staging.resolve("gram").toString)
    q.select(posexplode(col("q")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(sum(col("v").cast("decimal(38,0)")).as("sx"),
        count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staging.resolve("sums").toString)
  }

  /** The moments artifact and the direction layered on it share one
    * bench item.
    */
  private[graft] lazy val momentsBuild = Materialized.together(
    "moments_shared_build")(Seq(moments, pcaDirection))

  /** Dominant principal direction of the embedding cloud by POWER
    * ITERATION on the exact integer second-moment matrix — the first
    * component PCA/whitening asks for, computed without ever collecting
    * the corpus: the only data-sized pass is the d²-cell Gram
    * accumulation (same chained-posexplode shape as [[covariance]],
    * full matrix rather than upper triangle); each of the
    * [[PowerIters]] iterations is a join of the d²-row matrix with the
    * d-row vector — constant-size work however many embeddings exist.
    *
    * Numerics: everything is EXACT integer arithmetic — 1e6-quantized
    * elements, DECIMAL(38,0)/HUGEINT sums, renormalization by
    * truncating integer division `(Mv·10⁶) DIV max|Mv|` (both engines
    * truncate toward zero, checked) — so the unrolled recurrence is
    * bit-reproducible and hash-checkable, the same discipline as
    * [[GraphOps]] pagerank. The second-moment (uncentered) operator is
    * PSD, so the dominant eigenvalue is nonnegative and the iteration
    * cannot sign-flip. Output: the direction scaled to max-component
    * 10⁶ after three rounds.
    */
  private val pcaPower: Q = (s, d) => pcaDirection(s, d)

  /** The direction artifact LAYERS on the moments artifact: the
    * power iteration is constant-size (d²-row joins) but still ~1.7 s
    * of plan overhead per call — materializing its 64-row result once
    * per dataset version turns both consumers into plain reads.
    */
  private lazy val pcaDirection = Materialized.shared("pca", "pca_",
      s"pca:v2:iters$PowerIters", "embeddings.parquet")(
      Materialized.parquet("direction")) { (s, d, staging) =>
    pcaPowerCompute(s, d).write.mode("overwrite")
      .parquet(staging.resolve("direction").toString)
  }

  private def pcaPowerCompute(s: SparkSession, d: String): DataFrame = {
    // the Gram matrix comes from the shared moments artifact (upper
    // triangle; mirror the strict part — the mirror runs on the
    // d²/2-row AGGREGATED table, never the corpus), so the iteration
    // here is constant-size work: d²-row joins, three rounds
    val upper = moments(s, d)._1.select(col("i"), col("j"),
      col("sxy").as("m"))
    val mMat = upper.union(upper.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("m")))
    val v0 = mMat.select(col("j")).distinct()
      .select(col("j"), lit(1000000L).cast("decimal(38,0)").as("v"))
    val vFinal = (1 to PowerIters).foldLeft(v0) { (v, _) =>
      val mv = mMat.join(v, Seq("j")).groupBy(col("i"))
        .agg(sum(col("m") * col("v")).as("mv"))
      val mx = mv.agg(max(abs(col("mv"))).as("mx"))
      // single-row max crossJoin (allowlisted in PlanGovernanceSpec)
      mv.crossJoin(broadcast(mx))
        .select(col("i").as("j"),
          expr("(mv * 1000000) DIV mx").cast("decimal(38,0)").as("v"))
    }
    vFinal.select(col("j").cast("long").as("i"), col("v").cast("long").as("v"))
  }

  /** Project every embedding onto the shared dominant direction — the
    * 1-D ordering key that makes vector data SKIPPABLE (sort/zorder the
    * corpus by `proj` and a range of the first principal component
    * prunes files, the embedding analog of `layout_zorder`). All
    * integer: quantized elements × the integer direction, folded
    * per-row by a codegen'd HOF over the broadcast 64-element literal —
    * NO join, NO shuffle, one scan. The direction collect is a
    * constant-size (d-row) model read, the same justified driver scalar
    * as a centroid table.
    */
  private val embedProject: Q = (s, d) => {
    val dir = pcaDirection(s, d).orderBy(col("i"))
      .select(col("v")).collect().map(_.getLong(0))
    val q = transform(col("embedding"),
      x => round(x.cast("double") * lit(1000000d)).cast("long"))
    T(s, d, "embeddings").select(col("vec_id"),
      aggregate(zip_with(q, typedLit(dir.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).as("proj"))
  }

  /** Norm-profile OUTLIER flags — the embedding sanity gate a training
    * pipeline runs before indexing a new batch: a vector whose squared
    * norm sits more than 2σ from the corpus mean is a truncated /
    * zero-padded / mis-scaled export candidate. Works on n² (never
    * takes the square root) and compares by the CROSS-MULTIPLIED
    * integer inequality `(N·n²ᵢ − S)² > 4·(N·Q − S²)` (S = Σn², Q =
    * Σ(n²)²) — all EXACT arithmetic on the 1e3-quantized elements, the
    * pagerank/covariance discipline, so both engines agree on every
    * flag with no epsilon. The gate is a 2σ sanity flag, so the coarser
    * 1e3 quantization (vs the 1e6 the moment statistics use) loses
    * nothing it needs — and it buys the 100× corpus: |q| ≤ 1e3 ⟹
    * n² ≤ 6.4e7 (64 dims), so the comparison peaks near N²·(n²)² ≈
    * 4e33 at N = 1e9 vectors — comfortably inside DECIMAL(38,0) /
    * HUGEINT (the previous 1e6 quantization overflowed — nulled the
    * flag — past N ≈ 160k; OutlierEnvelopeSpec pins a literal N in
    * that band).
    *
    * Scale shape: one map-side pass folds each vector to its integer
    * n² (no shuffle), one single-row global aggregate, and the stats
    * row re-broadcasts onto the corpus — the text_bm25 single-row
    * crossJoin pattern, bounded at one build row forever.
    */
  private val outliers: Q = (s, d) => outliersOn(T(s, d, "embeddings"))

  /** The outlier body on an arbitrary `(vec_id, embedding)` frame —
    * split out so the 2σ flag is testable on literal vectors.
    */
  private[graft] def outliersOn(emb: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val q = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * lit(1000d)).cast("long")).as("q"))
    val n2 = q.select(col("vec_id"),
      aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("n2"))
    val stats = n2.agg(
      count(lit(1)).cast(d19).as("n"),
      sum(col("n2").cast(d19)).cast("decimal(38,0)").as("s"),
      sum((col("n2").cast(d19) * col("n2").cast(d19))
        .cast("decimal(38,0)")).as("q2"))
    n2.crossJoin(broadcast(stats))
      .withColumn("dev", col("n").cast("decimal(38,0)") * col("n2") - col("s"))
      .select(col("vec_id"), col("n2"),
        (col("dev") * col("dev") >
          lit(4) * (col("n").cast("decimal(38,0)") * col("q2") -
            col("s") * col("s"))).as("is_outlier"))
  }

  private val KnnK = 3

  /** Probe width of the ANN-composed graph build: each vector probes
    * its [[KnnProbes]] nearest IVF cells for candidates. The knob is
    * part of the artifact key — widening it can only ADD candidates,
    * so graph recall ([[knnRecall]]) is monotone in it.
    */
  private val KnnProbes = 16

  /** Blocked EXACT K-NEAREST-NEIGHBOR GRAPH — every vector's top-
    * [[KnnK]] cosine neighbors within its label block, ranked
    * `(sim desc, nbr_id)` so the cut is a total order. This is the
    * DEFINITIONAL form: O(block²) pairs, fine as the small-SF
    * reference ranking the recall gate scores against, quadratic past
    * it (the 30× rung measured 84.7 s) — the PUBLISHED artifact is the
    * ANN-composed [[knnGraphAnn]]; this form survives only as the
    * oracle side of `sim_knn_recall` and the spec baseline.
    */
  private[graft] val knnGraphExact: Q = (s, d) => knnGraphExactOn(s, d, None)

  /** [[knnGraphExact]] with an optional QUERY-SIDE sample: exact top-k
    * is computed only for the sampled vec_ids (the neighbor side stays
    * the full corpus, so the sampled rows are the TRUE exact top-k) —
    * the recall gate's constant-budget shape. The sample is the
    * [[KnnRecallBudget]] smallest `md5(vec_id)` keys ([[Dedup]]'s
    * `jaccardSample` discipline: hash-keyed so it spreads over labels,
    * budget-capped so audit cost is |sample|·block, linear in the
    * corpus — the old full exact side was the one quadratic left in
    * the registry, 138 s at the 30× rung). Both gate SFs hold ≤ budget
    * vectors, so the sample is the WHOLE corpus there and nothing
    * hash-checked moves.
    */
  private[graft] def knnGraphExactOn(s: SparkSession, d: String,
      queryBudget: Option[Long]): DataFrame = {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val q = queryBudget.fold(e) { budget =>
      val ids = e.select(col("vec_id"),
          md5(col("vec_id").cast("string").cast("binary")).as("kk"))
        .orderBy(col("kk"), col("vec_id")).limit(budget.toInt)
        .select(col("vec_id"))
      e.join(broadcast(ids), Seq("vec_id"), "left_semi")
    }
    val nbr = e.select(col("label"), col("vec_id").as("nbr_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    q.join(nbr, Seq("label"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("sim", dot(col("v"), col("vb")) / (col("nrm") * col("nb")))
      .withColumn("rank", row_number().over(byVec))
      .filter(col("rank") <= KnnK)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), (round(col("sim"), 4) + lit(0.0)).as("sim"))
  }

  /** Query budget of the kNN recall audit's exact side — a superset of
    * every gate SF's vector count (sf0.1 holds 2000), so at the gate
    * the "sample" is everything and the report is byte-identical to
    * the unsampled r12 face; past the gate the audit stays runnable at
    * any rung (constant query count × mean block size).
    */
  private[graft] val KnnRecallBudget = 2048L

  /** ANN-COMPOSED kNN-GRAPH BUILD — the scale path that replaces the
    * blocked exact join: candidate generation is the IVF quantizer
    * (each vector multi-probes its [[KnnProbes]] nearest cells; a
    * candidate pair is same-label AND the neighbor's home cell is one
    * of the query's probed cells), then EXACT cosine rescoring and the
    * identical `(sim desc, nbr_id)` top-[[KnnK]] cut. Per-vector
    * fan-out is probes × mean cell size (≈ [[KnnProbes]]·
    * [[IvfSeedStep]]), never the label block — the within-block
    * quadratic that measured 84.7 s at the 30× rung becomes a linear
    * banded equi-join, the FAISS IVF-search shape applied to all-pairs
    * graph construction.
    *
    * Determinism: the probe ranking reuses the artifact centroids
    * (parquet doubles round-trip exactly) with the (d2, cid)
    * tie-break; a pair appears at most once (home cell unique, probed
    * cells distinct), so no dedup pass is needed; rescoring is the
    * same fixed-order double cosine as the exact form — ranks resolve
    * identically everywhere.
    */
  private[graft] def knnGraphAnn(s: SparkSession, d: String,
      sameLabelOnly: Boolean = true, k: Int = KnnK): DataFrame = {
    import s.implicits._
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val (centroids, _) =
      ivfArtifacts(s, d)
    // Per-vector probe set as a map-side-combinable typed top-k (the
    // sim_topk_agg machinery) on NEGATED d2 — Ordering.by((-score, id))
    // over negd2 is exactly (d2 asc, cid asc), the argmin tie-break
    // used registry-wide. Versus the previous row_number window this
    // cuts the exchange from n×C ranked rows to n×[[KnnProbes]]:
    // the broadcast crossJoin keeps all C cells of a vector in one
    // partition, so the partial aggregate reduces each vector to its
    // probe list BEFORE any shuffle (the window variant sorted the
    // full n×C product through an exchange).
    val scored = e.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        (lit(0d) - (dot(col("cv"), col("cv"))
          - lit(2) * dot(col("v"), col("cv")))).as("negd2"),
        col("cid").cast("long").as("cid"))
      .as[(Long, Double, Long)]
    val topk = new graft.functions.TopKAggregator(KnnProbes).toColumn
    val probes = scored.groupByKey(_._1)
      .mapValues { case (_, nd, cid) => (nd, cid) }
      .agg(topk.name("pk"))
      .flatMap { case (vid, items) =>
        items.zipWithIndex.map { case ((_, cid), i) =>
          (vid, cid, (i + 1).toLong)
        }
      }
      .toDF("vec_id", "cid", "pr")
    val ranked = probes.join(e, Seq("vec_id"))
      .select(col("cid"), col("pr"), col("label"), col("vec_id"),
        col("v"), col("nrm"))
    val nbr = ranked.filter(col("pr") === 1)
      .select(col("cid"), col("label"), col("vec_id").as("nbr_id"),
        col("v").as("vb"), col("nrm").as("nb"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    // the artifact build restricts candidates to same-label pairs (the
    // graph family's documented bound); the classification probe joins
    // cross-label — candidates are then bounded by the probed cells
    // alone, the plain FAISS IVF-search shape
    val joined =
      if (sameLabelOnly) ranked.join(nbr, Seq("cid", "label"))
      else ranked.join(nbr.drop("label"), Seq("cid"))
    joined
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("sim", dot(col("v"), col("vb")) / (col("nrm") * col("nb")))
      .withColumn("rank", row_number().over(byVec))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), (round(col("sim"), 4) + lit(0.0)).as("sim"))
  }

  /** Published kNN graph (vec_id, rank, nbr_id, sim) under the shared-
    * artifact protocol: the ANN-composed build runs once per dataset
    * version; `sim_knn_graph` and the whole graph family adopt the
    * files (the PQ lesson from round 11: an index computed inline puts
    * its build lineage into every consumer's plan — artifact it). The
    * layout tag carries the probe width and quantizer version, so a
    * knob change can never adopt a graph built under the old shape.
    */
  private[graft] lazy val knnShared = Materialized.shared("knn_shared_build",
      "knn_", s"knn:v3:k$KnnK:ivf$IvfSeedStep:cap$IvfCentroidCap:np$KnnProbes",
      "embeddings.parquet")(Materialized.parquet("graph")) {
      (s, d, staging) =>
    knnGraphAnn(s, d).write.mode("overwrite")
      .parquet(staging.resolve("graph").toString)
  }

  /** kNN-GRAPH RECALL GATE — edge agreement of the published ANN-
    * composed graph against the definitional exact blocked top-k, the
    * `sim_ann_recall` discipline applied to the graph artifact: the
    * single-row report (possible edges, recovered edges, recall in
    * basis points) is hash-checked, so a quantizer regression that
    * degrades the graph the whole graph family consumes fails the
    * BUILD, not a dashboard. The exact side runs on the
    * [[KnnRecallBudget]]-vector hash sample ([[knnGraphExactOn]]) —
    * identical to the full report at every gate SF, linear past them
    * (the `dedup_lsh_recall` discipline; the unsampled exact side was
    * 138 s at the 30× rung, the one quadratic left in the registry).
    */
  private val knnRecall: Q = (s, d) => {
    val exact = knnGraphExactOn(s, d, Some(KnnRecallBudget))
      .select(col("vec_id"), col("nbr_id"))
    val ann = knnShared(s, d)
      .select(col("vec_id"), col("nbr_id"), lit(1L).as("hit"))
    exact.join(ann, Seq("vec_id", "nbr_id"), "left")
      .agg(count(lit(1)).as("n_possible"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_bp", expr("n_hits * 10000 div n_possible"))
  }

  /** The kNN graph as a directed `(src, dst)` edge list — the input
    * `graph_scc` condenses (each vector points AT its neighbors; the
    * relation is deliberately asymmetric, which is what makes its
    * strongly-connected components — mutual-similarity cores — a
    * different, stricter signal than the undirected components).
    */
  private[graft] def knnEdges(s: SparkSession, d: String): DataFrame =
    knnShared(s, d).select(col("vec_id").as("src"), col("nbr_id").as("dst"))

  /** kNN LABEL-CONSISTENCY CLASSIFIER — the embedding-quality probe
    * every training pipeline runs before trusting a vector column: for
    * each vector, predict its label as the MAJORITY label of its
    * cross-label IVF-probed k nearest neighbors (self excluded, vote
    * ties → smallest label), and emit the CONFUSION MATRIX
    * `(true_label, pred_label, n)` — leave-one-out neighbor agreement.
    * High diagonal mass means the space clusters by label (safe to
    * drive dedup/similarity curation from it); off-diagonal cells name
    * exactly which label pairs the embedding confuses. Distinct from
    * the shared kNN ARTIFACT, whose same-label candidate bound is
    * right for the graph family but would make this probe vacuous —
    * classification must let wrong-label neighbors compete.
    *
    * Scale shape: [[knnGraphAnn]]'s IVF-probed candidate join without
    * the label equi-key — fan-out stays probes × mean cell size per
    * vector; voting is one (vec_id, label) group-by; the argmax one
    * window over ≤ #labels rows per vector; the matrix ≤ #labels²
    * rows.
    */
  private val knnClassify: Q = (s, d) => {
    val lbl = T(s, d, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = knnGraphAnn(s, d, sameLabelOnly = false)
      .join(lbl.select(col("vec_id").as("nbr_id"), col("label").as("nl")),
        Seq("nbr_id"))
      .groupBy(col("vec_id"), col("nl"))
      .agg(count(lit(1)).as("n_votes"))
    val byVotes = Window.partitionBy(col("vec_id"))
      .orderBy(col("n_votes").desc, col("nl"))
    votes.withColumn("rn", row_number().over(byVotes))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nl").as("pred_label"))
      .join(lbl, Seq("vec_id"))
      .groupBy(col("label").as("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  // ---- graph-navigation ANN (sim_ann_graph) -------------------------------
  //
  // The third ANN family next to the partition (LSH/IVF) and codec
  // (PQ/SQ) paths: NSW/HNSW-style GREEDY BEAM SEARCH over a
  // bounded-degree neighbor graph — the structure production vector
  // stores navigate (a query walks from fixed entry points toward its
  // neighborhood, expanding only the current beam's adjacency lists).
  // Everything is deterministic and hash-checkable: the graph is the
  // cross-label ANN-composed kNN graph SYMMETRIZED and degree-capped
  // (rank by the artifact's rounded sim, nbr_id tie-break), the entry
  // points are stride-fixed vec_ids (the IVF seed discipline), and
  // each hop's beam cut is the registry-wide (score desc, id) total
  // order. Hops are a FIXED unrolled count — the SQL oracle replays
  // them as chained CTEs exactly like the Lloyd rounds.

  /** Neighbor count of the navigation graph's kNN build — WIDER than
    * the artifact's [[KnnK]]: graph navigation needs edge density to
    * route (an NSW over a 3-NN graph strands the walk in local optima
    * — measured 20% recall@5; k=8 with the matching degree/beam below
    * reaches the family's deployable band). The build is the same
    * cross-label [[knnGraphAnn]] composition, just a deeper cut.
    */
  private val GnavK = 8

  /** Degree cap of the navigation graph: each node keeps its
    * [[GnavDegree]] best symmetrized edges — symmetrizing roughly
    * doubles candidate edges, and the cap restores bounded per-node
    * expansion cost (the property that makes beam search
    * O(beam·degree·hops) per query at ANY corpus size).
    */
  private[operators] val GnavDegree = 16

  /** Beam width: candidates kept per hop. */
  private val GnavBeam = 16

  /** Fixed hop count — unrolled, so both engines replay identically;
    * diameter coverage comes from seed spread, not hop depth.
    */
  private val GnavHops = 5

  /** Concurrency of the insert walk's arrival slices — walks are
    * per-query independent, so the slice count trades scheduler
    * overlap against per-slice job overhead (see [[gnavInsertRun]]).
    */
  private val GnavInsSlices = 8L

  /** Entry points: every [[GnavSeedStep]]-th vec_id, capped at
    * [[GnavSeedCap]] seeds — the IVF stride-seed discipline applied to
    * graph entry (production HNSW uses its top layer for this; a fixed
    * stride is the deterministic equivalent at one layer).
    */
  private val GnavSeedStep = 16
  private val GnavSeedCap = 64L

  /** The published navigation graph `(vec_id, nbr_id, sim)` under the
    * shared-artifact protocol: symmetrize the cross-label ANN kNN
    * graph (a pair's sim is bit-identical in both directions — same
    * element products, same summation order — so the union dedups
    * exactly) and keep each node's [[GnavDegree]] best edges by
    * (sim desc, nbr_id) over the artifact's ROUNDED sims, which both
    * engines hold byte-equal.
    */
  private[graft] lazy val gnavShared = Materialized.shared(
      "gnav_shared_build", "gnav_", s"gnav:v1:d$GnavDegree:gk$GnavK:" +
        s"ivf$IvfSeedStep:cap$IvfCentroidCap:np$KnnProbes",
      "embeddings.parquet")(Materialized.parquet("adj")) {
      (s, d, staging) =>
    val g = knnGraphAnn(s, d, sameLabelOnly = false, k = GnavK)
      .select(col("vec_id"), col("nbr_id"), col("sim"))
    val sym = g.union(g.select(col("nbr_id").as("vec_id"),
        col("vec_id").as("nbr_id"), col("sim")))
      .distinct()
    val byNode = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    sym.withColumn("rn", row_number().over(byNode))
      .filter(col("rn") <= GnavDegree)
      .select(col("vec_id"), col("nbr_id"), col("sim"))
      .write.mode("overwrite").parquet(staging.resolve("adj").toString)
  }

  /** GRAPH-NAVIGATION ANN SEARCH — greedy beam search over the
    * published navigation graph: the beam starts as the top-
    * [[GnavBeam]] of the fixed entry points by exact cosine, and each
    * of the [[GnavHops]] hops expands the beam's adjacency lists,
    * rescores exactly, and keeps the top-[[GnavBeam]] again (beam ∪
    * neighbors(beam) — monotone: a beam member re-competes every hop,
    * so beam quality never degrades and no visited-set state is
    * needed). Emits the final beam's top-[[K]] in the ANN family's
    * `(q_id, neighbor_id, rank, sim)` shape.
    *
    * Scale shape: per query per hop the work is ≤ beam·degree
    * adjacency probes (equi-join on the node id — at 100 TB the
    * adjacency is range-partitioned on vec_id and the probe side is
    * beam-sized) plus beam·degree exact rescorings; the corpus itself
    * is never scanned after the graph is built. The query×seed scoring
    * is a bounded broadcast (NQueries × GnavSeedCap rows).
    */
  /** The unpinned walk inputs: adjacency, corpus projection, queries,
    * entry points. Exposed to the walk builder and (via
    * [[gnavWalkPlan]]) to the pre-checkpoint plan governance audit.
    */
  private def gnavInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val adj = gnavShared(s, d)
      .select(col("vec_id").as("node"), col("nbr_id"))
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = e.filter(pmod(col("vec_id"), lit(GnavSeedStep)) === 0 &&
        col("vec_id") < GnavSeedStep * GnavSeedCap)
      .select(col("vec_id").as("node"))
    (adj, e, q, seeds)
  }

  /** The beam walk over given input frames — pure plan construction;
    * callers decide what to pin.
    */
  private def gnavWalk(adj: DataFrame, e: DataFrame, q: DataFrame,
      seeds: DataFrame, beamWidth: Int,
      resultFilter: Column = lit(true), topN: Int = K,
      hopPins: Option[scala.collection.mutable.Buffer[DataFrame]] = None)
      : DataFrame = {
    // when the caller provides a pin buffer, each hop's beam is
    // materialized before the next hop is planned: values are
    // untouched, but the plan never fuses 6 window/join layers into
    // one whole-stage-codegen unit — the unpinned mega-plan's final
    // stage compiled ~11 s of generated code PER FIRST-RUNNER (probe,
    // r17), while the pinned hops are small units whose generated
    // code is identical across hops AND concurrent walk slices, so
    // the codegen cache pays once. The audit seam ([[gnavWalkPlan]])
    // passes None and keeps the full declarative plan.
    def pin(df: DataFrame): DataFrame = hopPins match {
      case Some(buf) =>
        val p = graft.operators.Dedup.materialize(df); buf += p; p
      case None => df
    }
    def score(cand: DataFrame): DataFrame = cand
      .join(e.select(col("vec_id").as("node"), col("v").as("nv"),
        col("nrm").as("nn")), Seq("node"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .select(col("q_id"), col("node"), col("sim"))
    val byQ = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("node"))
    def topB(scored: DataFrame): DataFrame = scored
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= beamWidth)
      .select(col("q_id"), col("node"), col("sim"))
    var beam = pin(topB(score(q.select(col("q_id"))
      .crossJoin(broadcast(seeds))
      .filter(col("node") =!= col("q_id")))))
    for (_ <- 1 to GnavHops) {
      val expand = beam.select(col("q_id"), col("node"))
        .join(adj, Seq("node"))
        .select(col("q_id"), col("nbr_id").as("node"))
      val cand = beam.select(col("q_id"), col("node")).union(expand)
        .filter(col("node") =!= col("q_id"))
        .distinct()
      beam = pin(topB(score(cand)))
    }
    beam.filter(resultFilter)
      .withColumn("rank", row_number().over(byQ).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("q_id"), col("node").as("neighbor_id"), col("rank"),
        (round(col("sim"), 4) + lit(0.0)).as("sim"))
  }

  /** The walk at [[GnavBeam]] as a raw plan over unpinned inputs — the
    * pre-checkpoint governance seam (the published faces pin their
    * tiny results, truncating the registry plans; the audit reads the
    * join shapes here instead — the retrieval-leg discipline).
    */
  private[graft] def gnavWalkPlan(s: SparkSession, d: String): DataFrame = {
    val (adj, e, q, seeds) = gnavInputs(s, d)
    gnavWalk(adj, e, q, seeds, GnavBeam)
  }

  /** Shared daemon pool for concurrent walk-slice materialization —
    * hoisted (r18, the r17 verdict's #6) from the three per-call
    * `newFixedThreadPool`s: the generalized walk body folds through
    * foreachBatch doors and the lifecycle capstone many times per
    * process, and per-call executor churn was pure overhead. Cached,
    * not fixed: submitted tasks never submit nested tasks (no
    * starvation deadlock is possible), concurrent demand is bounded by
    * the callers' slice/width counts, and idle threads retire after
    * 60 s so a quiet process holds none.
    */
  private lazy val walkSlicePool: java.util.concurrent.ExecutorService = {
    // BOUNDED (r18 ADVICE): a cached pool grew one thread per queued
    // task under concurrent callers; 16 threads cap concurrent walk
    // jobs across every caller (excess tasks queue), idle threads
    // retire after 60 s so a quiet process holds none. Submitted tasks
    // never submit nested tasks, so a bounded pool cannot deadlock.
    val tp = new java.util.concurrent.ThreadPoolExecutor(
      16, 16, 60, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-walk-slice-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    tp.allowCoreThreadTimeOut(true)
    tp
  }

  /** Materialize independent walk slices concurrently on the shared
    * pool; returns results in input order. The first failure rethrows
    * after cancelling the outstanding siblings (r18 ADVICE: without
    * the cancel, a failed sweep still ran every remaining slice to
    * completion).
    */
  private def materializeSlices[A](tasks: Seq[() => A]): Seq[A] = {
    val fs = tasks.map(t => walkSlicePool.submit(
      new java.util.concurrent.Callable[A] { def call(): A = t() }))
    try fs.map(_.get())
    catch { case e: Throwable =>
      fs.foreach(_.cancel(true))
      throw e
    }
  }

  /** Run the walk at each width with the two frames EVERY hop re-reads
    * — the corpus projection and the adjacency — pinned once (a beam
    * search engine keeps its vectors and graph resident; the unpinned
    * plan re-scanned the embedding table once per hop per width,
    * 6 scans per walk on the bench clock). Each result materializes
    * eagerly BEFORE the pins release (the pinAndRelease invariant).
    */
  private def gnavResults(s: SparkSession, d: String, widths: Seq[Int],
      resultFilter: Column = lit(true)): Seq[DataFrame] = {
    val (adjP, eP, _, _) = gnavInputs(s, d)
    val adj = graft.operators.Dedup.materialize(adjP)
    val e = graft.operators.Dedup.materialize(eP)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = e.filter(pmod(col("vec_id"), lit(GnavSeedStep)) === 0 &&
        col("vec_id") < GnavSeedStep * GnavSeedCap)
      .select(col("vec_id").as("node"))
    // the walks are independent tiny jobs (≤ beam·degree rows a hop);
    // materialize them CONCURRENTLY so the sweep's wall-clock is one
    // walk, not the sum — local stage-scheduling latency, not data,
    // dominates a 10-query beam walk
    def walkPinned(w: Int): DataFrame = {
      val pins = scala.collection.mutable.Buffer.empty[DataFrame]
      val r = graft.operators.Dedup.materialize(
        gnavWalk(adj, e, q, seeds, w, resultFilter,
          hopPins = Some(pins)))
      pins.foreach(graft.operators.Dedup.releaseCheckpoint)
      r
    }
    val res = if (widths.size == 1) widths.map(walkPinned)
    else materializeSlices(widths.map(w => () => walkPinned(w)))
    Seq(adj, e).foreach(graft.operators.Dedup.releaseCheckpoint)
    res
  }

  private val annGraphNav: Q = (s, d) =>
    gnavResults(s, d, Seq(GnavBeam)).head

  /** [[annGraphNav]] under a SOFT-DELETE tombstone set — the
    * navigation family's takedown contract (what HNSW stores actually
    * ship): deleted nodes still ROUTE — the graph, seeds, and every
    * beam cut are untouched, because cutting the victims' edges would
    * disconnect survivors the walk reaches through them — but they are
    * filtered from the final beam BEFORE the top-[[K]] rank, so no
    * tombstoned vector can be returned. `surviving` is a predicate
    * over the beam's `node` column. Exposed to [[StreamingQueries]]'
    * takedown face; the SQL twin is [[gnavDeleteOracleFor]].
    */
  private[operators] def gnavSoftDelete(s: SparkSession, d: String,
      surviving: Column): DataFrame =
    gnavResults(s, d, Seq(GnavBeam), surviving).head

  /** INCREMENTAL INSERTION into the navigation graph — the NSW/HNSW
    * maintenance op that keeps a graph index alive under arriving
    * vectors without a rebuild: each newcomer beam-searches the
    * RESIDENT graph for its neighborhood, connects bidirectionally to
    * its top-[[GnavK]], and every touched node re-caps its adjacency
    * at [[GnavDegree]] by the registry-wide (sim desc, id) order —
    * exactly the insert loop production graph stores run per arrival.
    * The arrival slice is the established `% ClsArrMod = ClsArrRem`
    * split; the resident graph is the published artifact restricted
    * to resident endpoints (the hard-removal complement of
    * [[gnavSoftDelete]]: delete-then-reinsert is the maintenance
    * cycle this face completes). Seeds are stride-16 vec_ids, which
    * are `0 mod ClsArrMod` and therefore always resident.
    *
    * Emitted result: the UPDATED adjacency `(vec_id, nbr_id, sim)` —
    * deterministic and hash-checked against the SQL twin that replays
    * the restriction, the per-arrival walks, the symmetric connect,
    * and the degree re-cap as chained CTEs.
    *
    * Scale shape: per arrival the walk is beam·degree adjacency
    * probes + exact rescorings (corpus never scanned); the connect
    * and re-cap are one shuffle each over O(graph + new edges) rows.
    * At 100 TB arrivals batch through the same walk the queries use,
    * and the re-cap touches only nodes that gained an edge.
    */
  /** One insertion pass per dataset version per process — shared by
    * the adjacency face and its navigability gate (the walk over 25%
    * of the corpus is the expensive part; two faces re-running it
    * would double the bill for no extra evidence).
    */
  private[graft] lazy val gnavInsertRun = Materialized.memo(
      "gnav_insert_build", "graft_gins_", "ins:v1") { (s, d, run) =>
    val isArr = (c: Column) => pmod(c, lit(ClsArrMod)) === ClsArrRem
    val resident = gnavShared(s, d)
      .filter(!isArr(col("vec_id")) && !isArr(col("nbr_id")))
    val (_, eP, _, _) = gnavInputs(s, d)
    val adj = graft.operators.Dedup.materialize(
      resident.select(col("vec_id").as("node"), col("nbr_id")))
    val e = graft.operators.Dedup.materialize(eP)
    val q = e.filter(isArr(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = e.filter(pmod(col("vec_id"), lit(GnavSeedStep)) === 0 &&
        col("vec_id") < GnavSeedStep * GnavSeedCap)
      .select(col("vec_id").as("node"))
    // the walk is per-arrival independent (beam state never crosses
    // q_id), so slice the arrival set and materialize the slices
    // CONCURRENTLY — the [[gnavResults]] sweep trick applied to the
    // insert walk: a 5-hop beam walk over a few hundred arrivals is
    // bounded by sequential stage-scheduling latency, not data, and
    // the slices' idle scheduler time overlaps. Output-identical to
    // the unsliced walk (union of per-q_id results, same join
    // shapes per slice — at 100 TB each slice is still beam·degree
    // equi-join probes against the partitioned adjacency).
    val slices = (0L until GnavInsSlices).map { r =>
      q.filter(pmod(col("q_id"), lit(GnavInsSlices)) === r)
    }
    val walkedSlices = materializeSlices(slices.map(qs => () => {
      val pins = scala.collection.mutable.Buffer.empty[DataFrame]
      val w = graft.operators.Dedup.materialize(
        gnavWalk(adj, e, qs, seeds, GnavBeam, topN = GnavK,
          hopPins = Some(pins))
          .select(col("q_id").as("vec_id"),
            col("neighbor_id").as("nbr_id"), col("sim")))
      pins.foreach(graft.operators.Dedup.releaseCheckpoint)
      w
    }))
    val walked = walkedSlices.reduce(_.unionByName(_))
    // bidirectional connect; the walk only ever reaches resident
    // nodes (beam and expansion live on the resident graph), so new
    // edges are always arrival↔resident and never collide
    val sym = walked.union(walked.select(col("nbr_id").as("vec_id"),
      col("vec_id").as("nbr_id"), col("sim")))
    val byNode = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    resident.select(col("vec_id"), col("nbr_id"), col("sim"))
      .union(sym).distinct()
      .withColumn("rn", row_number().over(byNode))
      .filter(col("rn") <= GnavDegree)
      .select(col("vec_id"), col("nbr_id"), col("sim"))
      .write.mode("overwrite").parquet(run.resolve("adj").toString)
    (Seq(adj, e) ++ walkedSlices)
      .foreach(graft.operators.Dedup.releaseCheckpoint)
    run.resolve("adj")
  }

  private val gnavInsert: Q = (s, d) =>
    s.read.parquet(gnavInsertRun(s, d).toString)

  /** The resident restriction of the published adjacency WITH its
    * rounded sims — the frozen routing tier `stream_gnav_insert`'s
    * batches walk and its read-back folds onto.
    */
  private[operators] def gnavResidentAdj(s: SparkSession, d: String)
      : DataFrame = {
    val isArr = (c: Column) => pmod(c, lit(ClsArrMod)) === ClsArrRem
    gnavShared(s, d)
      .filter(!isArr(col("vec_id")) && !isArr(col("nbr_id")))
  }

  /** One arrival batch's symmetric connect edges against the FROZEN
    * resident restriction — the per-batch body of
    * `stream_gnav_insert`: walk the resident graph with the batch's
    * vectors as queries, cut each to its top-[[GnavK]], connect both
    * ways. Returns a MATERIALIZED frame (the caller writes it as a
    * generation); all interior pins are released here. Batches fold
    * confluent with the one-shot [[gnavInsert]] because every walk
    * probes the same frozen graph and the degree re-cap is
    * monotone under added competition (cap(cap(X) ∪ Y) = cap(X ∪ Y)
    * — an edge below a node's top-[[GnavDegree]] stays below it when
    * more edges arrive), so capping once at read time equals the
    * one-shot's single cap.
    */
  private[operators] def gnavInsertEdgesFor(s: SparkSession, d: String,
      batch: DataFrame): DataFrame =
    gnavWalkEdgesOn(s, d,
      gnavResidentAdj(s, d).select(col("vec_id").as("node"),
        col("nbr_id")), batch)

  /** The generalized walk-and-connect: walk an ARBITRARY adjacency
    * frame `(node, nbr_id)` with a batch of vectors (embeddings
    * schema) as queries, cut each to its top-[[GnavK]], connect both
    * ways. Returns a MATERIALIZED symmetric edge frame; all interior
    * pins are released here. The per-query independence lets the
    * query set slice into concurrent walks ([[gnavInsertRun]]'s
    * trick) — output-identical union. This is the one walk body the
    * insert stream, the vacuum repair, and the lifecycle capstone all
    * fold through.
    */
  private[operators] def gnavWalkEdgesOn(s: SparkSession, d: String,
      adjNodes: DataFrame, batch: DataFrame): DataFrame = {
    val (_, eP, _, _) = gnavInputs(s, d)
    val adj = graft.operators.Dedup.materialize(adjNodes)
    val e = graft.operators.Dedup.materialize(eP)
    val q = batch.dropDuplicates("vec_id")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = e.filter(pmod(col("vec_id"), lit(GnavSeedStep)) === 0 &&
        col("vec_id") < GnavSeedStep * GnavSeedCap)
      .select(col("vec_id").as("node"))
    val slices = (0L until GnavInsSlices).map { r =>
      q.filter(pmod(col("q_id"), lit(GnavInsSlices)) === r)
    }
    val walkedSlices = materializeSlices(slices.map(qs => () => {
      val pins = scala.collection.mutable.Buffer.empty[DataFrame]
      val w = graft.operators.Dedup.materialize(
        gnavWalk(adj, e, qs, seeds, GnavBeam, topN = GnavK,
          hopPins = Some(pins))
          .select(col("q_id").as("vec_id"),
            col("neighbor_id").as("nbr_id"), col("sim")))
      pins.foreach(graft.operators.Dedup.releaseCheckpoint)
      w
    }))
    val walked = walkedSlices.reduce(_.unionByName(_))
    val sym = graft.operators.Dedup.materialize(
      walked.union(walked.select(col("nbr_id").as("vec_id"),
        col("vec_id").as("nbr_id"), col("sim"))))
    (Seq(adj, e) ++ walkedSlices)
      .foreach(graft.operators.Dedup.releaseCheckpoint)
    sym
  }

  /** NAVIGABILITY AFTER INSERTION — the number that decides whether
    * [[gnavInsert]]'s maintenance loop is deployable: the standard
    * 10-query beam walk over the UPDATED adjacency, recall@[[K]]
    * against the same exact brute-force ranking (`sim_gnav_recall`'s
    * shape). The updated graph must route at least as well as the
    * resident-only restriction it replaces — newcomers re-enter as
    * both results and routing waypoints.
    */
  private val gnavInsertRecall: Q = (s, d) => {
    val uadj = s.read.parquet(gnavInsertRun(s, d).toString)
      .select(col("vec_id").as("node"), col("nbr_id"))
    val (_, eP, _, _) = gnavInputs(s, d)
    val adj = graft.operators.Dedup.materialize(uadj)
    val e = graft.operators.Dedup.materialize(eP)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = e.filter(pmod(col("vec_id"), lit(GnavSeedStep)) === 0 &&
        col("vec_id") < GnavSeedStep * GnavSeedCap)
      .select(col("vec_id").as("node"))
    val pins = scala.collection.mutable.Buffer.empty[DataFrame]
    val walk = graft.operators.Dedup.materialize(
      gnavWalk(adj, e, q, seeds, GnavBeam, hopPins = Some(pins)))
    (Seq(adj, e) ++ pins).foreach(graft.operators.Dedup.releaseCheckpoint)
    val bf = bruteforce(s, d).select(col("q_id"), col("neighbor_id"))
    val gn = walk.select(col("q_id"), col("neighbor_id"),
      lit(1L).as("hit"))
    bf.join(gn, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
  }

  /** VACUUM of the navigation graph — the hard-removal compaction the
    * soft-delete family is missing: [[gnavSoftDelete]]'s tombstones
    * route forever, so at production takedown rates the graph's
    * routing mass decays; past a density threshold HNSW deployments
    * hard-remove the dead nodes and REPAIR the survivors. The fold:
    *
    *  1. PRUNE: drop every edge with a tombstoned endpoint (the
    *     victims leave the graph entirely — no row ever carries one);
    *  2. REPAIR: survivors that lost edges AND fell below the
    *     [[GnavVacuumFloor]] re-wire through the insert machinery —
    *     beam-walk the pruned graph, bidirectional top-[[GnavK]]
    *     connect, degree re-cap. Survivors above the floor keep
    *     routing on their remaining edges (the bounded-repair
    *     discipline: vacuum work is O(under-connected survivors),
    *     never O(graph)).
    *
    * Edges present both before and after repair dedup by
    * (vec_id, nbr_id) with max(sim) — sims are the registry-wide
    * rounded values, bit-equal on both engines, so the aggregate is
    * the distinct() of the keyed shape. Emits the vacuumed adjacency
    * `(vec_id, nbr_id, sim)`, hash-checked against the SQL twin that
    * replays prune, floor, walks, connect, and re-cap as chained
    * CTEs. Seeds are stride-[[GnavSeedStep]] ids, never in the
    * takedown slice.
    *
    * Scale shape: the prune is one linear filter; the repair set is a
    * degree histogram away; each repair walk is beam·degree adjacency
    * probes. At 100 TB a vacuum prices as (takedown density) ×
    * (repair-floor tail) walks — the measured insert-walk cost per
    * node, scheduled off the query path.
    */
  private[graft] val GnavVacuumFloor = GnavDegree - 2

  private[graft] lazy val gnavVacuumRun = Materialized.memo(
      "gnav_vacuum_build", "graft_gvac_", "vac:v1") { (s, d, run) =>
    val survives = (c: Column) =>
      pmod(c, lit(StreamingQueries.TakedownMod)) =!=
        StreamingQueries.TakedownRem
    val pub = gnavShared(s, d)
    val pruned = pub
      .filter(survives(col("vec_id")) && survives(col("nbr_id")))
    val lost = pub
      .filter(survives(col("vec_id")) && !survives(col("nbr_id")))
      .select(col("vec_id")).distinct()
    val prunedDeg = pruned.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("deg"))
    val repair = lost.join(prunedDeg, Seq("vec_id"), "left")
      .filter(coalesce(col("deg"), lit(0L)) < GnavVacuumFloor)
      .select(col("vec_id"))
    val (_, eP, _, _) = gnavInputs(s, d)
    val adj = graft.operators.Dedup.materialize(
      pruned.select(col("vec_id").as("node"), col("nbr_id")))
    val e = graft.operators.Dedup.materialize(eP)
    val q = e.join(repair, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = e.filter(pmod(col("vec_id"), lit(GnavSeedStep)) === 0 &&
        col("vec_id") < GnavSeedStep * GnavSeedCap)
      .select(col("vec_id").as("node"))
    val pins = scala.collection.mutable.Buffer.empty[DataFrame]
    val walked = graft.operators.Dedup.materialize(
      gnavWalk(adj, e, q, seeds, GnavBeam, topN = GnavK,
        hopPins = Some(pins))
        .select(col("q_id").as("vec_id"), col("neighbor_id").as("nbr_id"),
          col("sim")))
    val sym = walked.union(walked.select(col("nbr_id").as("vec_id"),
      col("vec_id").as("nbr_id"), col("sim")))
    val byNode = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    pruned.select(col("vec_id"), col("nbr_id"), col("sim"))
      .union(sym)
      .groupBy(col("vec_id"), col("nbr_id"))
      .agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(byNode))
      .filter(col("rn") <= GnavDegree)
      .select(col("vec_id"), col("nbr_id"), col("sim"))
      .write.mode("overwrite").parquet(run.resolve("adj").toString)
    (Seq(adj, e, walked) ++ pins)
      .foreach(graft.operators.Dedup.releaseCheckpoint)
    run.resolve("adj")
  }

  private val gnavVacuum: Q = (s, d) =>
    s.read.parquet(gnavVacuumRun(s, d).toString)

  /** ROUTING AFTER VACUUM — the number that decides whether the
    * hard-removal is deployable: the standard 10-query beam walk over
    * the VACUUMED adjacency, recall@[[K]] against the exact ranking
    * over the SURVIVING corpus (victims are gone — the exact side a
    * user of the vacuumed index can observe). The
    * [[gnavInsertRecall]] shape applied to the takedown's other end.
    */
  private val gnavVacuumRecall: Q = (s, d) => {
    val survives = (c: Column) =>
      pmod(c, lit(StreamingQueries.TakedownMod)) =!=
        StreamingQueries.TakedownRem
    val uadj = s.read.parquet(gnavVacuumRun(s, d).toString)
      .select(col("vec_id").as("node"), col("nbr_id"))
    val (_, eP, _, _) = gnavInputs(s, d)
    val adj = graft.operators.Dedup.materialize(uadj)
    val e = graft.operators.Dedup.materialize(eP)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seeds = e.filter(pmod(col("vec_id"), lit(GnavSeedStep)) === 0 &&
        col("vec_id") < GnavSeedStep * GnavSeedCap)
      .select(col("vec_id").as("node"))
    val pins = scala.collection.mutable.Buffer.empty[DataFrame]
    val walk = graft.operators.Dedup.materialize(
      gnavWalk(adj, e, q, seeds, GnavBeam, hopPins = Some(pins)))
    (Seq(adj, e) ++ pins).foreach(graft.operators.Dedup.releaseCheckpoint)
    // exact side over the SURVIVING corpus — [[bruteforce]]'s shape
    // with the victims filtered BEFORE the rank (a victim in the full
    // top-K must free its rank to the next survivor, exactly as the
    // vacuumed index's user observes)
    val eAll = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val bq = eAll.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val bf = eAll.filter(survives(col("vec_id")))
      .join(broadcast(bq), col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    val gn = walk.select(col("q_id"), col("neighbor_id"),
      lit(1L).as("hit"))
    bf.join(gn, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
  }

  /** Beam widths swept by [[gnavTradeoff]]. */
  private val GnavBeamBudgets = Seq(4, 8, 16)

  /** THE RECALL-vs-BEAM TUNING CURVE — [[annRecall]]'s sweep discipline
    * applied to the navigation family's operative knob: aggregate
    * recall@[[K]] of the beam search at each width in
    * [[GnavBeamBudgets]], against the same exact ranking. Unlike the
    * nprobe sweep, beam recall is NOT provably monotone (a wider beam's
    * candidate sets are supersets per hop, but the cut can reorder
    * which branches survive) — which is exactly why the curve is
    * measured and hash-pinned instead of assumed.
    */
  private val gnavTradeoff: Q = (s, d) => {
    val bf = bruteforce(s, d).select(col("q_id"), col("neighbor_id"))
    GnavBeamBudgets.zip(gnavResults(s, d, GnavBeamBudgets)).map {
      case (b, walk) =>
        val gn = walk
          .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
        bf.join(gn, Seq("q_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_possible"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .withColumn("recall_bp", expr("n_hits * 10000 div n_possible"))
          .select(lit(b.toLong).as("beam"), col("n_possible"),
            col("n_hits"), col("recall_bp"))
    }.reduce(_.unionByName(_))
  }

  /** GRAPH-NAVIGATION RECALL GATE — `sim_ann_recall`'s per-query
    * agreement report for the beam search, against the same exact
    * brute-force ranking: the number that decides whether the
    * navigation family's (degree, beam, hops, seeds) knobs are
    * deployable, pinned as a hash-checked integer like IVF's.
    */
  private val gnavRecall: Q = (s, d) => {
    val bf = bruteforce(s, d).select(col("q_id"), col("neighbor_id"))
    val gn = annGraphNav(s, d)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    bf.join(gn, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("k"))
  }

  /** Arrival split of the at-ingest classifier (`stream_knn_classify`):
    * arrivals are `vec_id % ClsArrMod = ClsArrRem`, the rest is
    * yesterday's frozen index export.
    */
  private[graft] val ClsArrMod = 4L
  private[graft] val ClsArrRem = 3L

  /** The frozen index the at-ingest classifier probes — "yesterday's
    * export": the shared IVF artifact's centroids plus every vector at
    * its home cell with its label and norm. Returns (corpus, centroids)
    * where corpus is `(vec_id, cid, v, nrm, label)`.
    */
  private[graft] def frozenKnnIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        col("label").cast("long").as("label"))
      .withColumn("nrm", norm2(col("v")))
    val (centroids, lists) =
      ivfArtifacts(s, d)
    (lists.join(e, Seq("vec_id")), centroids)
  }

  /** Classify a batch of vectors against the frozen index — the
    * per-arrival body of `stream_knn_classify`, and EXACTLY the batch
    * probe's semantics ([[knnClassify]] via the cross-label
    * [[knnGraphAnn]]) restricted to the batch: probe the
    * [[KnnProbes]] nearest frozen cells ((d2, cid) argmin ranking —
    * the registry-wide tie-break), take the frozen home-cell members
    * of the probed cells as candidates (self excluded), exact-cosine
    * top-[[KnnK]], majority vote (ties → smallest label). Emits
    * `(vec_id, pred_label)`. Per-batch cost is |batch| × C probe work
    * plus probes × mean cell size candidates — never the corpus.
    */
  private[graft] def classifyAgainstFrozen(batchVecs: DataFrame,
      centroids: DataFrame, corpus: DataFrame): DataFrame = {
    val probes = batchVecs.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2",
        dot(col("cv"), col("cv")) - lit(2) * dot(col("v"), col("cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("pr") <= KnnProbes)
      .select(col("vec_id"), col("cid"))
    val cand = probes
      .join(corpus.select(col("cid"), col("vec_id").as("nbr_id"),
        col("v").as("vb"), col("nrm").as("nb"), col("label").as("nl")),
        Seq("cid"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .join(batchVecs.select(col("vec_id"), col("v"), col("nrm")),
        Seq("vec_id"))
      .withColumn("sim", dot(col("v"), col("vb")) / (col("nrm") * col("nb")))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    val votes = cand.withColumn("rk", row_number().over(byVec))
      .filter(col("rk") <= KnnK)
      .groupBy(col("vec_id"), col("nl"))
      .agg(count(lit(1)).as("n_votes"))
    val byVotes = Window.partitionBy(col("vec_id"))
      .orderBy(col("n_votes").desc, col("nl"))
    votes.withColumn("rn", row_number().over(byVotes))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nl").cast("long").as("pred_label"))
  }

  /** `sim_knn_classify`'s oracle RESTRICTED to the arrival slice — the
    * at-ingest twin's gate: per-arrival door verdicts union to exactly
    * the batch leave-one-out probe's rows for arriving vec_ids (the
    * frozen index holds every vector's home cell, so the candidate set
    * an arrival probes at the door is the batch probe's candidate set
    * verbatim).
    */
  private[operators] lazy val knnClassifyArrivalsOracle: String =
    s"""WITH g AS (${knnAnnOracleFor(sameLabelOnly = false)}),
       |v AS (SELECT g.vec_id, CAST(eb.label AS BIGINT) AS nl,
       |        count(*) AS n_votes
       |      FROM g JOIN embeddings eb ON eb.vec_id = g.nbr_id
       |      GROUP BY 1, 2),
       |p AS (SELECT vec_id, nl AS pred_label FROM (
       |        SELECT vec_id, nl, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY n_votes DESC, nl) AS rn FROM v)
       |      WHERE rn = 1)
       |SELECT CAST(ea.label AS BIGINT) AS true_label, p.pred_label,
       |  count(*) AS n
       |FROM p JOIN embeddings ea ON ea.vec_id = p.vec_id
       |WHERE p.vec_id % $ClsArrMod = $ClsArrRem
       |GROUP BY 1, 2""".stripMargin

  /** The `sim_knn_graph` oracle text, for composition into downstream
    * oracles (DuckDB accepts a WITH inside a derived table, so the
    * ANN composition embeds as `FROM (...)` like the WITH-free exact
    * form did — the graph family's oracles follow the published
    * artifact automatically).
    */
  private[operators] def knnOracleSql: String = oracles("sim_knn_graph")

  val queries: Map[String, Q] = Map(
    "sim_knn_graph" -> ((s, d) => knnShared(s, d)),
    "sim_knn_recall" -> knnRecall,
    "sim_knn_classify" -> knnClassify,
    "embed_outliers" -> outliers,
    "embed_covariance" -> covariance,
    "embed_pca_power" -> pcaPower,
    "embed_project" -> embedProject,
    "sim_topk_bruteforce" -> bruteforce,
    "sim_topk_agg" -> bruteforceAgg,
    "sim_mips" -> mips,
    "sim_ann_lsh" -> annLsh,
    "sim_ann_sq" -> annSq,
    "sim_sq_recall" -> sqRecall,
    "embed_drift" -> embedDrift,
    "sim_ann_ivf" -> annIvf,
    "sim_ann_pq" -> annPq,
    "sim_ann_ivfpq" -> annIvfPq,
    "sim_ann_graph" -> annGraphNav,
    "sim_gnav_recall" -> gnavRecall,
    "sim_gnav_tradeoff" -> gnavTradeoff,
    "sim_gnav_insert" -> gnavInsert,
    "sim_gnav_insert_recall" -> gnavInsertRecall,
    "sim_gnav_vacuum" -> gnavVacuum,
    "sim_gnav_vacuum_recall" -> gnavVacuumRecall,
    "sim_ann_recall" -> annRecall,
    "sim_ann_tradeoff" -> annTradeoff,
    "sim_pq_recall" -> pqRecall,
    "embed_quantize" -> quantize,
    "embed_kmeans_mix" -> kmeansMix,
    "dedup_semantic" -> semanticDedup,
  )

  private val topkOracle: String =
    s"""SELECT q_id, neighbor_id, rank, round(sim, 4) + 0.0 AS sim FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
       |               e.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
       |  WHERE q.vec_id < $NQueries)
       |WHERE rank <= $K""".stripMargin

  /** The ENTIRE IVF pipeline re-derived in SQL: deterministic stride
    * seeds, the argmin assignment (row_number over (d2, cid) — the same
    * explicit tie-break as the Spark `min(struct)`), the one Lloyd
    * averaging step (per-dim avg reassembled with `list(m ORDER BY i)`),
    * the NProbe window and the exact rerank. Distances between random
    * 64-d vectors are far apart relative to cross-engine summation-order
    * noise (~1e-15 relative), so the discrete argmin/probe choices agree;
    * the continuous output column carries the usual round(...,4) guard.
    */
  /** One unrolled oracle Lloyd round: assignment argmin against
    * `cb${i-1}`, the (m, k, j)-keyed integer sums, and the sign-split
    * round-half-away integer mean — `//` on positive numerators only,
    * where DuckDB's floor division equals Spark's truncating `div`.
    */
  private def pqLloydCte(i: Int): String =
    s"""pd$i AS (
       |  SELECT el.vec_id, el.m, cb${i - 1}.k,
       |    sum((el.x - cb${i - 1}.cx) * (el.x - cb${i - 1}.cx)) AS d2
       |  FROM el_train el JOIN cb${i - 1}
       |    ON cb${i - 1}.m = el.m AND cb${i - 1}.j = el.j
       |  GROUP BY 1, 2, 3),
       |pa$i AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY d2, k) AS rn
       |    FROM pd$i) WHERE rn = 1),
       |ps$i AS (
       |  SELECT el.m, a.k, el.j, sum(el.x) AS s, count(*) AS n
       |  FROM pa$i a JOIN el_train el ON el.vec_id = a.vec_id AND el.m = a.m
       |  GROUP BY 1, 2, 3),
       |cb$i AS (
       |  SELECT c.k, c.m, c.j,
       |    coalesce(CASE WHEN p.s >= 0 THEN (2*p.s + p.n) // (2*p.n)
       |             ELSE -((2*(-p.s) + p.n) // (2*p.n)) END, c.cx) AS cx
       |  FROM cb${i - 1} c LEFT JOIN ps$i p
       |    ON p.m = c.m AND p.k = c.k AND p.j = c.j)""".stripMargin

  private val pqCtes: String =
    s"""el AS (
       |  SELECT vec_id,
       |    CAST(i // $PqSubDim AS BIGINT) AS m,
       |    CAST(i % $PqSubDim AS BIGINT) AS j,
       |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
       |               * 1000) AS BIGINT) AS x
       |  FROM embeddings,
       |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
       |el_train AS (SELECT * FROM el WHERE vec_id < $PqTrainCap),
       |cb0 AS (
       |  SELECT CAST(vec_id // $PqSeedStep AS BIGINT) AS k, m, j,
       |    x AS cx
       |  FROM el_train
       |  WHERE vec_id % $PqSeedStep = 0
       |    AND vec_id < ${PqK.toLong * PqSeedStep}),
       |${(1 to PqIters).map(pqLloydCte).mkString(",\n")},
       |cb AS (SELECT * FROM cb$PqIters),
       |sub2 AS (
       |  SELECT el.vec_id, el.m, cb.k,
       |    sum((el.x - cb.cx) * (el.x - cb.cx)) AS d2
       |  FROM el JOIN cb ON cb.m = el.m AND cb.j = el.j
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY d2, k) AS rn
       |    FROM sub2) WHERE rn = 1),
       |dt AS (SELECT vec_id AS q_id, m, k, d2 FROM sub2
       |       WHERE vec_id < $NQueries)""".stripMargin

  private lazy val pqOracle: String =
    s"""WITH $pqCtes,
       |adc AS (
       |  SELECT dt.q_id, c.vec_id AS neighbor_id,
       |    CAST(sum(dt.d2) AS BIGINT) AS adc_dist
       |  FROM codes c JOIN dt ON dt.m = c.m AND dt.k = c.k
       |  WHERE c.vec_id <> dt.q_id
       |  GROUP BY 1, 2)
       |$adcRankSql""".stripMargin

  private val adcRankSql: String =
    s"""SELECT q_id, neighbor_id, rank, adc_dist FROM (
       |  SELECT q_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |  FROM adc) WHERE rank <= $K""".stripMargin

  /** The trained-index prefix (seeds → one Lloyd step → centroids →
    * home-cell lists) WITHOUT the query-side CTEs — shared verbatim by
    * [[ivfCtes]] and the ANN-composed kNN-graph oracle, so both SQL
    * surfaces derive the identical quantizer.
    */
  private val ivfIndexCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |),
       |seeds AS (
       |  SELECT CAST(vec_id // $IvfSeedStep AS INT) AS cid, v AS cv
       |  FROM e WHERE vec_id % $IvfSeedStep = 0
       |    AND vec_id < ${IvfSeedStep.toLong * IvfCentroidCap}
       |),
       |assign0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, s.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_inner_product(s.cv, s.cv)
       |                 - 2*list_inner_product(e.v, s.cv), s.cid) AS rn
       |    FROM e CROSS JOIN seeds s)
       |  WHERE rn = 1
       |),
       |cent AS (
       |  SELECT a.cid, t.i, avg(e.v[t.i]) AS m
       |  FROM assign0 a JOIN e USING (vec_id),
       |       unnest(generate_series(1, len(e.v))) t(i)
       |  GROUP BY a.cid, t.i
       |),
       |centroids AS (
       |  SELECT cid, list(m ORDER BY i) AS cv FROM cent GROUP BY cid
       |),
       |lists AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_inner_product(c.cv, c.cv)
       |                 - 2*list_inner_product(e.v, c.cv), c.cid) AS rn
       |    FROM e CROSS JOIN centroids c)
       |  WHERE rn = 1
       |)""".stripMargin

  private val ivfCtes: String =
    s"""$ivfIndexCtes,
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |probes AS (
       |  SELECT q_id, cid FROM (
       |    SELECT q.q_id, c.cid,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY list_inner_product(c.cv, c.cv)
       |                 - 2*list_inner_product(q.qv, c.cv), c.cid) AS pr
       |    FROM q CROSS JOIN centroids c)
       |  WHERE pr <= $NProbe
       |)""".stripMargin

  private val ivfOracle: String =
    s"""WITH $ivfCtes
       |SELECT q_id, neighbor_id, rank, round(sim, 4) + 0.0 AS sim FROM (
       |  SELECT c.q_id, c.vec_id AS neighbor_id,
       |    list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS sim,
       |    row_number() OVER (PARTITION BY c.q_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
       |               c.vec_id) AS rank
       |  FROM (SELECT p.q_id, l.vec_id FROM lists l JOIN probes p USING (cid)
       |        WHERE l.vec_id <> p.q_id) c
       |  JOIN embeddings ne ON ne.vec_id = c.vec_id
       |  JOIN embeddings qe ON qe.vec_id = c.q_id)
       |WHERE rank <= $K""".stripMargin

  /** One k-means assignment round in SQL — same argmin and (d2, cid)
    * tie-break as [[nearestCentroid]] / the [[ivfOracle]] CTEs.
    */
  private def assignSql(cents: String): String =
    s"""SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_inner_product(c.cv, c.cv)
       |                 - 2*list_inner_product(e.v, c.cv), c.cid) AS rn
       |    FROM e CROSS JOIN $cents c)
       |  WHERE rn = 1""".stripMargin

  /** The Lloyd centroid update in SQL — per-(cid, dim) average
    * reassembled with `list(m ORDER BY i)`, the [[ivfOracle]] pattern.
    */
  private def centUpdateSql(assign: String): String =
    s"""SELECT cid, list(m ORDER BY i) AS cv FROM (
       |    SELECT a.cid, t.i, avg(e.v[t.i]) AS m
       |    FROM $assign a JOIN e USING (vec_id),
       |         unnest(generate_series(1, len(e.v))) t(i)
       |    GROUP BY a.cid, t.i)
       |  GROUP BY cid""".stripMargin

  /** [[kmeansMix]] re-derived in SQL: the same seeds, KmIters unrolled
    * assign/update rounds, final assignment, and the integer-only mix
    * report.
    */
  /** The WITH-clause prefix producing the converged assignment `af` —
    * the SQL twin of [[kmeansAssign]], shared by both clustering
    * oracles.
    */
  private val kmeansCtes: String = {
    val rounds = (1 to KmIters).map { i =>
      val prev = if (i == 1) "seeds" else s"c${i - 1}"
      s"a$i AS (${assignSql(prev)}),\nc$i AS (${centUpdateSql(s"a$i")})"
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |),
       |seeds AS (
       |  SELECT CAST(vec_id // $IvfSeedStep AS INT) AS cid, v AS cv
       |  FROM e WHERE vec_id % $IvfSeedStep = 0
       |    AND vec_id < ${IvfSeedStep.toLong * IvfCentroidCap}
       |),
       |$rounds,
       |af AS (${assignSql(s"c$KmIters")})""".stripMargin
  }

  private val kmeansMixOracle: String = {
    s"""WITH $kmeansCtes,
       |mix AS (
       |  SELECT a.cid, emb.label, count(*) AS n
       |  FROM af a JOIN embeddings emb USING (vec_id)
       |  GROUP BY a.cid, emb.label
       |)
       |SELECT CAST(cid AS BIGINT) AS cid, n_members,
       |  CAST(label AS BIGINT) AS top_label, n AS top_label_n
       |FROM (
       |  SELECT cid, label, n,
       |    row_number() OVER (PARTITION BY cid
       |      ORDER BY n DESC, label) AS rn,
       |    CAST(sum(n) OVER (PARTITION BY cid) AS BIGINT) AS n_members
       |  FROM mix)
       |WHERE rn = 1""".stripMargin
  }

  /** [[semanticDedup]] in SQL — the shared kmeans prefix, within-cluster
    * pairs, threshold, and the greedy witness aggregation.
    */
  private val semanticDedupOracle: String =
    s"""WITH $kmeansCtes,
       |pairs AS (
       |  SELECT y.vec_id AS b_id, x.vec_id AS a_id,
       |    list_cosine_similarity(ea.embedding::DOUBLE[],
       |                           eb.embedding::DOUBLE[]) AS sim
       |  FROM af x JOIN af y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN embeddings ea ON ea.vec_id = x.vec_id
       |  JOIN embeddings eb ON eb.vec_id = y.vec_id)
       |SELECT b_id AS drop_id, CAST(min(a_id) AS BIGINT) AS keep_id,
       |  count(*) AS n_similar
       |FROM pairs WHERE sim >= $SemTau
       |GROUP BY b_id""".stripMargin

  /** The same three integer power-iteration rounds in SQL: HUGEINT
    * Gram matrix, scalar-subquery max, truncating `//` renormalization.
    */
  private val pcaPowerOracle: String = {
    val rounds = (1 to PowerIters).map { k =>
      s"""mv$k AS (
         |  SELECT m.i, sum(m.m * v.v) AS mv
         |  FROM m JOIN v${k - 1} v ON v.j = m.j GROUP BY 1),
         |v$k AS (
         |  SELECT i AS j, (mv * 1000000) // (SELECT max(abs(mv)) FROM mv$k)
         |    AS v
         |  FROM mv$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (
       |  SELECT vec_id, i,
       |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
       |               * 1000000) AS HUGEINT) AS v
       |  FROM embeddings,
       |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
       |m AS (
       |  SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS m
       |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT j, 1000000::HUGEINT AS v FROM m),
       |$rounds
       |SELECT CAST(j AS BIGINT) AS i, CAST(v AS BIGINT) AS v
       |FROM v$PowerIters""".stripMargin
  }

  /** The definitional exact blocked top-k in SQL — the `sim_knn_recall`
    * reference side (formerly the `sim_knn_graph` oracle, retired from
    * that slot when the published artifact became the ANN composition).
    * The query side carries the same [[KnnRecallBudget]] md5-key sample
    * as [[knnGraphExactOn]] — a no-op at every gate SF (budget ≥ corpus
    * there), the linearity knob past them.
    */
  private val knnExactOracle: String =
    s"""SELECT vec_id, CAST(rk AS BIGINT) AS rank, nbr_id,
       |  round(sim, 4) AS sim
       |FROM (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    list_cosine_similarity(a.embedding::DOUBLE[],
       |                           b.embedding::DOUBLE[]) AS sim,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
       |                 b.embedding::DOUBLE[]) DESC, b.vec_id) AS rk
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id IN (
       |    SELECT vec_id FROM embeddings
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |    LIMIT $KnnRecallBudget))
       |WHERE rk <= $KnnK""".stripMargin

  /** [[knnGraphAnn]] in SQL — the shared [[ivfIndexCtes]] quantizer,
    * a per-vector probe ranking (rn = 1 is the home cell, rn ≤
    * [[KnnProbes]] the probe set), the same-label/probed-cell
    * candidate join, and the identical exact-cosine top-[[KnnK]] cut.
    */
  private def knnAnnOracleFor(sameLabelOnly: Boolean,
      k: Int = KnnK): String = {
    val labelCond = if (sameLabelOnly) " AND b.label = a.label" else ""
    s"""WITH $ivfIndexCtes,
       |vpr AS (
       |  SELECT vec_id, cid, rn FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_inner_product(c.cv, c.cv)
       |                 - 2*list_inner_product(e.v, c.cv), c.cid) AS rn
       |    FROM e CROSS JOIN centroids c)
       |  WHERE rn <= $KnnProbes)
       |SELECT vec_id, CAST(rk AS BIGINT) AS rank, nbr_id,
       |  round(sim, 4) AS sim
       |FROM (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    list_cosine_similarity(a.embedding::DOUBLE[],
       |                           b.embedding::DOUBLE[]) AS sim,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
       |                 b.embedding::DOUBLE[]) DESC, b.vec_id) AS rk
       |  FROM vpr p JOIN vpr h ON h.cid = p.cid AND h.rn = 1
       |    AND h.vec_id <> p.vec_id
       |  JOIN embeddings a ON a.vec_id = p.vec_id
       |  JOIN embeddings b ON b.vec_id = h.vec_id$labelCond)
       |WHERE rk <= $k""".stripMargin
  }

  private val knnAnnOracle: String = knnAnnOracleFor(sameLabelOnly = true)

  /** One beam-search hop as chained CTEs — candidates are the previous
    * beam plus its adjacency expansion (self excluded), exact-rescored
    * and cut to the width by the registry-wide (sim desc, id) total
    * order. Unrolled like the Lloyd rounds. Names carry a per-width
    * suffix so a multi-width sweep keeps every CTE name unique across
    * the whole statement — the materializer's requirement (a duplicate
    * name anywhere disables `AS MATERIALIZED` for it, and an
    * unmaterialized `gadj` re-derives the entire quantizer chain once
    * per hop — the r15 `graph_mst` trap all over again).
    */
  private def gnavHopCte(i: Int, beamWidth: Int): String = {
    val w = s"_$beamWidth"
    s"""gc$i$w AS (
       |  SELECT DISTINCT q_id, node FROM (
       |    SELECT q_id, node FROM gb${i - 1}$w
       |    UNION ALL
       |    SELECT b.q_id, a.nbr_id AS node
       |    FROM gb${i - 1}$w b JOIN gadj a ON a.vec_id = b.node)
       |  WHERE node <> q_id),
       |gs$i$w AS (
       |  SELECT c.q_id, c.node,
       |    list_cosine_similarity(q.qv, e.v) AS sim
       |  FROM gc$i$w c JOIN ge e ON e.vec_id = c.node
       |  JOIN gq q ON q.q_id = c.q_id),
       |gb$i$w AS (
       |  SELECT q_id, node, sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM gs$i$w) WHERE rn <= $beamWidth)""".stripMargin
  }

  /** The walk's shared CTE prefix: the cross-label kNN-graph oracle
    * symmetrized and degree-capped (UNION dedups exactly because a
    * pair's rounded sim is identical in both directions), the fixed
    * stride seeds, and the scored entry set. Outer names are g-prefixed
    * so they never collide with the names inside g0's nested scope
    * (e, seeds, centroids, ... from the quantizer CTEs) — uniqueness
    * text-wide is what lets the oracle materializer pin every frame.
    */
  private lazy val gnavPrefixCtes: String =
    s"""g0 AS (${knnAnnOracleFor(sameLabelOnly = false, k = GnavK)}),
       |gsym AS (
       |  SELECT vec_id, nbr_id, sim FROM g0
       |  UNION
       |  SELECT nbr_id AS vec_id, vec_id AS nbr_id, sim FROM g0),
       |gadj AS (
       |  SELECT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, nbr_id) AS rn
       |    FROM gsym) WHERE rn <= $GnavDegree),
       |ge AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |gq AS (SELECT vec_id AS q_id, v AS qv FROM ge
       |      WHERE vec_id < $NQueries),
       |gsd AS (
       |  SELECT vec_id AS node FROM ge
       |  WHERE vec_id % $GnavSeedStep = 0
       |    AND vec_id < ${GnavSeedStep * GnavSeedCap}),
       |gs0 AS (
       |  SELECT q.q_id, s.node,
       |    list_cosine_similarity(q.qv, e.v) AS sim
       |  FROM gq q CROSS JOIN gsd s JOIN ge e ON e.vec_id = s.node
       |  WHERE s.node <> q.q_id)""".stripMargin

  /** One width's full hop chain (entry cut + [[GnavHops]] hops). */
  private def gnavChainCtes(beamWidth: Int): String = {
    val w = s"_$beamWidth"
    s"""gb0$w AS (
       |  SELECT q_id, node, sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM gs0) WHERE rn <= $beamWidth),
       |${(1 to GnavHops).map(gnavHopCte(_, beamWidth)).mkString(",\n")}"""
      .stripMargin
  }

  /** The final beam's ranked top-[[K]] for one width. */
  private def gnavRankSql(beamWidth: Int): String =
    s"""SELECT q_id, node AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  round(sim, 4) + 0.0 AS sim
       |FROM (
       |  SELECT q_id, node, sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, node) AS rank
       |  FROM gb$GnavHops{W})
       |WHERE rank <= $K""".stripMargin.replace("{W}", s"_$beamWidth")

  /** [[annGraphNav]] in SQL. */
  private lazy val gnavOracle: String =
    s"""WITH $gnavPrefixCtes,
       |${gnavChainCtes(GnavBeam)}
       |${gnavRankSql(GnavBeam)}""".stripMargin

  /** [[gnavSoftDelete]] in SQL: the identical walk (tombstones route),
    * with `whereNode` filtering the final beam before the top-[[K]]
    * rank — survivors promote into the freed ranks exactly like the
    * engine side.
    */
  private[operators] def gnavDeleteOracleFor(whereNode: String): String =
    s"""WITH $gnavPrefixCtes,
       |${gnavChainCtes(GnavBeam)}
       |SELECT q_id, node AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  round(sim, 4) + 0.0 AS sim
       |FROM (
       |  SELECT q_id, node, sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, node) AS rank
       |  FROM gb$GnavHops{W} WHERE $whereNode)
       |WHERE rank <= $K""".stripMargin.replace("{W}", s"_$GnavBeam")

  /** [[gnavInsert]] in SQL: restrict the published adjacency to
    * resident endpoints (WITH its rounded sims — `radj0` re-derives
    * the degree cap from `gsym` keeping the sim column `gadj`
    * projects away), walk every arrival over it (`_ins`-suffixed hop
    * chain — name uniqueness keeps the materializer pinning every
    * frame), connect each arrival to its top-[[GnavK]] both ways, and
    * re-cap every node at [[GnavDegree]].
    */
  private lazy val gnavInsertOracle: String =
    s"""WITH $gnavPrefixCtes,
       |$gnavInsertChainCtes
       |$gnavUpdatedAdjSql""".stripMargin

  /** [[gnavInsertRecall]] in SQL: the insert chain, the updated
    * adjacency as a CTE, the standard-query walk over it (`_ur`
    * suffix), and the per-query recall join against the exact side.
    */
  private lazy val gnavInsertRecallOracle: String = {
    val hops = (1 to GnavHops).map { i =>
      s"""uc${i}_ur AS (
         |  SELECT DISTINCT q_id, node FROM (
         |    SELECT q_id, node FROM ub${i - 1}_ur
         |    UNION ALL
         |    SELECT b.q_id, a.nbr_id AS node
         |    FROM ub${i - 1}_ur b JOIN uadj a ON a.vec_id = b.node)
         |  WHERE node <> q_id),
         |us${i}_ur AS (
         |  SELECT c.q_id, c.node,
         |    list_cosine_similarity(q.qv, e.v) AS sim
         |  FROM uc${i}_ur c JOIN ge e ON e.vec_id = c.node
         |  JOIN gq q ON q.q_id = c.q_id),
         |ub${i}_ur AS (
         |  SELECT q_id, node, sim FROM (
         |    SELECT q_id, node, sim,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, node) AS rn
         |    FROM us${i}_ur) WHERE rn <= $GnavBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $gnavPrefixCtes,
       |$gnavInsertChainCtes,
       |uadj AS ($gnavUpdatedAdjSql),
       |ub0_ur AS (
       |  SELECT q_id, node, sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM gs0) WHERE rn <= $GnavBeam),
       |$hops,
       |ur_top AS (
       |  SELECT q_id, node FROM (
       |    SELECT q_id, node,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rank
       |    FROM ub${GnavHops}_ur) WHERE rank <= $K),
       |ur_tk AS ($topkOracle)
       |SELECT x.q_id, CAST(count(a.node) AS BIGINT) AS n_hits,
       |  count(*) AS k
       |FROM ur_tk x
       |LEFT JOIN ur_top a
       |  ON a.q_id = x.q_id AND a.node = x.neighbor_id
       |GROUP BY x.q_id""".stripMargin
  }

  /** The insert chain's CTE body (shared by [[gnavInsertOracle]] and
    * [[gnavInsertRecallOracle]]): resident restriction, arrival
    * walks, symmetric connect.
    */
  private lazy val gnavInsertChainCtes: String = {
    val hops = (1 to GnavHops).map { i =>
      s"""ic${i}_ins AS (
         |  SELECT DISTINCT q_id, node FROM (
         |    SELECT q_id, node FROM ib${i - 1}_ins
         |    UNION ALL
         |    SELECT b.q_id, a.nbr_id AS node
         |    FROM ib${i - 1}_ins b JOIN radj a ON a.vec_id = b.node)
         |  WHERE node <> q_id),
         |is${i}_ins AS (
         |  SELECT c.q_id, c.node,
         |    list_cosine_similarity(q.qv, e.v) AS sim
         |  FROM ic${i}_ins c JOIN ge e ON e.vec_id = c.node
         |  JOIN iq q ON q.q_id = c.q_id),
         |ib${i}_ins AS (
         |  SELECT q_id, node, sim FROM (
         |    SELECT q_id, node, sim,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, node) AS rn
         |    FROM is${i}_ins) WHERE rn <= $GnavBeam)""".stripMargin
    }.mkString(",\n")
    s"""radj0 AS (
       |  SELECT vec_id, nbr_id, sim FROM (
       |    SELECT vec_id, nbr_id, sim,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, nbr_id) AS rn
       |    FROM gsym) WHERE rn <= $GnavDegree),
       |radj AS (
       |  SELECT vec_id, nbr_id, sim FROM radj0
       |  WHERE vec_id % $ClsArrMod <> $ClsArrRem
       |    AND nbr_id % $ClsArrMod <> $ClsArrRem),
       |iq AS (SELECT vec_id AS q_id, v AS qv FROM ge
       |       WHERE vec_id % $ClsArrMod = $ClsArrRem),
       |is0_ins AS (
       |  SELECT q.q_id, s.node,
       |    list_cosine_similarity(q.qv, e.v) AS sim
       |  FROM iq q CROSS JOIN gsd s JOIN ge e ON e.vec_id = s.node
       |  WHERE s.node <> q.q_id),
       |ib0_ins AS (
       |  SELECT q_id, node, sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM is0_ins) WHERE rn <= $GnavBeam),
       |$hops,
       |itop AS (
       |  SELECT q_id, node, round(sim, 4) + 0.0 AS sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM ib${GnavHops}_ins) WHERE rn <= $GnavK),
       |newe AS (
       |  SELECT q_id AS vec_id, node AS nbr_id, sim FROM itop
       |  UNION
       |  SELECT node AS vec_id, q_id AS nbr_id, sim FROM itop),
       |upd AS (
       |  SELECT vec_id, nbr_id, sim FROM radj
       |  UNION
       |  SELECT vec_id, nbr_id, sim FROM newe)""".stripMargin
  }

  /** The updated adjacency's final degree re-cap over `upd` — the
    * insert face's emitted SELECT, and the recall oracle's `uadj`
    * body.
    */
  private lazy val gnavUpdatedAdjSql: String =
    s"""SELECT vec_id, nbr_id, sim FROM (
       |  SELECT vec_id, nbr_id, sim,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, nbr_id) AS rn
       |  FROM upd) WHERE rn <= $GnavDegree""".stripMargin

  /** The vacuum chain's CTE body (shared by [[gnavVacuumOracle]] and
    * [[gnavVacuumRecallOracle]]): prune, repair-floor selection, the
    * repair walks (`_vac` suffix — statement-wide CTE-name uniqueness
    * keeps the materializer pinning), symmetric connect, and the
    * keyed max-dedup union.
    */
  private lazy val gnavVacuumChainCtes: String = {
    val M = StreamingQueries.TakedownMod
    val R = StreamingQueries.TakedownRem
    val hops = (1 to GnavHops).map { i =>
      s"""vc${i}_vac AS (
         |  SELECT DISTINCT q_id, node FROM (
         |    SELECT q_id, node FROM vb${i - 1}_vac
         |    UNION ALL
         |    SELECT b.q_id, a.nbr_id AS node
         |    FROM vb${i - 1}_vac b JOIN vadj a ON a.vec_id = b.node)
         |  WHERE node <> q_id),
         |vs${i}_vac AS (
         |  SELECT c.q_id, c.node,
         |    list_cosine_similarity(q.qv, e.v) AS sim
         |  FROM vc${i}_vac c JOIN ge e ON e.vec_id = c.node
         |  JOIN vq q ON q.q_id = c.q_id),
         |vb${i}_vac AS (
         |  SELECT q_id, node, sim FROM (
         |    SELECT q_id, node, sim,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, node) AS rn
         |    FROM vs${i}_vac) WHERE rn <= $GnavBeam)""".stripMargin
    }.mkString(",\n")
    s"""vadj0 AS (
       |  SELECT vec_id, nbr_id, sim FROM (
       |    SELECT vec_id, nbr_id, sim,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, nbr_id) AS rn
       |    FROM gsym) WHERE rn <= $GnavDegree),
       |vadj AS (
       |  SELECT vec_id, nbr_id, sim FROM vadj0
       |  WHERE vec_id % $M <> $R AND nbr_id % $M <> $R),
       |vlost AS (
       |  SELECT DISTINCT vec_id FROM vadj0
       |  WHERE vec_id % $M <> $R AND nbr_id % $M = $R),
       |vdeg AS (SELECT vec_id, count(*) AS deg FROM vadj GROUP BY 1),
       |vrep AS (
       |  SELECT l.vec_id
       |  FROM vlost l LEFT JOIN vdeg dg ON dg.vec_id = l.vec_id
       |  WHERE coalesce(dg.deg, 0) < $GnavVacuumFloor),
       |vq AS (SELECT g.vec_id AS q_id, g.v AS qv
       |       FROM ge g JOIN vrep r ON r.vec_id = g.vec_id),
       |vs0_vac AS (
       |  SELECT q.q_id, s.node,
       |    list_cosine_similarity(q.qv, e.v) AS sim
       |  FROM vq q CROSS JOIN gsd s JOIN ge e ON e.vec_id = s.node
       |  WHERE s.node <> q.q_id),
       |vb0_vac AS (
       |  SELECT q_id, node, sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM vs0_vac) WHERE rn <= $GnavBeam),
       |$hops,
       |vtop AS (
       |  SELECT q_id, node, round(sim, 4) + 0.0 AS sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM vb${GnavHops}_vac) WHERE rn <= $GnavK),
       |vnew AS (
       |  SELECT q_id AS vec_id, node AS nbr_id, sim FROM vtop
       |  UNION
       |  SELECT node AS vec_id, q_id AS nbr_id, sim FROM vtop),
       |vupd AS (
       |  SELECT vec_id, nbr_id, max(sim) AS sim FROM (
       |    SELECT vec_id, nbr_id, sim FROM vadj
       |    UNION ALL
       |    SELECT vec_id, nbr_id, sim FROM vnew)
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The vacuumed adjacency's final degree re-cap over `vupd`. */
  private lazy val gnavVacuumAdjSql: String =
    s"""SELECT vec_id, nbr_id, sim FROM (
       |  SELECT vec_id, nbr_id, sim,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, nbr_id) AS rn
       |  FROM vupd) WHERE rn <= $GnavDegree""".stripMargin

  /** [[gnavVacuum]] in SQL. */
  private lazy val gnavVacuumOracle: String =
    s"""WITH $gnavPrefixCtes,
       |$gnavVacuumChainCtes
       |$gnavVacuumAdjSql""".stripMargin

  /** [[gnavVacuumRecall]] in SQL: the vacuum chain, the vacuumed
    * adjacency as a CTE, the standard-query walk over it (`_vr`
    * suffix), and the per-query recall join against the exact ranking
    * over the SURVIVING corpus.
    */
  private lazy val gnavVacuumRecallOracle: String = {
    val M = StreamingQueries.TakedownMod
    val R = StreamingQueries.TakedownRem
    val hops = (1 to GnavHops).map { i =>
      s"""wc${i}_vr AS (
         |  SELECT DISTINCT q_id, node FROM (
         |    SELECT q_id, node FROM wb${i - 1}_vr
         |    UNION ALL
         |    SELECT b.q_id, a.nbr_id AS node
         |    FROM wb${i - 1}_vr b JOIN vuadj a ON a.vec_id = b.node)
         |  WHERE node <> q_id),
         |ws${i}_vr AS (
         |  SELECT c.q_id, c.node,
         |    list_cosine_similarity(q.qv, e.v) AS sim
         |  FROM wc${i}_vr c JOIN ge e ON e.vec_id = c.node
         |  JOIN gq q ON q.q_id = c.q_id),
         |wb${i}_vr AS (
         |  SELECT q_id, node, sim FROM (
         |    SELECT q_id, node, sim,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, node) AS rn
         |    FROM ws${i}_vr) WHERE rn <= $GnavBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $gnavPrefixCtes,
       |$gnavVacuumChainCtes,
       |vuadj AS ($gnavVacuumAdjSql),
       |wb0_vr AS (
       |  SELECT q_id, node, sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM gs0) WHERE rn <= $GnavBeam),
       |$hops,
       |vr_top AS (
       |  SELECT q_id, node FROM (
       |    SELECT q_id, node,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rank
       |    FROM wb${GnavHops}_vr) WHERE rank <= $K),
       |vr_tk AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
       |                   e.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
       |    WHERE q.vec_id < $NQueries AND e.vec_id % $M <> $R)
       |  WHERE rank <= $K)
       |SELECT x.q_id, CAST(count(a.node) AS BIGINT) AS n_hits,
       |  count(*) AS k
       |FROM vr_tk x
       |LEFT JOIN vr_top a
       |  ON a.q_id = x.q_id AND a.node = x.neighbor_id
       |GROUP BY x.q_id""".stripMargin
  }

  /** One tagged beam-walk chain in SQL: seed scoring of `qCte`'s
    * queries (q_id, qv), the entry cut, [[GnavHops]] hops over
    * `adjCte`, and the top-[[GnavK]] cut with rounded sims — the
    * parameterized chained-CTE body composed maintenance oracles
    * reuse. Emits CTEs suffixed `_$tag`; the final frame is
    * `top_$tag (q_id, node, sim)`.
    */
  private def gnavWalkChainSql(tag: String, adjCte: String,
      qCte: String): String = {
    val hops = (1 to GnavHops).map { i =>
      s"""c${i}_$tag AS (
         |  SELECT DISTINCT q_id, node FROM (
         |    SELECT q_id, node FROM b${i - 1}_$tag
         |    UNION ALL
         |    SELECT b.q_id, a.nbr_id AS node
         |    FROM b${i - 1}_$tag b JOIN $adjCte a ON a.vec_id = b.node)
         |  WHERE node <> q_id),
         |s${i}_$tag AS (
         |  SELECT c.q_id, c.node,
         |    list_cosine_similarity(q.qv, e.v) AS sim
         |  FROM c${i}_$tag c JOIN ge e ON e.vec_id = c.node
         |  JOIN $qCte q ON q.q_id = c.q_id),
         |b${i}_$tag AS (
         |  SELECT q_id, node, sim FROM (
         |    SELECT q_id, node, sim,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, node) AS rn
         |    FROM s${i}_$tag) WHERE rn <= $GnavBeam)""".stripMargin
    }.mkString(",\n")
    s"""s0_$tag AS (
       |  SELECT q.q_id, s.node,
       |    list_cosine_similarity(q.qv, e.v) AS sim
       |  FROM $qCte q CROSS JOIN gsd s JOIN ge e ON e.vec_id = s.node
       |  WHERE s.node <> q.q_id),
       |b0_$tag AS (
       |  SELECT q_id, node, sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM s0_$tag) WHERE rn <= $GnavBeam),
       |$hops,
       |top_$tag AS (
       |  SELECT q_id, node, round(sim, 4) + 0.0 AS sim FROM (
       |    SELECT q_id, node, sim,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, node) AS rn
       |    FROM b${GnavHops}_$tag) WHERE rn <= $GnavK)""".stripMargin
  }

  /** The lifecycle capstone's gnav leg in SQL — the composed
    * maintenance schedule replayed as one chained-CTE program: base
    * restriction, wave-A arrival walks + connect + re-cap, takedown
    * prune + under-floor repair walks + re-cap (the vacuum), wave-B
    * walks over the vacuumed tier + final re-cap. The graph store has
    * no rebuild-without oracle (beam walks are path-dependent), so
    * its lifecycle gate is this deterministic replay, cross-engine.
    */
  private[operators] lazy val gnavLifecycleOracle: String = {
    val M = StreamingQueries.TakedownMod
    val R = StreamingQueries.TakedownRem
    val W = 2 * ClsArrMod
    def cap(src: String) =
      s"""SELECT vec_id, nbr_id, sim FROM (
         |  SELECT vec_id, nbr_id, sim,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, nbr_id) AS rn
         |  FROM $src) WHERE rn <= $GnavDegree""".stripMargin
    def dedupMax(a: String, b: String) =
      s"""SELECT vec_id, nbr_id, max(sim) AS sim FROM (
         |  SELECT vec_id, nbr_id, sim FROM $a
         |  UNION ALL
         |  SELECT vec_id, nbr_id, sim FROM $b) GROUP BY 1, 2""".stripMargin
    def symOf(top: String) =
      s"""SELECT q_id AS vec_id, node AS nbr_id, sim FROM $top
         |UNION
         |SELECT node AS vec_id, q_id AS nbr_id, sim FROM $top""".stripMargin
    s"""WITH $gnavPrefixCtes,
       |ladj0 AS (
       |  SELECT vec_id, nbr_id, sim FROM (
       |    SELECT vec_id, nbr_id, sim,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, nbr_id) AS rn
       |    FROM gsym) WHERE rn <= $GnavDegree),
       |lbase AS (
       |  SELECT vec_id, nbr_id, sim FROM ladj0
       |  WHERE vec_id % $ClsArrMod <> $ClsArrRem
       |    AND nbr_id % $ClsArrMod <> $ClsArrRem),
       |laq AS (SELECT vec_id AS q_id, v AS qv FROM ge
       |        WHERE vec_id % $W = $ClsArrRem),
       |${gnavWalkChainSql("lca", "lbase", "laq")},
       |lanew AS (${symOf("top_lca")}),
       |laup AS (${dedupMax("lbase", "lanew")}),
       |ladja AS (${cap("laup")}),
       |lprun AS (
       |  SELECT vec_id, nbr_id, sim FROM ladja
       |  WHERE vec_id % $M <> $R AND nbr_id % $M <> $R),
       |llost AS (
       |  SELECT DISTINCT vec_id FROM ladja
       |  WHERE vec_id % $M <> $R AND nbr_id % $M = $R),
       |ldeg AS (SELECT vec_id, count(*) AS deg FROM lprun GROUP BY 1),
       |lrep AS (
       |  SELECT l.vec_id
       |  FROM llost l LEFT JOIN ldeg dg ON dg.vec_id = l.vec_id
       |  WHERE coalesce(dg.deg, 0) < $GnavVacuumFloor),
       |lrq AS (SELECT g.vec_id AS q_id, g.v AS qv
       |        FROM ge g JOIN lrep r ON r.vec_id = g.vec_id),
       |${gnavWalkChainSql("lcr", "lprun", "lrq")},
       |lrnew AS (${symOf("top_lcr")}),
       |lvup AS (${dedupMax("lprun", "lrnew")}),
       |ladjv AS (${cap("lvup")}),
       |lbq AS (SELECT vec_id AS q_id, v AS qv FROM ge
       |        WHERE vec_id % $W = ${ClsArrRem + ClsArrMod}
       |          AND vec_id % $M <> $R),
       |${gnavWalkChainSql("lcb", "ladjv", "lbq")},
       |lbnew AS (${symOf("top_lcb")}),
       |lfup AS (${dedupMax("ladjv", "lbnew")})
       |${cap("lfup")}""".stripMargin
  }

  /** [[gnavTradeoff]] in SQL — ONE shared prefix (graph, seeds, entry
    * scores, and the exact side), one hop chain per swept width, and a
    * UNION ALL of the per-width recall rows. Sharing the prefix keeps
    * every CTE name unique statement-wide, so the materializer pins
    * the quantizer-derived frames once instead of re-deriving them per
    * width per hop.
    */
  private lazy val gnavTradeoffOracle: String = {
    val rows = GnavBeamBudgets.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS beam,
         |  count(*) AS n_possible,
         |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.neighbor_id) * 10000 // count(*) AS BIGINT)
         |    AS recall_bp
         |FROM gtk x
         |LEFT JOIN (SELECT q_id, neighbor_id FROM (${gnavRankSql(b)})) a
         |  ON a.q_id = x.q_id AND a.neighbor_id = x.neighbor_id"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $gnavPrefixCtes,
       |${GnavBeamBudgets.map(gnavChainCtes).mkString(",\n")},
       |gtk AS ($topkOracle)
       |$rows""".stripMargin
  }

  /** One hyperplane as a DuckDB DOUBLE-list literal — Scala's
    * `Double.toString` prints the shortest decimal that round-trips to
    * the identical IEEE bits, so the SQL side projects onto the SAME
    * planes the native expression ships to executors.
    */
  private def planeListSql(t: Int, p: Int): String =
    (0 until Dims).map(d => planeTensor(t)(p)(d).toString)
      .mkString("[", ", ", "]")

  /** Table t's sign-bucket id in SQL: Σ_p [v·plane_tp ≥ 0]·2^p — the
    * [[graft.functions.SignLshBuckets]] bit pattern verbatim.
    */
  private def bucketSql(t: Int): String =
    (0 until PlanesPerTable).map(p =>
      s"(CASE WHEN list_inner_product(v, ${planeListSql(t, p)}) >= 0 " +
        s"THEN ${1 << p} ELSE 0 END)").mkString(" + ")

  private lazy val lshOracle: String = {
    val bk = (0 until Tables).map(t =>
      s"SELECT vec_id, $t AS t, ${bucketSql(t)} AS bucket FROM e")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bk AS (
       |$bk),
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id
       |  FROM bk qb JOIN bk cb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |  WHERE qb.vec_id < $NQueries AND cb.vec_id <> qb.vec_id)
       |SELECT q_id, neighbor_id, rank, round(sim, 4) + 0.0 AS sim FROM (
       |  SELECT c.q_id, c.vec_id AS neighbor_id,
       |    list_cosine_similarity(qe.embedding::DOUBLE[],
       |                           ne.embedding::DOUBLE[]) AS sim,
       |    CAST(row_number() OVER (PARTITION BY c.q_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[],
       |                 ne.embedding::DOUBLE[]) DESC, c.vec_id) AS BIGINT)
       |      AS rank
       |  FROM cand c
       |  JOIN embeddings ne ON ne.vec_id = c.vec_id
       |  JOIN embeddings qe ON qe.vec_id = c.q_id)
       |WHERE rank <= $K""".stripMargin
  }

  private val mipsOracle: String =
    s"""WITH el AS (
       |  SELECT vec_id, i,
       |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
       |               * 1000) AS BIGINT) AS x
       |  FROM embeddings,
       |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
       |sc AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    CAST(sum(q.x * e.x) AS BIGINT) AS score_scaled
       |  FROM el q JOIN el e ON e.i = q.i AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT q_id, vec_id, score_scaled, row_number() OVER (
       |    PARTITION BY q_id ORDER BY score_scaled DESC, vec_id) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  score_scaled
       |FROM rk WHERE rank <= $K""".stripMargin

  /** [[annSq]] in SQL — same 1e3 elements, per-dim min/max grid,
    * inline encode→dequantize, and integer-dot ranking.
    */
  private val sqOracle: String =
    s"""WITH el AS (
       |  SELECT vec_id, i,
       |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
       |               * 1000) AS BIGINT) AS xq
       |  FROM embeddings,
       |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
       |rg AS (SELECT i, min(xq) AS mn, max(xq) AS mx FROM el GROUP BY 1),
       |dec AS (
       |  SELECT el.vec_id, el.i,
       |    CASE WHEN rg.mx > rg.mn
       |      THEN rg.mn + ((((el.xq - rg.mn) * $SqLevels)
       |        // (rg.mx - rg.mn)) * (rg.mx - rg.mn)) // $SqLevels
       |      ELSE rg.mn END AS dx
       |  FROM el JOIN rg ON rg.i = el.i),
       |q AS (SELECT vec_id AS q_id, i, xq AS qx FROM el
       |      WHERE vec_id < $NQueries),
       |sc AS (
       |  SELECT q.q_id, d.vec_id,
       |    CAST(sum(q.qx * d.dx) AS BIGINT) AS score_scaled
       |  FROM q JOIN dec d ON d.i = q.i AND d.vec_id <> q.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, vec_id AS neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  score_scaled
       |FROM (
       |  SELECT q_id, vec_id, score_scaled, row_number() OVER (
       |    PARTITION BY q_id ORDER BY score_scaled DESC, vec_id) AS rank
       |  FROM sc)
       |WHERE rank <= $K""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_knn_graph" -> knnAnnOracle,
    "sim_ann_graph" -> gnavOracle,
    "sim_gnav_insert" -> gnavInsertOracle,
    "sim_gnav_insert_recall" -> gnavInsertRecallOracle,
    "sim_gnav_vacuum" -> gnavVacuumOracle,
    "sim_gnav_vacuum_recall" -> gnavVacuumRecallOracle,
    // per-query beam-search agreement against the exact ranking —
    // both sides the oracles' own text, joined on the pair key
    "sim_gnav_recall" ->
      s"""SELECT x.q_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
         |  count(*) AS k
         |FROM ($topkOracle) x
         |LEFT JOIN (SELECT q_id, neighbor_id FROM ($gnavOracle)) a
         |  ON a.q_id = x.q_id AND a.neighbor_id = x.neighbor_id
         |GROUP BY x.q_id""".stripMargin,
    "sim_gnav_tradeoff" -> gnavTradeoffOracle,
    "sim_knn_classify" ->
      s"""WITH g AS (${knnAnnOracleFor(sameLabelOnly = false)}),
         |v AS (SELECT g.vec_id, CAST(eb.label AS BIGINT) AS nl,
         |        count(*) AS n_votes
         |      FROM g JOIN embeddings eb ON eb.vec_id = g.nbr_id
         |      GROUP BY 1, 2),
         |p AS (SELECT vec_id, nl AS pred_label FROM (
         |        SELECT vec_id, nl, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY n_votes DESC, nl) AS rn FROM v)
         |      WHERE rn = 1)
         |SELECT CAST(ea.label AS BIGINT) AS true_label, p.pred_label,
         |  count(*) AS n
         |FROM p JOIN embeddings ea ON ea.vec_id = p.vec_id
         |GROUP BY 1, 2""".stripMargin,
    // edge agreement of the ANN composition against the exact blocked
    // form — both sides the oracles' own text, joined on the pair key
    "sim_knn_recall" ->
      s"""SELECT count(*) AS n_possible,
         |  CAST(count(a.nbr_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.nbr_id) * 10000 // count(*) AS BIGINT)
         |    AS recall_bp
         |FROM ($knnExactOracle) x
         |LEFT JOIN (SELECT vec_id, nbr_id FROM ($knnAnnOracle)) a
         |  ON a.vec_id = x.vec_id AND a.nbr_id = x.nbr_id""".stripMargin,
    // identical 1e3 quantization, HUGEINT (exact) sums, and the same
    // cross-multiplied integer z-score inequality — no float anywhere
    "embed_outliers" ->
      """WITH x AS (
        |  SELECT vec_id, i,
        |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
        |               * 1000) AS HUGEINT) AS v
        |  FROM embeddings,
        |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
        |n2 AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2
        |       FROM x GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(n2) AS HUGEINT) AS s,
        |         sum(CAST(n2 AS HUGEINT) * n2) AS q2
        |       FROM n2)
        |SELECT vec_id, n2,
        |  (n * n2 - s) * (n * n2 - s) > 4 * (n * q2 - s * s) AS is_outlier
        |FROM n2, st""".stripMargin,
    "embed_pca_power" -> pcaPowerOracle,
    // the projection oracle re-derives the direction from the SAME
    // unrolled recurrence and joins it back onto the quantized
    // elements — exact integers end to end
    "embed_project" ->
      s"""WITH dir AS (SELECT i, v FROM ($pcaPowerOracle)),
         |x AS (
         |  SELECT vec_id, i,
         |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
         |               * 1000000) AS HUGEINT) AS q
         |  FROM embeddings,
         |       unnest(generate_series(0, len(embedding) - 1)) t(i))
         |SELECT x.vec_id, CAST(sum(x.q * dir.v) AS BIGINT) AS proj
         |FROM x JOIN dir ON dir.i = x.i
         |GROUP BY 1""".stripMargin,
    // Exact-integer twin of the Spark side: identical 1e6 quantization,
    // HUGEINT (order-independent) sums, one double division at the end.
    "embed_covariance" ->
      """WITH x AS (
        |  SELECT vec_id, i,
        |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
        |               * 1000000) AS HUGEINT) AS v
        |  FROM embeddings,
        |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
        |m AS (SELECT i, sum(v) AS sx FROM x GROUP BY i),
        |p AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS sxy,
        |    count(*) AS n
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - mi.sx * mj.sx AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12),
        |        6) + 0.0 AS cov
        |FROM p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j""".stripMargin,
    "sim_topk_bruteforce" -> topkOracle,
    // exact integer inner products on the 1e3-quantized elements
    "sim_mips" -> mipsOracle,
    // the trained grid, codes, dequantized points and scores are all
    // exact integers (floor divisions on nonnegative operands only),
    // so the whole SQ8 structure hash-checks like the PQ one
    "sim_ann_sq" -> sqOracle,
    // same 1e3 quantization + equal-width binning; the L1 statistic is
    // pure int64 on both sides
    "embed_drift" ->
      s"""WITH el AS (
         |  SELECT vec_id, i,
         |    CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
         |               * 1000) AS BIGINT) AS xq
         |  FROM embeddings,
         |       unnest(generate_series(0, len(embedding) - 1)) t(i)),
         |rg AS (SELECT i, min(xq) AS mn, max(xq) AS mx FROM el GROUP BY 1),
         |cnt AS (
         |  SELECT el.i,
         |    ((el.xq - rg.mn) * $DriftBuckets) // (rg.mx - rg.mn + 1)
         |      AS bucket,
         |    CAST(sum(CASE WHEN el.vec_id % 2 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN el.vec_id % 2 = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_b
         |  FROM el JOIN rg ON rg.i = el.i
         |  GROUP BY 1, 2),
         |tot AS (SELECT i, sum(n_a) AS ta, sum(n_b) AS tb
         |        FROM cnt GROUP BY 1)
         |SELECT CAST(cnt.i AS BIGINT) AS i,
         |  CAST(min(tot.ta) AS BIGINT) AS n_a_total,
         |  CAST(min(tot.tb) AS BIGINT) AS n_b_total,
         |  CAST(sum(abs(cnt.n_a * tot.tb - cnt.n_b * tot.ta)) AS BIGINT)
         |    AS l1_x_scaled,
         |  CAST(max(abs(cnt.n_a * tot.tb - cnt.n_b * tot.ta)) AS BIGINT)
         |    AS max_bucket_contrib
         |FROM cnt JOIN tot ON tot.i = cnt.i
         |GROUP BY 1""".stripMargin,
    // recall of the SQ8 ranking against the exact integer-dot ranking
    // — both sides the oracles' own text, joined on the pair key
    "sim_sq_recall" ->
      s"""SELECT ex.q_id,
         |  CAST(count(sq.neighbor_id) AS BIGINT) AS n_hits,
         |  count(*) AS k
         |FROM (SELECT q_id, neighbor_id FROM ($mipsOracle)) ex
         |LEFT JOIN (SELECT q_id, neighbor_id FROM ($sqOracle)) sq
         |  ON sq.q_id = ex.q_id AND sq.neighbor_id = ex.neighbor_id
         |GROUP BY 1""".stripMargin,
    "embed_kmeans_mix" -> kmeansMixOracle,
    "dedup_semantic" -> semanticDedupOracle,
    // the Aggregator formulation must reproduce the window formulation
    // exactly — same oracle, different physical shape
    "sim_topk_agg" -> topkOracle,
    // the IVF construction is plain relational algebra, so it
    // graduates to a full hash-checked row
    "sim_ann_ivf" -> ivfOracle,
    // the hyperplane tensor is deterministic Scala — so it embeds as
    // DOUBLE-list LITERALS (the ndcgWeights move applied to geometry):
    // shortest-roundtrip decimal printing parses back to the identical
    // bits, list_inner_product is the same forward-order fold as the
    // native expression, and the sign test is exact — the last ANN
    // face graduates from rows-only to hash-checked
    "sim_ann_lsh" -> lshOracle,
    // recall of the IVF ranking against brute force, both sides the
    // oracles' own CTEs (DuckDB allows WITH inside a derived table)
    "sim_ann_recall" ->
      s"""SELECT bf.q_id,
         |  CAST(count(iv.neighbor_id) AS BIGINT) AS n_hits,
         |  count(*) AS k
         |FROM (SELECT q_id, neighbor_id FROM ($topkOracle)) bf
         |LEFT JOIN (SELECT q_id, neighbor_id FROM ($ivfOracle)) iv
         |  ON iv.q_id = bf.q_id AND iv.neighbor_id = bf.neighbor_id
         |GROUP BY 1""".stripMargin,
    // the recall sweep: the ivf CTEs verbatim plus an unfiltered probe
    // ranking, budgets fanned out by a join on pr <= nprobe
    "sim_ann_tradeoff" ->
      s"""WITH $ivfCtes,
         |probes_r AS (
         |  SELECT q_id, cid, pr FROM (
         |    SELECT q.q_id, c.cid,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY list_inner_product(c.cv, c.cv)
         |                 - 2*list_inner_product(q.qv, c.cv), c.cid) AS pr
         |    FROM q CROSS JOIN centroids c)
         |  WHERE pr <= 8),
         |b AS (SELECT unnest([1, 2, 4, 8]::BIGINT[]) AS nprobe),
         |cand AS (
         |  SELECT b.nprobe, p.q_id, l.vec_id
         |  FROM probes_r p JOIN b ON p.pr <= b.nprobe
         |  JOIN lists l USING (cid)
         |  WHERE l.vec_id <> p.q_id),
         |ranked AS (
         |  SELECT c.nprobe, c.q_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY c.nprobe, c.q_id
         |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[],
         |        ne.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
         |  FROM cand c
         |  JOIN embeddings ne ON ne.vec_id = c.vec_id
         |  JOIN embeddings qe ON qe.vec_id = c.q_id),
         |tk AS (SELECT nprobe, q_id, neighbor_id FROM ranked
         |       WHERE rank <= $K),
         |bf AS (
         |  SELECT b.nprobe, t.q_id, t.neighbor_id
         |  FROM (SELECT q_id, neighbor_id FROM ($topkOracle)) t
         |  CROSS JOIN b)
         |SELECT bf.nprobe,
         |  CAST(count(tk.neighbor_id) AS BIGINT) AS n_hits,
         |  count(*) AS n_possible,
         |  CAST(count(tk.neighbor_id) AS BIGINT) * 10000 // count(*)
         |    AS recall_bp
         |FROM bf LEFT JOIN tk ON tk.nprobe = bf.nprobe
         |  AND tk.q_id = bf.q_id AND tk.neighbor_id = bf.neighbor_id
         |GROUP BY 1""".stripMargin,
    // the full PQ structure — codebooks, codes, ADC tables, ranking —
    // in exact integers, so the whole index hash-checks
    "sim_ann_pq" -> pqOracle,
    // recall of the ADC ranking vs brute force — the compression-loss
    // number as a hash-checked report, like sim_ann_recall for pruning
    "sim_pq_recall" ->
      s"""SELECT bf.q_id,
         |  CAST(count(pq.neighbor_id) AS BIGINT) AS n_hits,
         |  count(*) AS k
         |FROM (SELECT q_id, neighbor_id FROM ($topkOracle)) bf
         |LEFT JOIN (SELECT q_id, neighbor_id FROM ($pqOracle)) pq
         |  ON pq.q_id = bf.q_id AND pq.neighbor_id = bf.neighbor_id
         |GROUP BY 1""".stripMargin,
    // the composed production shape: IVF candidates priced by PQ — the
    // ivf CTEs and the pq CTEs of the two standalone oracles, joined
    "sim_ann_ivfpq" ->
      s"""WITH $ivfCtes,
         |$pqCtes,
         |cand AS (SELECT p.q_id, l.vec_id
         |         FROM lists l JOIN probes p USING (cid)
         |         WHERE l.vec_id <> p.q_id),
         |adc AS (
         |  SELECT c.q_id, c.vec_id AS neighbor_id,
         |    CAST(sum(dt.d2) AS BIGINT) AS adc_dist
         |  FROM cand c
         |  JOIN codes co ON co.vec_id = c.vec_id
         |  JOIN dt ON dt.q_id = c.q_id AND dt.m = co.m AND dt.k = co.k
         |  GROUP BY 1, 2)
         |$adcRankSql""".stripMargin,
    // sim_ann_lsh: intentionally no oracle — hyperplane hashing is not
    // reproducible in DuckDB; correctness = recall test in SimilaritySpec.
    "embed_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      AS maxabs
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN maxabs = 0 THEN 0
        |         ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs))
        |                   AS BIGINT) END AS qx
        |  FROM m, unnest(embedding) t(x))
        |SELECT vec_id, count(*) AS dim, CAST(sum(qx) AS BIGINT) AS q_sum,
        |  min(qx) AS q_min, max(qx) AS q_max
        |FROM q GROUP BY 1""".stripMargin,
  )
}
