package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the near-dup similarity graph (the LSH pair
  * set): which documents are the HUBS of their duplicate neighborhoods?
  * PageRank's stationary mass is the principled centrality for
  * canonical-document selection — an alternative to
  * `dedup_keep_best`'s longest-doc rule that prefers the doc most
  * connected to its cluster — and the classic iterative-graph workload
  * an analytics engine is expected to run at scale.
  *
  * Arithmetic is ENTIRELY integer (ranks scaled by [[Scale]], damping
  * applied as `(85 · x) div 100`, per-neighbor contributions as
  * `rank div degree`): no float summation order anywhere, so Spark and
  * DuckDB agree bit-for-bit on every intermediate and the oracle
  * hash-matches without rounding guards. Mass bounds: total rank mass
  * stays ≤ nodes · Scale, so a 64-bit sum never overflows below ~10^11
  * participating docs.
  *
  * Scale shape: per iteration one equi-join of the edge list with the
  * rank table and one map-side-combinable sum — the standard
  * distributed PageRank round. Three unrolled rounds keep the single
  * DAG shallow; a production run loops with the checkpoint-per-
  * generation machinery of [[Dedup.connectedComponentsWithRounds]].
  */
object GraphOps {

  type Q = (SparkSession, String) => DataFrame

  private val Scale = 1000000L
  private val Iters = 3

  private val pagerank: Q = (s, d) =>
    pagerankOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  /** The iteration body on an arbitrary undirected `(a_id, b_id)` pair
    * frame — split out so the integer arithmetic is testable on a
    * literal graph.
    */
  private[graft] def pagerankOn(pairs: DataFrame): DataFrame = {
    val (e, deg) = prepareEdges(pairs)
    val r0 = deg.select(col("src").as("doc_id"), lit(Scale).as("rank"))
    (1 to Iters).foldLeft(r0)((ranks, _) => pagerankStep(e, ranks))
  }

  /** Pin the pair derivation ONCE and pre-join degrees: the iteration
    * references the edge frame once per round plus once for degrees,
    * and without materialization each reference re-executes the whole
    * upstream pipeline (for the registry query, the LSH banding —
    * measured 3.5 s vs <1 s pinned at sf0.1). Returns the materialized
    * `(src, dst, deg)` edge frame and the degree table.
    */
  private def prepareEdges(pairs: DataFrame): (DataFrame, DataFrame) = {
    val p = Dedup.materialize(pairs.toDF("a_id", "b_id"))
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    (Dedup.materialize(edges.join(deg, Seq("src"))), deg)
  }

  /** One integer PageRank round: equi-join edges with ranks, map-side-
    * combinable sum of `rank div deg` contributions, damp as
    * `0.15·Scale + (85·Σ) div 100` — all integer, see class doc.
    */
  private def pagerankStep(e: DataFrame, ranks: DataFrame): DataFrame =
    e.join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
      .select(col("dst"), expr("rank DIV deg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      .select(col("dst").as("doc_id"),
        (lit(15L * Scale / 100) + expr("(85 * sc) DIV 100")).as("rank"))

  /** Seed predicate of the personalized walk — a deterministic slice of
    * the node ids so both engines (and any sf) agree on the restart set.
    */
  private val PprSeedMod = 5L

  /** PERSONALIZED PageRank (the random walk restarts only to a SEED
    * set, not uniformly): rank mass decays with distance from the
    * seeds, so scores mean "how reachable from these known-good nodes"
    * — the curation primitive behind "find documents like this vetted
    * set" over the near-dup graph, and the standard seeded-trust /
    * spam-mass construction. Same integer recurrence as
    * [[pagerankStep]] with the teleport term GATED on seed membership
    * (`r' = [v∈S]·0.15·Scale + (85·Σ rank div deg) div 100`, `r₀ =
    * [v∈S]·Scale`); non-seeds far from any seed decay geometrically to
    * the integer floor — visible in the output as exact zeros, which
    * plain PageRank never produces.
    *
    * Scale shape: identical to [[pagerankOn]] — the edge frame pins
    * once, each round is one equi-join + map-side-combinable sum on the
    * edge key, [[Iters]] rounds unrolled for the oracle face.
    */
  private[graft] def pprOn(pairs: DataFrame): DataFrame = {
    val (e, deg) = prepareEdges(pairs)
    def restart(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(pmod(id, lit(PprSeedMod)) === 0, lit(1L)).otherwise(lit(0L))
    val r0 = deg.select(col("src").as("doc_id"),
      (restart(col("src")) * Scale).as("rank"))
    val ranks = (1 to Iters).foldLeft(r0) { (ranks, _) =>
      e.join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
        .select(col("dst").as("doc_id"),
          (restart(col("dst")) * lit(15L * Scale / 100)
            + expr("(85 * sc) DIV 100")).as("rank"))
    }
    ranks.select(col("doc_id"), col("rank"),
      restart(col("doc_id")).as("is_seed"))
  }

  private val ppr: Q = (s, d) =>
    pprOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  /** The weighted undirected edge list for the spanning forest: the
    * shared kNN graph, symmetrized, with the EXACT integer weight
    * `10⁴ − round(sim·10⁴)` (sim is already the hash-checked 4-decimal
    * rounding, so both engines derive the identical integer) — small
    * weight = more similar.
    */
  private def mstEdges(s: SparkSession, d: String): DataFrame =
    Similarity.knnShared(s, d)
      .select(least(col("vec_id"), col("nbr_id")).as("u"),
        greatest(col("vec_id"), col("nbr_id")).as("v"),
        (lit(10000L) - round(col("sim") * 10000).cast("long")).as("w"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))

  /** MINIMUM SPANNING FOREST via distributed Boruvka — the backbone of
    * single-linkage clustering over the similarity graph (cut the MSF's
    * heaviest edges and the components ARE the single-linkage clusters)
    * and the classic O(log n)-round distributed MST. Each round every
    * component selects its minimum incident cross-component edge
    * (map-side-combinable `min(struct)` — no sorting, no global
    * sequential pass), selected edges join the forest, and the touched
    * components contract through the registry's own pointer-doubling
    * components machinery. Components at least HALVE per round, so the
    * loop is O(log n) rounds of equi-joins however large the graph —
    * the published distributed shape, vs Kruskal's inherently
    * sequential sorted-edge walk.
    *
    * DETERMINISM: the comparator is the lexicographic `(w, u, v)` — a
    * total order, i.e. all "weights" distinct — so the MSF is UNIQUE
    * and the DuckDB oracle may compute it with sequential Kruskal (a
    * recursive CTE walking the ranked edges, carrying the union-find
    * label vector as a list column): two different published
    * algorithms, one hash.
    *
    * Cost shape (measured 8.1 s at sf0.1): ~8 rounds × the components
    * sub-loop's fixed per-round actions — FULL contraction per round is
    * load-bearing (under partial contraction a component's "min cross
    * edge" can close a cycle inside its own tree), so the bill is the
    * fixpoint machinery, amortized by data volume at real scale, not by
    * round count.
    */
  private[graft] def boruvkaMsf(edges0: DataFrame): DataFrame = {
    val edges = Dedup.materialize(edges0.toDF("u", "v", "w"))
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct()
    var comp = Dedup.materialize(
      nodes.select(col("id"), col("id").as("comp")))
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rounds = 0
    var done = false
    while (!done && rounds < 25) {
      val cu = comp.select(col("id").as("u"), col("comp").as("cu"))
      val cv = comp.select(col("id").as("v"), col("comp").as("cv"))
      val e = edges.join(cu, Seq("u")).join(cv, Seq("v"))
        .filter(col("cu") =!= col("cv"))
      val m = struct(col("w"), col("u"), col("v"), col("cu"), col("cv"))
      val chosen = Dedup.materialize(
        e.select(col("cu").as("c"), m.as("m"))
          .union(e.select(col("cv").as("c"), m.as("m")))
          .groupBy(col("c")).agg(min(col("m")).as("m"))
          .select(col("m.w").as("w"), col("m.u").as("u"),
            col("m.v").as("v"), col("m.cu").as("cu"), col("m.cv").as("cv"))
          .distinct())
      if (chosen.isEmpty) done = true
      else {
        picked += chosen
        // CC returns (doc_id, component) — rename BEFORE aliasing
        // doc_id to comp, or Spark's lateral-column-alias resolution
        // silently binds the second alias to the first (nc = doc_id,
        // an identity relabel that never converges)
        val (lbl, _) = Dedup.connectedComponentsWithRounds(
          chosen.select(col("cu").as("a_id"), col("cv").as("b_id")))
        val relbl = lbl.select(col("doc_id").as("comp"),
          col("component").as("nc"))
        val next = Dedup.materialize(
          comp.join(relbl, Seq("comp"), "left")
            .select(col("id"), coalesce(col("nc"), col("comp")).as("comp")))
        Dedup.releaseCheckpoint(comp)
        comp = next
      }
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(
        "boruvka did not converge in 25 rounds — components must halve " +
          "per round, so this is a merge bug, not a data property")
    Dedup.releaseCheckpoint(comp)
    Dedup.releaseCheckpoint(edges)
    // the per-round chosen frames stay checkpointed — the caller's
    // action reads their union (each is ≤ components-that-round rows)
    picked.map(_.select(col("u"), col("v"), col("w")))
      .reduceOption(_.union(_))
      .getOrElse(edges0.toDF("u", "v", "w").limit(0))
  }

  /** The MSF as a SHARED ARTIFACT — a pure function of the embeddings
    * table and the kNN parameters, built once per dataset version (the
    * Boruvka loop is the expensive part: ~8 s at sf0.1) and adopted by
    * both the forest face and the single-linkage clusters face. The
    * layout tag pins the kNN geometry + the weight rule.
    */
  private[graft] lazy val msfShared = Materialized.shared("msf_shared_build",
      "msf_", "msf:v1:knn3:w1e4", "embeddings.parquet")(
      Materialized.parquet("msf")) { (s, d, staging) =>
    boruvkaMsf(mstEdges(s, d)).write.mode("overwrite")
      .parquet(staging.resolve("msf").toString)
  }

  private val mst: Q = (s, d) => msfShared(s, d)

  /** STAR-CONTRACTION connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the published
    * O(log n)-round CC whose convergence does NOT depend on graph
    * shape: alternate LARGE-STAR (every node hooks its strictly-larger
    * neighbors to its neighborhood minimum) and SMALL-STAR (hooks the
    * smaller-or-equal ones) until the edge set stabilizes as stars,
    * whose centers are the component minima. This complements
    * [[Dedup.connectedComponentsWithRounds]]'s min-label flooding,
    * which is O(component diameter) on tree-shaped graphs with
    * randomly arranged ids (labels stall on local minima — measured 26
    * rounds on the sf0.1 MSF cut vs SEVEN here). Each star op is one
    * groupBy(min) + equi-join — no sorting, no driver graph.
    *
    * Returns `(doc_id, component)` for every node incident to an edge,
    * plus rounds taken. Fixpoint detection: a (count, Σ(u·P+v))
    * checksum as the cheap per-round filter, CONFIRMED by an exact
    * anti-join set comparison when it matches — the star alternation
    * leaves the set literally unchanged at the fixpoint, but the set is
    * not monotone, so checksum equality alone can't be trusted as the
    * stop.
    */
  private[graft] def starComponents(pairs: DataFrame, maxRounds: Int = 40)
      : (DataFrame, Int) = {
    import org.apache.spark.sql.types.DecimalType
    val p0 = pairs.toDF("a_id", "b_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v")).distinct()
    var e = Dedup.materialize(p0)
    def sym(df: DataFrame): DataFrame =
      df.select(col("u").as("x"), col("v").as("y"))
        .union(df.select(col("v").as("x"), col("u").as("y")))
    def mins(df: DataFrame): DataFrame = sym(df).groupBy(col("x"))
      .agg(least(col("x"), min(col("y"))).as("m"))
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum((col("u") * 2097169L + col("v")).cast(DecimalType(38, 0)))).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    var rounds = 0
    var done = e.isEmpty
    var prev = checksum(e)
    while (!done && rounds < maxRounds) {
      val ls = sym(e).join(mins(e), Seq("x"))
        .filter(col("y") > col("x"))
        .select(least(col("m"), col("y")).as("u"),
          greatest(col("m"), col("y")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val e2 = Dedup.materialize(ls)
      val m2 = mins(e2)
      val ss = sym(e2).join(m2, Seq("x"))
        .filter(col("y") < col("x"))
        .select(least(col("m"), col("y")).as("u"),
          greatest(col("m"), col("y")).as("v"))
        .union(m2.select(least(col("m"), col("x")).as("u"),
          greatest(col("m"), col("x")).as("v")))
        .filter(col("u") =!= col("v")).distinct()
      val e3 = Dedup.materialize(ss)
      Dedup.releaseCheckpoint(e2)
      val cs = checksum(e3)
      // The star alternation's edge set is NOT monotone (unlike the
      // min-label loop's label sum), so checksum equality alone could
      // collide between two different edge sets and stop early with
      // wrong labels. The checksum stays as the cheap per-round filter;
      // equality is CONFIRMED by an exact set comparison — counts match
      // (count rides in the checksum) and e3 \ e = ∅ together prove the
      // distinct sets equal. Runs at most once per contraction, on the
      // already-tiny fixpoint set.
      done = cs == prev &&
        e3.join(e, Seq("u", "v"), "left_anti").isEmpty
      Dedup.releaseCheckpoint(e)
      prev = cs
      e = e3
      rounds += 1
    }
    if (!done && rounds >= maxRounds)
      throw new IllegalStateException(
        s"star contraction did not converge within $maxRounds rounds")
    // stars: centers are component minima; members point at them
    val labels = e.select(col("v").as("doc_id"), col("u").as("component"))
      .union(e.select(col("u").as("doc_id"), col("u").as("component")))
      .distinct()
    (labels, rounds)
  }

  /** Single-linkage cut threshold (weight = 10⁴−sim·10⁴; edges above it
    * — less similar than ~0.25 cosine — are cut). Sits inside the MSF's
    * observed weight range so both real clusters and real cuts occur.
    */
  private val MstCutW = 7500L

  /** SINGLE-LINKAGE CLUSTERS from the spanning forest — the payoff of
    * [[boruvkaMsf]]: cutting every MSF edge heavier than [[MstCutW]]
    * yields exactly the connected components of the FULL graph
    * restricted to edges ≤ the threshold (the classic single-linkage
    * identity — the MSF is a compressed dendrogram, so one forest
    * build answers EVERY threshold). The Spark side computes it the
    * cheap way (cut the ≤|V|-edge forest, label with the components
    * machinery); the oracle computes it the definitional way (the
    * recursive transitive closure over ALL threshold edges): the hash
    * equality IS the identity's proof on this data. Vectors isolated by
    * the cut keep their own id as a singleton cluster.
    */
  private val mstClusters: Q = (s, d) => {
    val kept = msfShared(s, d).filter(col("w") <= MstCutW)
    // the cut graph is a FOREST — min-label flooding is O(cluster
    // diameter) on tree shapes with randomly arranged ids (labels
    // stall on local minima: measured 26 rounds at sf0.1, past the
    // default cap), so this face labels through [[starComponents]]
    // instead — 7 rounds on the same graph, O(log) by construction
    val (lbl, _) = starComponents(
      kept.select(col("u").as("a_id"), col("v").as("b_id")))
    graft.Tables.load(s, d, "embeddings").select(col("vec_id"))
      .join(lbl.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
  }

  /** PageRank run to CONVERGENCE — the production shape a real user
    * asks for, vs the registry query's fixed [[Iters]] rounds (kept as
    * the oracle-checkable face; both share [[pagerankStep]], so the
    * loop IS the audited recurrence). Each generation is materialized
    * with the same eager-checkpoint machinery as
    * [[Dedup.connectedComponentsWithRounds]] — lineage truncation per
    * round, superseded generations released (including reliable
    * checkpoint files) — so the DAG stays constant-size however many
    * rounds convergence takes.
    *
    * Stopping rule is an INTEGER rank delta: `Σ|rankₙ − rankₙ₋₁| ≤
    * tolPerNode · nodes`. With damping 85/100 the true delta contracts
    * geometrically until integer-truncation noise (order `deg` units
    * per node) dominates, so a per-node tolerance ≥ a few units always
    * terminates; exact-zero might never hit (integer dynamics can
    * settle into a ±1 cycle instead of a fixpoint). One tiny aggregate
    * per round — same cost discipline as the components fixpoint sum.
    * Returns the final ranks and the number of rounds run.
    */
  private[graft] def pagerankConverged(pairs: DataFrame,
      tolPerNode: Long = 10L, maxRounds: Int = 100): (DataFrame, Int) = {
    import org.apache.spark.sql.types.DecimalType
    val (e, deg) = prepareEdges(pairs)
    val nodes = deg.count()
    val budget = new java.math.BigDecimal(tolPerNode * nodes)
    var ranks = Dedup.materialize(
      deg.select(col("src").as("doc_id"), lit(Scale).as("rank")))
    var round = 0
    var converged = nodes == 0 // an edgeless graph has nothing to rank
    while (!converged && round < maxRounds) {
      val next = Dedup.materialize(pagerankStep(e, ranks))
      // every node has degree ≥ 1 (it appears in some pair), so the
      // node set is FIXED round over round and the delta join is total
      val delta = Option(next
        .join(ranks.select(col("doc_id"), col("rank").as("prev")),
          Seq("doc_id"))
        .agg(sum(abs(col("rank") - col("prev")).cast(DecimalType(38, 0))))
        .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      Dedup.releaseCheckpoint(ranks)
      converged = delta.compareTo(budget) <= 0
      ranks = next
      round += 1
    }
    Dedup.releaseCheckpoint(e)
    if (!converged)
      throw new IllegalStateException(
        s"pagerank did not converge within $maxRounds rounds " +
          s"(tolPerNode=$tolPerNode) — raise maxRounds or the tolerance")
    (ranks, round)
  }

  /** [[pagerankConverged]] over the real near-dup graph — the face the
    * spec drives so the loop is exercised on actual LSH pairs, not just
    * literal graphs.
    */
  private[graft] def pagerankConvergedOn(s: SparkSession, d: String)
      : (DataFrame, Int) =
    pagerankConverged(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  private val triangles: Q = (s, d) =>
    trianglesOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  /** Per-node triangle participation + degree over an undirected,
    * id-normalized (`a_id < b_id`, distinct) pair frame — the local
    * clustering signal (`2·n_tri / (deg·(deg−1))` is derivable from the
    * two integer columns, which stay exactly hash-comparable where the
    * float quotient would not).
    *
    * Enumeration is DEGREE-ORIENTED (low-degree → high-degree, ties by
    * id — the arboricity-bounded algorithm): every triangle is found
    * exactly once as the wedge `(u→v, u→w)` at its order-minimal corner
    * `u`, closed by the oriented edge `(v→w)` — two equi-joins, no
    * candidate generated twice, no post-hoc dedup. Round 7 shipped
    * id-orientation, whose wedge fan-out on a hub node is O(deg²) — a
    * celebrity document in a 100× near-dup graph blows the wedge join
    * up; under degree orientation a node's out-degree is bounded by
    * O(√m) (arboricity), so hub skew cannot concentrate wedges. The
    * emitted (doc_id, deg, n_tri) rows are orientation-independent, so
    * the DuckDB oracle keeps its simpler id-oriented formulation — a
    * STRONGER check, since two different enumeration orders must agree
    * on the same triangle set.
    */
  private[graft] def trianglesOn(pairs: DataFrame): DataFrame = {
    // the wedge join references the oriented edge frame three times and
    // the degree count twice more — pin the derivations once (see
    // [[pagerankOn]])
    val p = Dedup.materialize(
      pairs.select(col("a_id").as("a"), col("b_id").as("b")))
    val deg = Dedup.materialize(
      p.select(col("a").as("doc_id")).union(p.select(col("b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("deg")))
    val e = Dedup.materialize(orientByDegree(p, deg))
    // wedge at the source corner: (u→v, u→w) with (dv,v) ≺ (dw,w),
    // closed by the oriented edge v→w (oriented that way by transitivity
    // of the total order)
    val tri = e.join(
        e.select(col("u"), col("v").as("w"), col("dv").as("dw")), Seq("u"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .join(e.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val corners = tri.select(col("u").as("doc_id"))
      .union(tri.select(col("v").as("doc_id")))
      .union(tri.select(col("w").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Orient each undirected `(a, b)` edge from the (degree, id)-smaller
    * endpoint to the larger: `(u, v, dv)` with `(du,u) ≺ (dv,v)`. The
    * head's degree rides along so downstream wedge conditions can
    * compare the total order without re-joining degrees.
    */
  private[graft] def orientByDegree(p: DataFrame, deg: DataFrame): DataFrame = {
    val fwd = p
      .join(deg.select(col("doc_id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("doc_id").as("b"), col("deg").as("db")), Seq("b"))
      .withColumn("ab",
        struct(col("da"), col("a")) < struct(col("db"), col("b")))
    fwd.select(
      when(col("ab"), col("a")).otherwise(col("b")).as("u"),
      when(col("ab"), col("b")).otherwise(col("a")).as("v"),
      when(col("ab"), col("db")).otherwise(col("da")).as("dv"))
  }

  private val degreeHist: Q = (s, d) =>
    degreeHistOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  /** Log2-bucketed degree histogram of the near-dup graph — the first
    * diagnostic a graph job reads before choosing its join strategy
    * (a heavy tail says: degree-orient, salt, or cap). Bucket k holds
    * degrees in [2ᵏ, 2ᵏ⁺¹); the bucket id is `length(bin(deg)) − 1` —
    * INTEGER bit-length, because `floor(log2(x))` computed as
    * `log(x)/log(2)` can land a hair under an exact power and
    * mis-bucket it (both engines' bin() agree exactly). One groupBy for
    * degrees, one tiny rollup — two exchanges total, the second over at
    * most 64 rows.
    */
  private[graft] def degreeHistOn(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("a_id", "b_id")
    val deg = p.select(col("a_id").as("doc_id"))
      .union(p.select(col("b_id").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    deg.groupBy((length(bin(col("deg"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
  }

  private val KcoreK = 2
  private val KcoreRounds = 3

  private val kcore: Q = (s, d) =>
    kcorePeelOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  /** k-core PEELING over the near-dup graph: iteratively remove nodes
    * with degree < k — the standard cluster-cleaning step that strips
    * chains and pendants off dup components, leaving the densely
    * duplicated cores a curator actually inspects. [[KcoreRounds]]
    * unrolled rounds (the oracle-checkable face, like pagerank's fixed
    * rounds); each round is one degree aggregation + two anti-joins —
    * all equi-joins, volume shrinks monotonically. Emits every initial
    * node exactly once: `(doc_id, peeled_round, final_deg)` with
    * `peeled_round` 1..rounds (degree fell below k then) or 0 for
    * survivors, whose residual degree rides along. A node isolated by
    * its neighbors' peeling counts as degree 0 — the node table, not
    * the edge table, drives each round's census.
    */
  private[graft] def kcorePeelOn(pairs: DataFrame): DataFrame = {
    def deg(e: DataFrame): DataFrame =
      e.select(col("a").as("doc_id")).union(e.select(col("b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    val e0 = Dedup.materialize(pairs.toDF("a", "b"))
    var nodes = deg(e0).select(col("doc_id"))
    var edges = e0
    var peeled: Option[DataFrame] = None
    (1 to KcoreRounds).foreach { r =>
      val dg = Dedup.materialize(
        nodes.join(deg(edges), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg")))
      val drop = dg.filter(col("deg") < KcoreK).select(col("doc_id"))
      val mine = drop.select(col("doc_id"),
        lit(r.toLong).as("peeled_round"), lit(0L).as("final_deg"))
      peeled = Some(peeled.map(_.union(mine)).getOrElse(mine))
      nodes = dg.filter(col("deg") >= KcoreK).select(col("doc_id"))
      edges = Dedup.materialize(
        edges.join(drop.select(col("doc_id").as("a")), Seq("a"), "left_anti")
          .join(drop.select(col("doc_id").as("b")), Seq("b"), "left_anti"))
    }
    val survivors = nodes.join(deg(edges), Seq("doc_id"), "left")
      .select(col("doc_id"), lit(0L).as("peeled_round"),
        coalesce(col("deg"), lit(0L)).as("final_deg"))
    peeled.get.union(survivors)
  }

  private val jaccard: Q = (s, d) =>
    jaccardOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  /** Neighborhood Jaccard per near-dup EDGE — `|N(a)∩N(b)| /
    * |N(a)∪N(b)|`, the classic link-prediction / cluster-refinement
    * score: an LSH pair whose endpoints also share most of their other
    * neighbors sits inside a dense duplicate cluster; one with zero
    * common neighbors is a stray hash collision worth re-verifying.
    * All counts are exact integers (`n_union = deg(a)+deg(b)−n_common`;
    * endpoints exclude themselves because the graph has no self-loops),
    * so only the final single division is float — deterministic IEEE
    * on two exact longs, same as the containment score.
    *
    * Scale shape: common neighbors are wedges, enumerated from the
    * (degree, id)-SMALLER endpoint of each pair via [[orientByDegree]]
    * — fan-out per edge is min(deg a, deg b), so a hub never multiplies
    * against its own degree (the triangle-count lesson applied to edge
    * scoring); closure is one equi-join against the adjacency list.
    * Pairs with no common neighbor survive via the left join, scored 0.
    */
  private[graft] def jaccardOn(pairs: DataFrame): DataFrame = {
    val p = Dedup.materialize(
      pairs.select(col("a_id").as("a"), col("b_id").as("b")))
    val adj = p.select(col("a").as("x"), col("b").as("w"))
      .union(p.select(col("b").as("x"), col("a").as("w")))
    val deg = Dedup.materialize(
      adj.groupBy(col("x").as("doc_id")).agg(count(lit(1)).as("deg")))
    // (u, v): u is the (deg, id)-smaller endpoint; expand u's FULL
    // adjacency (w ≠ u by no-self-loops, w = v filtered), close on the
    // (v, w) adjacency — exactly the common-neighbor set
    val o = orientByDegree(p, deg).select(col("u"), col("v"))
    val wedges = o
      .join(adj.select(col("x").as("u"), col("w")), Seq("u"))
      .filter(col("w") =!= col("v"))
    val common = wedges
      .join(adj.select(col("x").as("v"), col("w")), Seq("v", "w"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_common"))
    // restore the id-normalized (a < b) face the pair table declares
    val commonAb = common.select(
      least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"),
      col("n_common"))
    p.join(deg.select(col("doc_id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("doc_id").as("b"), col("deg").as("db")), Seq("b"))
      .join(commonAb, Seq("a", "b"), "left")
      .select(col("a").as("a_id"), col("b").as("b_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (col("da") + col("db") - coalesce(col("n_common"), lit(0L)))
          .as("n_union"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / col("n_union"), 6))
  }

  private val BfsRounds = 3
  private val BfsSeedMod = 7L

  /** Multi-source BFS DISTANCE over the near-dup graph — how many
    * hops each document sits from the nearest SEED (here the
    * deterministic `doc_id % `[[BfsSeedMod]]` == 0` slice; in
    * production the flagged/curated set): the reachability primitive
    * behind contamination blast-radius and trusted-source propagation
    * queries. Unrolled to [[BfsRounds]] hops in the registry (the
    * convergence loop is the `connectedComponentsWithRounds` /
    * `pagerankConverged` machinery); nodes beyond the horizon emit
    * nothing, as declared.
    *
    * Scale shape: textbook FRONTIER expansion — each round joins only
    * the frontier (rows whose distance was just assigned) against the
    * edge list and anti-joins the visited set, so total work is
    * O(edges touched), never rounds × edges; frontier and visited
    * materialize per generation exactly like the components loop.
    * First visit is minimal distance by construction — no min()
    * re-aggregation needed.
    */
  private val bfs: Q = (s, d) =>
    bfsOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  /** The frontier loop on an arbitrary undirected `(a_id, b_id)` pair
    * frame — split out so hop counting and seed handling are testable
    * on a literal graph.
    */
  private[graft] def bfsOn(pairs: DataFrame): DataFrame = {
    val p = Dedup.materialize(pairs.toDF("a_id", "b_id"))
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    val seeds = edges.select(col("src").as("doc_id")).distinct()
      .filter(col("doc_id") % BfsSeedMod === 0)
      .select(col("doc_id"), lit(0L).as("dist"))
    var visited = Dedup.materialize(seeds)
    var frontier = visited
    for (r <- 1 to BfsRounds) {
      val next = frontier
        .join(edges, frontier("doc_id") === edges("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(visited, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(r.toLong).as("dist"))
      frontier = Dedup.materialize(next)
      visited = Dedup.materialize(visited.union(frontier))
    }
    visited
  }

  /** [[bfsOn]] run to CONVERGENCE instead of a declared horizon:
    * frontiers expand until one comes back empty — every reachable
    * node then holds its minimal distance — with a `maxRounds` guard
    * for pathological diameters. The registry face keeps the fixed
    * [[BfsRounds]]-hop unroll (declared, DuckDB-oracle-matched
    * semantics); this is the production entry when the caller wants
    * full reachability. Same O(edges touched) frontier + anti-join
    * per generation; the only addition is the one-scalar emptiness
    * read per round that gates the loop — the `pagerankConverged` /
    * `connectedComponentsWithRounds` convergence-driver pattern, so
    * total driver traffic is one long per generation, never data.
    */
  private[graft] def bfsToFixpoint(pairs: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val p = Dedup.materialize(pairs.toDF("a_id", "b_id"))
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    val seeds = edges.select(col("src").as("doc_id")).distinct()
      .filter(col("doc_id") % BfsSeedMod === 0)
      .select(col("doc_id"), lit(0L).as("dist"))
    var visited = Dedup.materialize(seeds)
    var frontier = visited
    var r = 1
    while (r <= maxRounds && !frontier.isEmpty) {
      val next = frontier
        .join(edges, frontier("doc_id") === edges("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(visited, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(r.toLong).as("dist"))
      frontier = Dedup.materialize(next)
      if (!frontier.isEmpty)
        visited = Dedup.materialize(visited.union(frontier))
      r += 1
    }
    // Partial distances are NOT minimal distances: if the guard trips
    // with work remaining, fail like the file's other fixpoint drivers
    // (pagerankConverged, connectedComponentsWithRounds, boruvkaMsf,
    // sccOn) instead of silently returning a truncated reachability set.
    if (!frontier.isEmpty)
      throw new IllegalStateException(
        s"BFS did not converge within $maxRounds rounds")
    visited
  }

  /** COMMUNITY-QUALITY (modularity) report — per connected component
    * of the verified near-dup graph: node count, internal edges,
    * degree sum, and the component's modularity contribution as the
    * EXACT integer `4m·e_c − d_c²` (units of 1/(4m²); global Q is the
    * one division Σ/(4m²) a consumer runs on the report). Scores how
    * cleanly the clustering partitions the similarity graph — the
    * quality gate next to the cluster-size histogram.
    *
    * Scale shape: both inputs are the SHARED clustering artifact
    * (labels + verified pairs) — nothing re-derives; two broadcast-
    * label equi-joins tag each edge's endpoints, the per-component
    * counts collapse map-side, and the edge total is the governance-
    * allowlisted single-row broadcast. Contributions stay in int64
    * while `4m·e_c` < 9·10¹⁸ (m ≈ 10⁹ edges with 10⁹-edge
    * components); past that, the same report in DECIMAL(38,0).
    */
  private val modularity: Q = (s, d) =>
    modularityOn(Dedup.componentLabels(s, d),
      Dedup.verifiedPairsTable(s, d).select(col("a_id"), col("b_id")))

  /** The report body on arbitrary `(doc_id, component)` labels and
    * `(a_id, b_id)` edges — split out so the accounting is testable
    * on a literal clustering (including cross-community edges, which
    * count toward degree but not internal edges).
    */
  private[graft] def modularityOn(labels: DataFrame,
      pairs: DataFrame): DataFrame = {
    val la = labels.select(col("doc_id").as("a_id"), col("component").as("ca"))
    val lb = labels.select(col("doc_id").as("b_id"), col("component").as("cb"))
    val e = Dedup.materialize(
      pairs.join(la, Seq("a_id")).join(lb, Seq("b_id")))
    val mrow = e.agg(count(lit(1)).as("m"))
    val dsum = e.select(col("ca").as("component"))
      .union(e.select(col("cb").as("component")))
      .groupBy(col("component")).agg(count(lit(1)).as("d_sum"))
    val ein = e.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("component")).agg(count(lit(1)).as("e_in"))
    val nn = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("n_nodes"))
    dsum.join(ein, Seq("component"), "left")
      .na.fill(0L, Seq("e_in"))
      .join(nn, Seq("component"))
      .crossJoin(broadcast(mrow))
      .select(col("component"), col("n_nodes"), col("e_in"), col("d_sum"),
        (lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
          .as("q_contrib_4m2"))
  }

  private val LpaRounds = 3

  /** SYNCHRONOUS LABEL PROPAGATION — the classic near-linear community
    * detector, [[LpaRounds]] declared rounds (the same declared-horizon
    * contract as `graph_bfs_dist`; the convergence loop is the
    * [[bfsToFixpoint]] machinery if a caller wants fixpoint): labels
    * init to each node's own id, and every round each node adopts the
    * label carried by the PLURALITY of its neighbors, ties to the
    * smallest label — a total order, so the sync update is
    * deterministic on any engine and any partitioning (async LPA's
    * update-order sensitivity is exactly what this formulation buys
    * out of). Communities differ from connected components on bridged
    * topologies — this is the finer-grained signal.
    *
    * Scale shape: per round, one equi-join of the edge list against
    * the label table (both partitionable on the join key), a map-side-
    * combinable (node, label) count, and the per-node argmax window
    * over that collapsed domain — O(edges) per round, materialized per
    * generation like the components/pagerank loops.
    */
  private val labelProp: Q = (s, d) =>
    labelPropOn(Dedup.lshPairs(s, d).select(col("a_id"), col("b_id")))

  private[graft] def labelPropOn(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Dedup.materialize(pairs.toDF("a_id", "b_id"))
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    for (_ <- 1 to LpaRounds) {
      val counts = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"), col("label"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("n").desc, col("label"))
      labels = Dedup.materialize(counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("label")))
    }
    labels
  }

  private val SccMaxRounds = 32
  private val SccMaxIters = 64
  private val SccHops = 2

  /** STRONGLY CONNECTED COMPONENTS of a directed graph — the coloring /
    * FW-BW algorithm (Orzan 2004; the standard distributed SCC, since
    * Tarjan's stack is inherently sequential): each round, (1) propagate
    * the MAX node label forward along edges to fixpoint — `color(u)` =
    * the largest label that reaches `u`, so each color class is rooted
    * at its own pivot (the node whose color is itself); (2) grow each
    * pivot's SCC backward WITHIN its color class (`u` joins when an edge
    * `u → w` lands on a member and `color(u)` equals the pivot — forward
    * reachability from the pivot is exactly what the color certifies,
    * so member ⟺ mutual reach); (3) remove found SCCs and repeat on the
    * remainder. Every color class loses at least its pivot per round,
    * and in practice (this is the published behavior, and what the kNN
    * input shows) large SCCs fall out in the first rounds.
    *
    * Why not `(minFwdReach, minBwdReach)` equality — the tempting
    * one-pass shortcut: it over-merges. `m' → u → m` and `m' → v → m`
    * give `u` and `v` identical pairs `(m, m')` with no `u ↔ v` path;
    * the spec pins exactly this topology.
    *
    * Scale shape: every step is an equi-join of the edge list against a
    * per-node label table (both partitionable on the key) plus a
    * map-side-combinable max/distinct — the `pagerankConverged` /
    * `bfsToFixpoint` convergence-driver pattern; the per-iteration
    * driver traffic is one scalar (a decimal color-sum, monotone
    * nondecreasing, so equal sums ⟺ fixpoint; decimal so the check
    * cannot overflow on 64-bit ids).
    */
  private[graft] def sccOn(edgesIn: DataFrame): DataFrame = {
    val e0 = Dedup.materialize(edgesIn.toDF("src", "dst")
      .where(col("src") =!= col("dst")).distinct())
    var remaining = Dedup.materialize(
      e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id"))).distinct())
    var edges = e0
    var result: Option[DataFrame] = None
    var round = 0
    var remCount = remaining.count()
    while (remCount > 0 && round < SccMaxRounds) {
      // bounded 2-hop shortcut edges: out-degree k gives ≤ k² shortcuts
      // per node (NOT transitive closure — that explodes on hubs), so
      // every propagation join below covers two hops for the price of
      // one. Rebuilt per round: a shortcut through an intermediate that
      // a previous round REMOVED is not a path in the remainder graph.
      val e2 = edges.as("x").join(edges.as("y"),
          col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
        .where(col("src") =!= col("dst"))
      val hop = Dedup.materialize(edges.union(e2).distinct())
      var colors = Dedup.materialize(
        remaining.select(col("id"), col("id").as("color")))
      def colorSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("color").cast("decimal(38,0)"))).head.getDecimal(0)
      def pushColors(c: DataFrame): DataFrame =
        c.join(hop, c("id") === hop("src"))
          .select(col("dst").as("id"), col("color"))
      var prevSum = colorSum(colors)
      var it = 0
      var converged = false
      while (!converged && it < SccMaxIters) {
        // SccHops chained joins per materialized step over the 2-hop
        // shortcut graph = 2·SccHops hops covered per step. The loop is
        // constant-bound (per-stage scheduling), not shuffle-bound, at
        // every tested scale — measured 6.7 → 4.7 s at sf0.1 moving
        // from plain edges/4-unroll to shortcuts/2-unroll; deeper
        // unrolls regress (8-unroll doubled wall-clock on plan size)
        var acc = colors
        var cur = colors
        for (_ <- 1 to SccHops) {
          cur = pushColors(cur)
          acc = acc.union(cur)
        }
        val next = Dedup.materialize(
          acc.groupBy("id").agg(max("color").as("color")))
        val nextSum = colorSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        colors = next
        it += 1
      }
      require(converged, s"scc color propagation exceeded $SccMaxIters")
      // growth also walks the shortcut edges: adding `u` needs only
      // u →* pivot AND color(u) = pivot — the intermediate of a 2-hop
      // edge needn't be classified yet, its existence in the current
      // round's graph is what certifies the path
      val ec = Dedup.materialize(hop
        .join(colors.select(col("id").as("src"), col("color").as("csrc")),
          Seq("src"))
        .join(colors.select(col("id").as("dst"), col("color").as("cdst")),
          Seq("dst"))
        .where(col("csrc") === col("cdst")))
      var members = Dedup.materialize(colors
        .where(col("id") === col("color"))
        .select(col("id"), col("color").as("scc_id")))
      def preds(m: DataFrame): DataFrame =
        m.join(ec, m("id") === ec("dst"))
          .where(col("csrc") === col("scc_id"))
          .select(col("src").as("id"), col("scc_id"))
      var frontier = members
      var growing = true
      it = 0
      while (growing && it < SccMaxIters) {
        // frontier-only expansion (grown members can't yield new preds
        // their own add batch didn't), SccHops hops per step
        var cur = preds(frontier)
        var acc = cur
        for (_ <- 2 to SccHops) {
          cur = preds(cur)
          acc = acc.union(cur)
        }
        val add = Dedup.materialize(acc.distinct()
          .join(members.select("id"), Seq("id"), "left_anti"))
        if (add.isEmpty) growing = false
        else {
          members = Dedup.materialize(members.union(add))
          frontier = add
        }
        it += 1
      }
      require(!growing || it < SccMaxIters,
        s"scc member growth exceeded $SccMaxIters")
      result = Some(result.fold(members)(r =>
        Dedup.materialize(r.union(members))))
      remaining = Dedup.materialize(
        remaining.join(members.select("id"), Seq("id"), "left_anti"))
      edges = Dedup.materialize(edges
        .join(members.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(members.select(col("id").as("dst")), Seq("dst"), "left_anti"))
      remCount = remaining.count()
      round += 1
    }
    require(remCount == 0, s"scc did not converge in $SccMaxRounds rounds")
    // normalize the component id to the MIN member (the pivot is the
    // max) so the id is the same stable choice the oracle states
    val got = result.get
    val norm = got.groupBy("scc_id").agg(min("id").as("scc_min"),
      count(lit(1)).as("scc_size"))
    got.join(norm, Seq("scc_id"))
      .select(col("id").as("vec_id"), col("scc_min").as("scc_id"),
        col("scc_size"))
  }

  /** Registry face: SCCs of the directed kNN similarity graph — the
    * mutual-similarity cores (every member both points to and is
    * pointed at, transitively) vs the looser undirected components of
    * `dedup_components`.
    */
  private val scc: Q = (s, d) => sccOn(Similarity.knnEdges(s, d))

  private val ClosenessSeedMod = 31L
  private val ClosenessHops = 4

  /** HARMONIC CLOSENESS CENTRALITY from a pivot set (Boldi & Vigna
    * 2014's harmonic variant — sums 1/dist, so disconnection costs 0
    * instead of breaking the mean; the pivot-set restriction is the
    * Eppstein–Wang approximation scheme for full-graph closeness) over
    * the UNDIRECTED kNN similarity graph: per seed, a labeled
    * multi-source BFS to the [[ClosenessHops]] horizon, then
    * `n_reached`, `Σ dist`, and the integer-scaled harmonic score
    * `Σ (10⁶ div dist)` — exact in both engines, no float reciprocal.
    * "Which documents sit central in the similarity graph" ranks
    * curation candidates: a high-centrality doc is representative of
    * (and redundant with) a large neighborhood.
    *
    * Scale shape: the frontier loop carries (seed, node) pairs — work
    * is O(|seeds| · edges touched), the published pivot-sampling
    * trade; each round is one equi-join frontier ⋈ edges plus a
    * (seed, node)-keyed anti-join against visited, both hash-keyed,
    * per-generation materialized like every fixpoint in this file.
    * First visit is minimal distance by construction; no min()
    * re-aggregation.
    */
  private val closeness: Q = (s, d) =>
    closenessOn(Similarity.knnEdges(s, d)
      .filter(col("src") =!= col("dst")).distinct())

  /** The labeled multi-source frontier loop on an arbitrary directed
    * `(src, dst)` edge frame (symmetrized here) — split out so the
    * per-seed distance bookkeeping is testable on a literal graph.
    */
  private[graft] def closenessOn(edges: DataFrame,
      seedMod: Long = ClosenessSeedMod,
      hops: Int = ClosenessHops): DataFrame = {
    val e = edges.toDF("src", "dst")
    val ue = Dedup.materialize(
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    val seeds = ue.select(col("src").as("id")).distinct()
      .filter(col("id") % seedMod === 0)
    var visited = Dedup.materialize(seeds.select(col("id").as("seed"),
      col("id").as("doc_id"), lit(0L).as("dist")))
    var frontier = visited
    for (r <- 1 to hops) {
      val next = frontier
        .join(ue, frontier("doc_id") === ue("src"))
        .select(col("seed"), col("dst").as("doc_id")).distinct()
        .join(visited, Seq("seed", "doc_id"), "left_anti")
        .select(col("seed"), col("doc_id"), lit(r.toLong).as("dist"))
      frontier = Dedup.materialize(next)
      visited = Dedup.materialize(visited.union(frontier))
    }
    visited.groupBy(col("seed"))
      .agg((count(lit(1)) - 1).as("n_reached"),
        sum(col("dist")).as("sum_dist"),
        sum(when(col("dist") > 0, expr("1000000 div dist"))
          .otherwise(lit(0L))).as("harmonic_scaled"))
  }

  private val closenessOracle: String =
    s"""WITH RECURSIVE de AS (
       |  SELECT DISTINCT vec_id AS src, nbr_id AS dst
       |  FROM (${Similarity.knnOracleSql}) WHERE vec_id <> nbr_id),
       |ue AS (
       |  SELECT src, dst FROM de UNION SELECT dst, src FROM de),
       |bfs(seed, doc_id, dist) AS (
       |  SELECT DISTINCT src, src, 0 FROM ue
       |  WHERE src % $ClosenessSeedMod = 0
       |  UNION
       |  SELECT b.seed, u.dst, b.dist + 1
       |  FROM bfs b JOIN ue u ON u.src = b.doc_id
       |  WHERE b.dist < $ClosenessHops),
       |md AS (
       |  SELECT seed, doc_id, min(dist) AS dist FROM bfs GROUP BY 1, 2)
       |SELECT seed, count(*) - 1 AS n_reached,
       |  CAST(sum(dist) AS BIGINT) AS sum_dist,
       |  CAST(sum(CASE WHEN dist > 0 THEN 1000000 // dist
       |    ELSE 0 END) AS BIGINT) AS harmonic_scaled
       |FROM md GROUP BY 1""".stripMargin

  private val sccOracle: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT DISTINCT vec_id AS src, nbr_id AS dst
       |  FROM (${Similarity.knnOracleSql}) WHERE vec_id <> nbr_id),
       |reach AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst),
       |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |mutual AS (
       |  SELECT l.src AS u, l.dst AS v FROM reach l
       |  JOIN reach r ON r.src = l.dst AND r.dst = l.src),
       |scc AS (
       |  SELECT n.id, least(n.id, coalesce(min(m.v), n.id)) AS scc_id
       |  FROM n LEFT JOIN mutual m ON m.u = n.id GROUP BY n.id),
       |sz AS (SELECT scc_id, count(*) AS scc_size FROM scc GROUP BY 1)
       |SELECT s.id AS vec_id, s.scc_id, z.scc_size
       |FROM scc s JOIN sz z USING (scc_id)""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_scc" -> scc,
    "graph_closeness" -> closeness,
    "graph_label_prop" -> labelProp,
    "graph_modularity" -> modularity,
    "graph_bfs_dist" -> bfs,
    "graph_pagerank" -> pagerank,
    "graph_ppr" -> ppr,
    "graph_mst" -> mst,
    "graph_mst_clusters" -> mstClusters,
    "graph_triangles" -> triangles,
    "graph_degree_hist" -> degreeHist,
    "graph_kcore_peel" -> kcore,
    "graph_jaccard" -> jaccard,
  )

  /** The same three integer rounds in SQL over the embedded LSH pair
    * CTE; `//` and `DIV` both truncate toward zero on nonnegative
    * operands, and every operand here is nonnegative.
    */
  private val pagerankOracle: String = {
    val rounds = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS doc_id,
         |    CAST(${15L * Scale / 100} + (85 * sum(r.rank // d.deg)) // 100
         |         AS BIGINT) AS rank
         |  FROM edges e JOIN deg d ON e.src = d.src
         |  JOIN r${i - 1} r ON r.doc_id = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL
       |          SELECT b_id AS src, a_id AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS doc_id, CAST($Scale AS BIGINT) AS rank FROM deg),
       |$rounds
       |SELECT doc_id, rank FROM r$Iters""".stripMargin
  }

  /** Sequential KRUSKAL over the ranked edge order, as a recursive CTE
    * carrying the union-find labels as a LIST column (vec_ids are dense
    * 0..N−1, so `comp[id+1]` indexes directly): the lexicographic
    * `(w, u, v)` rank makes every weight distinct, the MSF unique, and
    * therefore Kruskal-here ≡ Boruvka-in-Spark — two different
    * published algorithms must produce the identical edge set.
    */
  /** The weighted undirected edge list in SQL — shared by the MSF and
    * single-linkage oracles.
    */
  private val mstEdSql: String =
    s"""SELECT least(vec_id, nbr_id) AS u, greatest(vec_id, nbr_id) AS v,
       |    CAST(min(10000 - round(sim * 10000)) AS BIGINT) AS w
       |  FROM (${Similarity.knnOracleSql})
       |  GROUP BY 1, 2""".stripMargin

  private val mstOracle: String =
    s"""WITH RECURSIVE ed AS (
       |  $mstEdSql),
       |ranked AS (
       |  SELECT u, v, w, row_number() OVER (ORDER BY w, u, v) AS rn
       |  FROM ed),
       |rec AS (
       |  SELECT CAST(0 AS BIGINT) AS rn,
       |    (SELECT list(vec_id ORDER BY vec_id) FROM embeddings) AS comp,
       |    CAST(NULL AS BIGINT) AS u, CAST(NULL AS BIGINT) AS v,
       |    CAST(NULL AS BIGINT) AS w, FALSE AS acc
       |  UNION ALL
       |  SELECT e.rn,
       |    CASE WHEN r.comp[CAST(e.u AS INT) + 1]
       |           <> r.comp[CAST(e.v AS INT) + 1]
       |      THEN list_transform(r.comp, x -> CASE
       |        WHEN x = greatest(r.comp[CAST(e.u AS INT) + 1],
       |                          r.comp[CAST(e.v AS INT) + 1])
       |        THEN least(r.comp[CAST(e.u AS INT) + 1],
       |                   r.comp[CAST(e.v AS INT) + 1])
       |        ELSE x END)
       |      ELSE r.comp END,
       |    e.u, e.v, e.w,
       |    r.comp[CAST(e.u AS INT) + 1] <> r.comp[CAST(e.v AS INT) + 1]
       |  FROM rec r JOIN ranked e ON e.rn = r.rn + 1)
       |SELECT u, v, w FROM rec WHERE acc""".stripMargin

  /** The DEFINITIONAL single-linkage clustering: transitive closure
    * over every graph edge ≤ the threshold — deliberately a different
    * algorithm than Spark's MSF cut; equality is the dendrogram
    * identity.
    */
  private val mstClustersOracle: String =
    s"""WITH RECURSIVE ed AS (
       |  $mstEdSql),
       |kept AS (SELECT u, v FROM ed WHERE w <= $MstCutW),
       |edges AS (SELECT u, v FROM kept UNION ALL SELECT v, u FROM kept),
       |reach(u, v) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |comp AS (SELECT u AS vec_id, min(v) AS cluster
       |         FROM reach GROUP BY u),
       |lab AS (
       |  SELECT a.vec_id, coalesce(c.cluster, a.vec_id) AS cluster
       |  FROM (SELECT vec_id FROM embeddings) a
       |  LEFT JOIN comp c USING (vec_id))
       |SELECT cluster, count(*) AS n_members FROM lab GROUP BY 1""".stripMargin

  /** [[pagerankOracle]] with the teleport term gated on the seed
    * predicate — the same unrolled rounds, restart mass only to
    * `doc_id % PprSeedMod = 0`.
    */
  private val pprOracle: String = {
    val rounds = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS doc_id,
         |    CAST(CASE WHEN e.dst % $PprSeedMod = 0
         |           THEN ${15L * Scale / 100} ELSE 0 END
         |         + (85 * sum(r.rank // d.deg)) // 100
         |         AS BIGINT) AS rank
         |  FROM edges e JOIN deg d ON e.src = d.src
         |  JOIN r${i - 1} r ON r.doc_id = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL
       |          SELECT b_id AS src, a_id AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS doc_id,
       |         CAST(CASE WHEN src % $PprSeedMod = 0 THEN $Scale ELSE 0 END
       |              AS BIGINT) AS rank
       |       FROM deg),
       |$rounds
       |SELECT doc_id, rank,
       |  CAST(CASE WHEN doc_id % $PprSeedMod = 0 THEN 1 ELSE 0 END
       |       AS BIGINT) AS is_seed
       |FROM r$Iters""".stripMargin
  }

  private val trianglesOracle: String =
    s"""WITH pairs AS (SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |e AS (SELECT a_id AS u, b_id AS v FROM pairs),
       |tri AS (
       |  SELECT e1.u, e1.v, e2.w
       |  FROM e e1
       |  JOIN (SELECT u AS v, v AS w FROM e) e2 USING (v)
       |  JOIN (SELECT u, v AS w FROM e) e3 USING (u, w)),
       |corners AS (
       |  SELECT u AS doc_id FROM tri
       |  UNION ALL SELECT v FROM tri
       |  UNION ALL SELECT w FROM tri),
       |tc AS (SELECT doc_id, count(*) AS n_tri FROM corners GROUP BY 1),
       |deg AS (
       |  SELECT doc_id, count(*) AS deg
       |  FROM (SELECT u AS doc_id FROM e UNION ALL SELECT v FROM e)
       |  GROUP BY 1)
       |SELECT d.doc_id, d.deg, coalesce(tc.n_tri, 0) AS n_tri
       |FROM deg d LEFT JOIN tc USING (doc_id)""".stripMargin

  private val degreeHistOracle: String =
    s"""WITH pairs AS (SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |deg AS (
       |  SELECT doc_id, count(*) AS deg
       |  FROM (SELECT a_id AS doc_id FROM pairs
       |        UNION ALL SELECT b_id FROM pairs)
       |  GROUP BY 1)
       |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
       |  count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
       |FROM deg GROUP BY 1""".stripMargin

  /** The same unrolled peel in SQL: per round a degree census over the
    * surviving node table (isolated nodes count as degree 0), a drop
    * set, and an edge restriction. Every per-round CTE is MATERIALIZED
    * — each round references its predecessor several times, and
    * DuckDB's default CTE inlining would otherwise re-evaluate the
    * whole minhash pipeline 2^rounds times (observed: minutes instead
    * of seconds at sf0.01).
    */
  private val kcoreOracle: String = {
    def degCte(e: String): String =
      s"(SELECT doc_id, count(*) AS deg FROM (SELECT a AS doc_id FROM $e" +
        s" UNION ALL SELECT b FROM $e) GROUP BY 1)"
    val rounds = (1 to KcoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT n${r - 1}.doc_id, coalesce(x.deg, 0) AS deg
         |  FROM n${r - 1} LEFT JOIN ${degCte(s"e${r - 1}")} x USING (doc_id)),
         |drop$r AS MATERIALIZED (SELECT doc_id FROM d$r WHERE deg < $KcoreK),
         |n$r AS MATERIALIZED (SELECT doc_id FROM d$r WHERE deg >= $KcoreK),
         |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |        WHERE a NOT IN (SELECT doc_id FROM drop$r)
         |          AND b NOT IN (SELECT doc_id FROM drop$r))""".stripMargin
    }.mkString(",\n")
    val peeled = (1 to KcoreRounds).map(r =>
      s"SELECT doc_id, CAST($r AS BIGINT) AS peeled_round, " +
        s"CAST(0 AS BIGINT) AS final_deg FROM drop$r")
      .mkString("\nUNION ALL ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |e0 AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM pairs),
       |n0 AS MATERIALIZED (SELECT DISTINCT doc_id FROM
       |  (SELECT a AS doc_id FROM e0 UNION ALL SELECT b FROM e0)),
       |$rounds
       |$peeled
       |UNION ALL
       |SELECT n$KcoreRounds.doc_id, CAST(0 AS BIGINT),
       |  CAST(coalesce(x.deg, 0) AS BIGINT)
       |FROM n$KcoreRounds LEFT JOIN ${degCte(s"e$KcoreRounds")} x
       |  USING (doc_id)""".stripMargin
  }

  /** Id-oriented common-neighbor enumeration (no degree orientation) —
    * a deliberately DIFFERENT derivation of the same wedge set, like
    * the triangles oracle. Endpoint exclusion is structural: w ranges
    * over actual neighbors, and the graph has no self-loops.
    */
  private val jaccardOracle: String =
    s"""WITH pairs AS (SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |adj AS (SELECT a_id AS x, b_id AS w FROM pairs
       |        UNION ALL SELECT b_id, a_id FROM pairs),
       |deg AS (SELECT x AS doc_id, count(*) AS deg FROM adj GROUP BY 1),
       |cm AS (SELECT p.a_id, p.b_id, count(*) AS n_common
       |       FROM pairs p
       |       JOIN adj n1 ON n1.x = p.a_id
       |       JOIN adj n2 ON n2.x = p.b_id AND n2.w = n1.w
       |       GROUP BY 1, 2)
       |SELECT p.a_id, p.b_id,
       |  coalesce(cm.n_common, 0) AS n_common,
       |  da.deg + db.deg - coalesce(cm.n_common, 0) AS n_union,
       |  round(CAST(coalesce(cm.n_common, 0) AS DOUBLE) /
       |        (da.deg + db.deg - coalesce(cm.n_common, 0)), 6) AS jaccard
       |FROM pairs p
       |JOIN deg da ON da.doc_id = p.a_id
       |JOIN deg db ON db.doc_id = p.b_id
       |LEFT JOIN cm ON cm.a_id = p.a_id AND cm.b_id = p.b_id""".stripMargin

  /** True BFS via recursive CTE, capped at the same hop horizon; the
    * UNION-distinct recursion plus the `dist` cap bounds the
    * iteration, and min(dist) per node is the BFS distance. The pair
    * CTE is MATERIALIZED — the kcore lesson: DuckDB would otherwise
    * re-inline the whole minhash pipeline per recursion step.
    */
  private val bfsOracle: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |edges AS MATERIALIZED (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |bfs(doc_id, dist) AS (
       |  SELECT DISTINCT src, 0 FROM edges WHERE src % $BfsSeedMod = 0
       |  UNION
       |  SELECT e.dst, b.dist + 1
       |  FROM bfs b JOIN edges e ON e.src = b.doc_id
       |  WHERE b.dist < $BfsRounds)
       |SELECT doc_id, CAST(min(dist) AS BIGINT) AS dist
       |FROM bfs GROUP BY 1""".stripMargin

  private val modularityOracle: String =
    s"""WITH RECURSIVE ${Dedup.componentsCte},
       |e AS (
       |  SELECT ca.component AS ca, cb.component AS cb
       |  FROM vp
       |  JOIN comp ca ON ca.doc_id = vp.a_id
       |  JOIN comp cb ON cb.doc_id = vp.b_id),
       |m AS (SELECT count(*) AS m FROM e),
       |ds AS (SELECT component, count(*) AS d_sum FROM (
       |    SELECT ca AS component FROM e
       |    UNION ALL SELECT cb FROM e) GROUP BY 1),
       |ei AS (SELECT ca AS component, count(*) AS e_in
       |       FROM e WHERE ca = cb GROUP BY 1),
       |nn AS (SELECT component, count(*) AS n_nodes FROM comp GROUP BY 1)
       |SELECT ds.component, nn.n_nodes,
       |  coalesce(ei.e_in, 0) AS e_in, ds.d_sum,
       |  CAST(4 * m.m * coalesce(ei.e_in, 0) - ds.d_sum * ds.d_sum
       |    AS BIGINT) AS q_contrib_4m2
       |FROM ds
       |JOIN nn USING (component)
       |LEFT JOIN ei USING (component), m""".stripMargin

  /** The same [[LpaRounds]] synchronous rounds unrolled: per round, a
    * grouped (node, label) count with the argmax taken by a
    * `row_number` over `(n DESC, label)` — the identical total order.
    */
  private val labelPropOracle: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""r$i AS (
         |  SELECT doc_id, label FROM (
         |    SELECT e.dst AS doc_id, l.label, count(*) AS n,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l.label) AS rn
         |    FROM edges e JOIN r${i - 1} l ON l.doc_id = e.src
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT a_id, b_id FROM (${Dedup.minhashOracle})),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL
       |          SELECT b_id AS src, a_id AS dst FROM pairs),
       |r0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges),
       |$rounds
       |SELECT doc_id, label FROM r$LpaRounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "graph_scc" -> sccOracle,
    "graph_closeness" -> closenessOracle,
    "graph_label_prop" -> labelPropOracle,
    "graph_modularity" -> modularityOracle,
    "graph_bfs_dist" -> bfsOracle,
    "graph_pagerank" -> pagerankOracle,
    "graph_ppr" -> pprOracle,
    "graph_mst" -> mstOracle,
    "graph_mst_clusters" -> mstClustersOracle,
    "graph_triangles" -> trianglesOracle,
    "graph_degree_hist" -> degreeHistOracle,
    "graph_kcore_peel" -> kcoreOracle,
    "graph_jaccard" -> jaccardOracle,
  )
}
