package graft.tools

import org.apache.spark.sql.functions._

/** Scale-evidence rung beyond the bench SF: synthesize an N× documents +
  * embeddings dataset (same schemas as the testdata tables, deterministic
  * perturbations so replicas are NEAR duplicates, not byte copies), then
  * run the dedup/ANN shared-artifact builds and the recall-report queries
  * against it, timing (a) the fresh build, (b) a second invocation that
  * must ADOPT every artifact (near-zero cost — the amortization claim the
  * registry makes at 100 TB, exercised live), and (c) the recall/envelope
  * queries whose decimal envelopes and banded join shapes must survive
  * the scale-up unchanged.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 runMain graft.tools.ScaleRung [factor]`
  * (default 10× sf0.1). Writes the generated set under /tmp and prints a
  * markdown row per measurement — evidence for SURVEY §11, no registry
  * change.
  */
object ScaleRung {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    // v2 generator: replica cliques now model real web boilerplate —
    // 3 in 4 replicas are EXACT byte copies (the shape `Dedup`'s
    // pre-collapsed clustering build collapses), 1 in 4 keeps the
    // suffix perturbation so the LSH/banding path still earns its
    // recall on genuine near-dups. The v1 rung made every replica a
    // near-dup, which over-modeled the rarest clique kind and priced
    // the clustering build against a corpus shape production never
    // sees; numbers before/after the tag change are not comparable.
    val dest = s"/tmp/graft_scale_${factor}x_v2"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    import java.nio.file.{Files, Paths}

    def timed[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale-rung] $label%-34s $sec%8.2f s")
      (a, sec)
    }

    if (!Files.exists(Paths.get(dest, "_DONE"))) {
      timed(s"generate ${factor}x dataset") {
        // replica k ≡ 0 (mod 4), k > 0: a k-specific suffix token
        // (near-dup — the LSH/banding path has to work for its recall,
        // not ride exact-hash shortcuts); every other replica: an exact
        // byte copy (boilerplate clique). Embeddings keep the
        // deterministic +k*1e-4 jitter for all replicas (near-neighbor
        // structure preserved, exact-dup vectors avoided).
        val reps = spark.range(factor.toLong).select(col("id").as("rep"))
        val docs = spark.read.parquet(s"$src/documents.parquet")
        val nDocs = docs.count()
        val isNear = col("rep") > 0 && col("rep") % 4 === 0
        docs.crossJoin(reps)
          .select((col("doc_id") + col("rep") * nDocs).as("doc_id"),
            when(isNear, concat(col("text"), lit(" rev"), col("rep")))
              .otherwise(col("text"))
              .as("text"),
            col("lang"), col("source"),
            (col("n_chars") + when(isNear,
              length(concat(lit(" rev"), col("rep"))).cast("long"))
              .otherwise(0L))
              .as("n_chars"))
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
    println(s"[scale-rung] dataset: $dest (${factor}x sf0.1: " +
      s"${spark.read.parquet(s"$dest/documents.parquet").count()} docs, " +
      s"${spark.read.parquet(s"$dest/embeddings.parquet").count()} vectors)")

    // every shared artifact over the tables this rung generates
    val builds = graft.operators.Materialized.builds.filter {
      case _: graft.operators.Materialized.Memo[_] |
          _: graft.operators.Materialized.ReplayGroup => false
      case e => e.tables(dest).forall(t => Files.exists(Paths.get(dest, t)))
    }
    println("\n| build | fresh (s) | adopt (s) | fresh? |")
    builds.foreach { e =>
      val (fresh, t1) = timed(s"${e.name} fresh")(e.ensure(spark, dest))
      val (again, t2) = timed(s"${e.name} adopt")(e.ensure(spark, dest))
      println(f"| ${e.name} | $t1%.2f | $t2%.2f | $fresh/$again |")
      assert(!again,
        s"${e.name} rebuilt on second invocation — adoption broken")
    }

    val queries = Seq("dedup_lsh_recall", "sim_ann_recall", "sim_pq_recall",
      "dedup_minhash_lsh", "embed_outliers", "dedup_components",
      "sim_mips", "graph_mst_clusters",
      // r11 continuation faces with non-trivial scale shapes: pivot-set
      // BFS over the kNN artifact and the per-doc gate lineage (window
      // on fingerprint + verified-pairs join); the events-table faces
      // stay out (the rung synthesizes documents + embeddings only)
      "graph_closeness", "corpus_reject_reasons",
      // r12: the O(log n) claims under scale — SCC (FW-BW rounds) and
      // star-contraction components ride every rung; r13: the kNN
      // recall report rides every rung too, now that its exact side is
      // the constant-budget hash sample (2048 queries × block, linear)
      // instead of the full quadratic blocked join
      "graph_scc", "sim_knn_recall",
      // r16: the navigation family's recall report (bruteforce side is
      // 10 queries x corpus — linear) rides every rung like IVF's
      "sim_gnav_recall",
      // r16 takedown/maintenance family: the artifact-store clustering
      // delete (affected-components-only recompute — growth across
      // rungs prices the affected slice, never the corpus) and the
      // NSW insertion (one beam walk per arriving vector — linear in
      // the arrival slice by construction)
      "dedup_cc_delete", "sim_gnav_insert")
    println("\n| query | seconds | rows |")
    queries.foreach { name =>
      val (rows, sec) = timed(name) {
        val df = graft.SparkEntry.queries(name)(spark, dest)
        df.write.format("noop").mode("overwrite").save()
        df.count()
      }
      println(f"| $name | $sec%.2f | $rows |")
    }

    // ---- maintenance path (r13): per-batch cost vs resident size ----
    //
    // The index-IVM faces' scale claim is "per-batch cost is O(batch),
    // independent of how much is already indexed". Spec'd at gate SF,
    // measured HERE at rung scale: the SAME four 500-row batches
    // (doc_id/vec_id < 2000 — base ids exist at every rung, so every
    // rung signs/assigns identical batches) arrive against this rung's
    // resident corpus. If the claim holds, the per-batch seconds below
    // are flat across 10x/30x/100x; any growth with `factor` is
    // resident-size leakage into the batch path.
    import org.apache.spark.sql.DataFrame
    val maint = Paths.get(dest, "maint")
    def timedBatches(label: String, gens: Seq[(Int, DataFrame)])
        (write: (Int, DataFrame) => Unit): Unit = {
      println(s"\n| $label batch | seconds |")
      gens.foreach { case (k, df) =>
        val (_, sec) = timed(s"$label b$k")(write(k, df))
        println(f"| b$k | $sec%.2f |")
      }
    }
    val docs = spark.read.parquet(s"$dest/documents.parquet")
    val docBatches = (0 until 4).map(k => k -> docs
      .filter(col("doc_id") >= k * 500L && col("doc_id") < (k + 1) * 500L))
    timedBatches("dedup_index_maint", docBatches) { (k, b) =>
      // the dedup_index_ivm per-batch body: shingle+sign ONLY the batch,
      // append one generation — never touches the resident signatures
      graft.operators.Dedup.minhashSig(graft.operators.Dedup.shingleRows(b))
        .write.mode("overwrite")
        .parquet(maint.resolve(f"dedup_b$k%02d").toString)
    }
    val (eAll, centroids, _, _) = graft.operators.Similarity.ivfModel(spark, dest)
    val vecBatches = (0 until 4).map(k => k -> eAll
      .filter(col("vec_id") >= k * 500L && col("vec_id") < (k + 1) * 500L)
      .select(col("vec_id"), col("v")))
    timedBatches("sim_index_maint", vecBatches) { (k, b) =>
      // the sim_index_ivm per-batch body: broadcast argmin against the
      // FROZEN capped-C quantizer (|batch| x C <= 500 x 2048 work)
      graft.operators.Similarity.assignCells(b, centroids)
        .write.mode("overwrite")
        .parquet(maint.resolve(f"sim_b$k%02d").toString)
    }
    timedBatches("text_index_maint", docBatches) { (k, b) =>
      // the text_index_ivm per-batch body: token-scan ONLY the batch,
      // append one generation of postings + df/stats partials — never
      // re-reads the resident index
      graft.operators.StreamingQueries.textIndexGen(b,
        maint.resolve(f"text_b$k%02d"), "gen")
    }
    // the dedup_cc_ivm per-batch body: sign the batch, probe the
    // RESIDENT stores (shared signature/shingle tables + the clustering
    // artifact's labels) for candidates, verify, and fold the merges —
    // the probe side is this rung's full resident corpus, so any
    // super-linear resident leakage into the fold shows up as growth
    // across the rungs. Arriving docs are the 500-row slices RE-KEYED
    // past the resident id range (genuinely-new documents whose text
    // exact-dups a resident clique — maximal merge work for the fold;
    // un-shifted ids would poison the union shingle store with
    // duplicate rows, which no maintained store contains).
    val (shStore, sigStore) = graft.operators.Dedup.maintainedStores(spark, dest)
    val lblStore = graft.operators.Dedup.ccLabelStore(spark, dest)
    val idShift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    // thread each batch's GENERATED stores and remap into the next fold
    // (accumulating priors, latest remap): batch k's candidate probe and
    // label resolution see the base stores PLUS generations b0..b(k-1),
    // so the rung measures the true steady-state fold — including remap
    // resolution and the prior-union read fan-in as generations
    // accumulate — not four folds against a frozen base.
    var priorSh = shStore
    var priorSig = sigStore
    var priorLbl = lblStore
    var remap = spark.range(0).selectExpr("id AS old", "id AS root")
    // the resident key registry (the r17 store the fold's resident-side
    // collapse reads): the from-artifact base path derives it once —
    // a maintained deployment writes it per generation instead
    val (_, tGk) = timed("cc base gk registry") {
      graft.operators.Dedup.shingleSetKeys(shStore)
        .write.mode("overwrite")
        .parquet(maint.resolve("cc_gk_base").toString)
    }
    println(f"| cc base gk registry | $tGk%.2f |")
    var priorGk = spark.read.parquet(maint.resolve("cc_gk_base").toString)
    timedBatches("cc_index_maint", docBatches) { (k, b) =>
      val arriving = b.withColumn("doc_id", col("doc_id") + lit(idShift))
      graft.operators.Dedup.ccIvmBatch(arriving, priorSh, priorSig,
        priorLbl, remap, priorGk, maint.resolve("cc"), f"b$k%05d")
      val gen = f"b$k%05d"
      def g(sub: String) =
        spark.read.parquet(maint.resolve(s"cc/$sub/$gen").toString)
      priorSh = priorSh.select(col("doc_id"), col("shingle"))
        .unionByName(g("sh").select(col("doc_id"), col("shingle")))
      priorSig = priorSig.unionByName(g("sig"))
      priorLbl = priorLbl.unionByName(g("lbl"))
      priorGk = priorGk.unionByName(g("gk"))
      remap = g("remap")
    }
    // ---- compaction at depth (r16): the claim ccCompact exists for —
    // the r15 rung measured the fold growing 7 → 12 s/batch from 10× to
    // 100× generation depth (the band probe scanning the accumulated
    // generation list). Here: ONE MORE batch folds at depth 4 against
    // the uncompacted prior union (the r15 steady-state shape), then the
    // store compacts, then the SAME batch folds against the compacted
    // single-generation store. Flat-in-depth means the compacted fold's
    // seconds match the depth-0-equivalent early batches above, and the
    // uncompacted-vs-compacted gap IS the depth cost compaction bounds.
    val b4 = docs
      .filter(col("doc_id") >= 2000L && col("doc_id") < 2500L)
      // re-key past both the resident range and the b0-b3 arrivals
      .withColumn("doc_id", col("doc_id") + lit(idShift) + lit(1000000L))
    println("\n| cc compaction rung | seconds |")
    val (_, tUnc) = timed("cc fold b4 @depth4 uncompacted") {
      graft.operators.Dedup.ccIvmBatch(b4, priorSh, priorSig, priorLbl,
        remap, priorGk, maint.resolve("cc_unc"), "b00004")
    }
    val cstate = maint.resolve("cc_compacted")
    val (_, tCmp) = timed("cc compact @depth4") {
      graft.operators.Dedup.ccCompact(priorSh, priorSig, priorLbl,
        remap, priorGk, cstate)
    }
    def cg(sub: String) =
      spark.read.parquet(cstate.resolve(s"$sub/base").toString)
    val emptyRemap = spark.range(0).selectExpr("id AS old", "id AS root")
    val (_, tFold) = timed("cc fold b4 @depth0 compacted") {
      graft.operators.Dedup.ccIvmBatch(b4, cg("sh"), cg("sig"), cg("lbl"),
        emptyRemap, cg("gk"), cstate, "b00004")
    }
    println(f"| fold @depth4 uncompacted | $tUnc%.2f |")
    println(f"| compact | $tCmp%.2f |")
    println(f"| fold @depth0 compacted | $tFold%.2f |")
    // the two folds must agree row-for-row: a new doc's label row holds
    // the CURRENT root after resolution, so the uncompacted fold (one
    // remap hop) and the compacted fold (labels pre-resolved, empty
    // remap) write identical generations — ≤ batch+merges rows, cheap
    // to compare at any rung
    def foldedLbl(root: String) =
      spark.read.parquet(maint.resolve(s"$root/lbl/b00004").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lu = foldedLbl("cc_unc")
    val lc = foldedLbl("cc_compacted")
    assert(lu == lc, s"fold divergence across compaction: " +
      s"${(lu diff lc).take(3)} vs ${(lc diff lu).take(3)}")
    // ---- takedown fold at depth (r16): dedup_cc_takedown's per-delete
    // cost against the accumulated maintained store — the claim is
    // O(affected components' stored rows): the victim slice is a fixed
    // fraction of the corpus, so seconds here may grow linearly with
    // the rung, but must stay far under the fresh recluster
    // (cc_shared_build above) the takedown replaces.
    val resolvedForDel = priorLbl.withColumnRenamed("component", "l0")
      .join(remap.withColumnRenamed("old", "l0"), Seq("l0"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("l0")).as("component"))
    val victims = priorSig
      .filter(pmod(col("doc_id"),
        lit(graft.operators.StreamingQueries.TakedownMod)) ===
        graft.operators.StreamingQueries.TakedownRem)
      .select(col("doc_id"))
    val (_, tDel) = timed("cc takedown fold @depth4") {
      graft.operators.Dedup.ccDeleteBatch(victims, priorSh, priorSig,
        resolvedForDel, maint.resolve("cc_del"), "d00001")
    }
    val nVictims = spark.read
      .parquet(maint.resolve("cc_del/dead/d00001").toString).count()
    val nRelabeled = spark.read
      .parquet(maint.resolve("cc_del/lblfresh/d00001").toString).count()
    println(f"| cc takedown fold @depth4 | $tDel%.2f | " +
      s"$nVictims victims, $nRelabeled relabeled |")
    // the same fold with a mod-256 victim slice. NOT "sparse in
    // affected docs": the rung's replica ids are orig + rep*nDocs and
    // nDocs mod 16 = 8, so mod-16 victims concentrate in 1/8 of the
    // cliques (half of each clique's reps die), while mod-256 victims
    // SPREAD ~1 victim over ~the same number of cliques — fewer
    // victims, but a LARGER surviving slice to re-cluster. The two
    // rows together price the real claim: fold cost tracks the
    // affected-SURVIVOR count (the re-cluster slice), linearly —
    // never the victim count, never the index size. Read them with
    // the printed victim/relabeled counts.
    val spreadVictims = priorSig
      .filter(pmod(col("doc_id"),
        lit(graft.operators.StreamingQueries.TakedownMod * 16L)) ===
        graft.operators.StreamingQueries.TakedownRem)
      .select(col("doc_id"))
    val (_, tDelS) = timed("cc takedown fold spread (mod-256)") {
      graft.operators.Dedup.ccDeleteBatch(spreadVictims, priorSh,
        priorSig, resolvedForDel, maint.resolve("cc_dels"), "d00001")
    }
    val nVictimsS = spark.read
      .parquet(maint.resolve("cc_dels/dead/d00001").toString).count()
    val nRelabeledS = spark.read
      .parquet(maint.resolve("cc_dels/lblfresh/d00001").toString).count()
    println(f"| cc takedown fold spread | $tDelS%.2f | " +
      s"$nVictimsS victims, $nRelabeledS relabeled |")
    // ---- lifecycle capstone at rung (r17): the composed
    // build → arrivals → takedown → compact → arrivals replay across
    // all four store families. The [lifecycle] stderr lines decompose
    // the wall-clock per family; the claim priced here is that the
    // composed replay stays FAR under the fresh rebuilds it replaces
    // (cc recluster fresh + the gnav build above) because its fold
    // phases track batch/affected-slice size, not the corpus.
    val (_, tLc) = timed("lifecycle composed replay") {
      graft.operators.StreamingQueries.lifecycleRun.ensure(spark, dest)
    }
    println(f"| lifecycle composed replay | $tLc%.2f | four families |")
    spark.stop()
  }
}
