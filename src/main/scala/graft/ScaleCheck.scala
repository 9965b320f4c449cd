package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Geo, Materialize, Similarity, Temporal}
import graft.sources.Tables

/** Dev tool (PlanDump's sibling): time the BOUNDED variants of the
  * queries the sf1 smoke measured as super-linear — the probe-budget ANN
  * family ([[Similarity.annRecallFrom]]) and corpus-proportional-k
  * SemDeDup ([[Curation.semDedupK]]) — so BASELINE.md's "the scale answer
  * is a parameter, not a plan change" claim is a measurement, not prose.
  *
  * `runMain graft.ScaleCheck` against `SPARK_GRAFT_SF_DIR`; compare two
  * SF dirs by running twice. Emits one JSON line like Bench (3 trials,
  * median).
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    // fixed probe BUDGET (21 = the sf0.1 grid's size, constant at any SF);
    // deterministic hash order so the sample doesn't favor low vec_ids
    val probes = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(21)
      .select(col("vec_id"), col("embedding"))
    // corpus-proportional cluster count: keep c_i ≈ 250 like sf0.1's k=8
    val k = math.max(8, (n / 250).toInt)
    // fixed 21-doc probe budget for the retrieval family (same rationale
    // as the vector probes above)
    val docProbes = Tables.documents(spark, sfDir)
      .orderBy(xxhash64(col("doc_id")), col("doc_id")).limit(21)

    // the three span dup-markers over a STAGED table — the deployment
    // regime where BASELINE.md claims the two-phase/sketch shapes ride a
    // cheap re-read; this prints the claim as numbers per SF. LAZY, and
    // forced BEFORE the warmup only when a selected case consumes them
    // (a SPARK_GRAFT_SCALE_ONLY subset run for a non-span case must not
    // pay the corpus span explode); the forced checkpoint blocks are
    // then protected from the inter-trial release (an unpersisted
    // localCheckpoint cannot be recomputed).
    lazy val spans = Curation.spanTable(spark, sfDir)
    // the sharded span-index gate (q101's machinery), staged like a
    // deployment's refreshed index — the case below measures the GATE
    // (shard join + regroup), the claim being that shard routing adds no
    // super-linear term over the staged-marker baseline
    import graft.operators.Materialize.Stageable
    lazy val spanIdxSharded =
      Curation.spanIndexSharded(Curation.dupSpanIndexFrom(spans), 4).staged
    // pre-staged near-dup pair tables for the crossmodal_audit_staged
    // case (the deployment shape: both pair tables already exist via the
    // pairTable pattern) — forced before the warmup like `spans`
    lazy val lexPairsStaged = Curation.pairTable(spark, sfDir)
      .filter(col("d1") < 300 && col("d2") < 300).staged
    lazy val embPairsStaged =
      Materialize.stage(graft.operators.Dedup.embeddingNearDup(spark, sfDir))

    val cases: Seq[(String, () => Unit)] = Seq(
      // The DECLARED q40 (gridProbes — %97 grid capped at ProbeCap):
      // since r14 the declared surface IS the bounded-probe plan
      // (VERDICT r13 #1), so this case measures the exact query the
      // driver benches; the claim is the 10× ratio sits in the linear
      // band (~2×), where the uncapped fraction measured 23×.
      ("cosine_topk_declared", () =>
        Similarity.cosineTopK(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("recall_budget21", () =>
        Similarity.annRecallFrom(emb, probes)
          .write.format("noop").mode("overwrite").save()),
      // r12 PQ family at the same fixed probe budget: encode is the
      // corpus-linear term (corpus×m×nCodes argmin), ADC/IVF-PQ add only
      // code-table joins — the claim is both stay in the linear band
      ("pq_adc_budget21", () =>
        Similarity.pqAnnFrom(emb, probes, m = 8, dsub = 8, nCodes = 16, k = 5)
          .write.format("noop").mode("overwrite").save()),
      ("ivfpq_budget21", () =>
        Similarity.ivfPqAnnFrom(emb, probes, nlist = 16, nprobe = 4,
          m = 8, dsub = 8, nCodes = 16, k = 5)
          .write.format("noop").mode("overwrite").save()),
      // r12-addition scaling rows (VERDICT r12 #3). The embeddings-based
      // pair (recall audit, refresh census) rides the same fixed 21-probe
      // budget as the ANN cases; the claim is the audit stays probe-
      // bounded and the census nlist-bounded as the corpus grows.
      ("pq_recall_budget21", () =>
        Similarity.pqRecallFrom(emb, probes)
          .write.format("noop").mode("overwrite").save()),
      ("ivfpq_trained_budget21", () =>
        Similarity.ivfPqTrainedFrom(emb, probes, nlist = 16, nprobe = 4,
          m = 8, dsub = 8, nCodes = 16, k = 5)
          .write.format("noop").mode("overwrite").save()),
      // r14 additions: the drift audit doubles the trained-PQ chain over
      // shared residuals — the claim is it scales like ivfpq_trained×2,
      // not worse; scorer/runs are one-pass agg/window shapes
      ("pq_drift_budget21", () =>
        Similarity.pqDriftAuditFrom(emb, probes, nlist = 16, nprobe = 4,
          m = 8, dsub = 8, nCodes = 16)
          .write.format("noop").mode("overwrite").save()),
      ("quality_scorer", () =>
        Curation.qualityScorer(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // DSIR: the feature explode + two B-bounded count aggs are the
      // linear terms; selection is per-partition top-k (no global sort)
      ("dsir_select", () =>
        Curation.dsirSelect(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // bigram LM: the pair-count aggs and the shuffled scoring join are
      // the linear terms; the LM table grows with distinct pairs
      ("bigram_surprisal", () =>
        Curation.bigramSurprisal(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("span_runs", () =>
        Curation.spanRuns(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // self-repeat keys its only shuffle on (doc_id, h) — the claim is
      // the doc-prefixed key keeps it in the span family's linear band
      ("self_repeat", () =>
        Curation.selfRepeat(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // frame dedup rides the q95 two-phase marker at frame granularity;
      // frames = bytes/256, so the explode is 8x lighter than spans
      ("frame_dedup", () =>
        graft.operators.Multimodal.frameDedup(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r13 additions: the refine stage re-ranks only the ADC shortlist
      // (probes×kShort rows) — the claim is it adds a constant on top of
      // ivfpq_budget21, not a corpus term; hard negatives are one
      // label-filtered corpus scan per bounded probe set
      ("pq_refine_budget21", () =>
        Similarity.pqRefineFrom(emb, probes, nlist = 16, nprobe = 4,
          m = 8, dsub = 8, nCodes = 16, kShort = 20, k = 5)
          .write.format("noop").mode("overwrite").save()),
      ("hard_neg_budget21", () =>
        Similarity.hardNegativesFrom(emb,
          emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(21), k = 5)
          .write.format("noop").mode("overwrite").save()),
      ("multiprobe_budget21", () =>
        Similarity.multiprobeLshFrom(emb, probes, nFlip = 2, kRank = 3)
          .write.format("noop").mode("overwrite").save()),
      ("sq8_budget21", () =>
        Similarity.sq8AnnFrom(emb, probes, k = 5)
          .write.format("noop").mode("overwrite").save()),
      ("ivf_sq8_budget21", () =>
        Similarity.ivfSq8AnnFrom(emb, probes, nlist = 16, nprobe = 4, k = 5)
          .write.format("noop").mode("overwrite").save()),
      ("lsh_recall_audit", () =>
        graft.operators.Dedup.lshRecallAudit(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r15 additions: the cross-modal audit joins two blocked pair
      // tables (each bounded by its own blocking) — the claim is flat;
      // provenance unions four doc-aligned drop slivers — linear
      ("crossmodal_audit", () =>
        graft.operators.Dedup.crossModalAgreement(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // ... and the audit alone over PRE-staged pair tables — this
      // isolates the full-outer join + threshold sweep, the part
      // claimed flat (the in-query pair-table builds above are the
      // declared query's linear terms)
      ("crossmodal_audit_staged", () =>
        graft.operators.Dedup
          .crossModalAgreementFrom(lexPairsStaged, embPairsStaged)
          .write.format("noop").mode("overwrite").save()),
      ("drop_provenance", () =>
        Curation.dropProvenance(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // the r15 governance pair: both are pair-table-plus-doc-aligned
      // shapes — the LSH build is the linear term, the audit/census adds
      // pair-sized (q134) or one-window + source-agg (q135) work
      ("split_leakage", () =>
        Curation.splitLeakage(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("dedup_savings", () =>
        Curation.dedupSavings(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r15 batch 2: q136 is one corpus scan against the broadcast
      // capped eval grid (linear by construction); q137's linear term is
      // the LSH pair build, the dominance verdict is pair-sized;
      // q138/q139 are single-scan aggregations to lang/bin grain
      ("semantic_decontam", () =>
        Curation.semanticDecontam(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("quality_keeper", () =>
        Curation.qualityKeeper(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("token_fertility", () =>
        graft.operators.Text.tokenFertility(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r16: the corpus-learned BPE (q32) — learning is vocabulary-bound
      // (word types, Zipf ≪ corpus), application is one broadcast join +
      // doc-grain agg; the claim is the whole pipeline rides the token
      // explode's linear band
      ("token_bpe", () =>
        graft.operators.Text.tokenCountBpe(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("drift_psi", () =>
        Curation.driftPsi(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r15 batch 3: q140/q141 are broadcast-or-64-key corpus scans;
      // q142 is vocabulary-keyed; q143 is a zero-shuffle narrow scan
      ("dimension_stats", () =>
        Similarity.dimensionStats(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("cluster_purity", () =>
        Curation.clusterPurity(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("novelty_curve", () =>
        Curation.noveltyCurve(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("ngram_repetition", () =>
        Curation.ngramRepetition(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r15 batch 4: q144's linear term is the span explode (staged in
      // deployments); q145 rides the LSH pair build + one fp window;
      // q146 is a two-level partial agg to 4 rows
      ("eval_span_overlap", () =>
        Curation.evalSpanOverlap(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r22 (VERDICT r21 #4): q97's linear term is the gram explode +
      // (gram, doc) aggregation; everything downstream is vocabulary- or
      // D×W-bounded, so the claim is the span-family linear band
      ("cms_census", () =>
        Curation.cmsCensus(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("soft_dedup_weights", () =>
        Curation.softDedupWeights(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("padding_waste", () =>
        Curation.paddingWaste(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // r15 batch 5: q147 is a posexplode scan to (labels × 64) keys;
      // q148 composes the two capped-probe ANN plans; q149 joins the
      // increment's grams against the distinct-reduced corpus vocabulary
      ("label_centroid_sim", () =>
        Similarity.labelCentroidSim(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("rank_quality", () =>
        Similarity.rankQuality(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("increment_novelty", () =>
        Curation.incrementNovelty(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("source_scorecard", () =>
        Curation.sourceScorecard(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("dup_pagerank", () =>
        Curation.dupPageRank(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("triplet_budget21", () =>
        Similarity.tripletMiningFrom(emb,
          emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(21))
          .write.format("noop").mode("overwrite").save()),
      // BM25/RRF at a fixed 21-doc probe budget: the corpus-linear terms
      // are the tf/df/dl aggregations; scoring joins touch only
      // term-sharing candidates
      ("bm25_budget21", () =>
        graft.operators.Retrieval.bm25From(
          Tables.documents(spark, sfDir), docProbes, nTerms = 3, k = 10)
          .write.format("noop").mode("overwrite").save()),
      ("rrf_budget21", () =>
        graft.operators.Retrieval.rrfFusionFrom(
          Tables.documents(spark, sfDir), emb, docProbes, kList = 20, k = 5)
          .write.format("noop").mode("overwrite").save()),
      // q114's union-refresh span path (increment + two-phase marker)
      ("span_mark_increment", () =>
        Curation.spanDedupIncrement(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("ivf_refresh", () =>
        Similarity.ivfRefresh(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // events/part-based r12 additions: /tmp/sf1 symlinks these tables
      // from sf0.1 (gen_sf1 scales only docs/embeddings), so their 10×
      // pair is sf0.01 → sf0.1, where the driver data itself scales.
      ("asof_tolerance", () =>
        Temporal.asofJoinTolerance(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      ("spatial_join", () =>
        Geo.spatialNeighbors(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // since r15 the DECLARED q83 is itself corpus-proportional
      // (semDedupClusterCount) — this case measures the exact query the
      // driver benches, like cosine_topk_declared above
      ("semdedup_declared", () =>
        Curation.semDedup(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      (s"semdedup_k$k", () =>
        Curation.semDedupK(spark, sfDir, k)
          .write.format("noop").mode("overwrite").save()),
      // the r20 ROUTED E-step at the corpus-proportional k — the scale
      // path for the quadratic-assign term the sf10 smoke exposed
      // (flat semdedup_declared measured 109x at the second decade)
      ("semdedup_routed", () =>
        Curation.semDedupRoutedK(spark, sfDir,
          Curation.semDedupClusterCount(n))
          .write.format("noop").mode("overwrite").save()),
      ("span_mark_window", () =>
        Curation.dupHitsWindow(spans)
          .write.format("noop").mode("overwrite").save()),
      ("span_mark_twophase", () =>
        Curation.dupHitsTwoPhase(spans)
          .write.format("noop").mode("overwrite").save()),
      ("span_mark_sketch", () =>
        Curation.dupHitsSketchPhase(spans)
          .write.format("noop").mode("overwrite").save()),
      ("span_gate_sharded", () =>
        Curation.spanGateShardedFrom(spans, spanIdxSharded, 4)
          .write.format("noop").mode("overwrite").save()),
      // the r11 PAST-BROADCAST regimes (q103/q105): same gates with the
      // broadcast hints off — the claim under measurement is that the
      // shuffle plans scale in the same linear band as the broadcast
      // ones (they shuffle on shard id, whose cardinality is fixed)
      ("span_gate_shuffled", () =>
        Curation.spanGateShardedFrom(spans, spanIdxSharded, 4, broadcastIndex = false)
          .write.format("noop").mode("overwrite").save()),
      ("bloom_shuffled", () =>
        Curation.bloomIncrementShardedShuffled(spark, sfDir)
          .write.format("noop").mode("overwrite").save()),
      // deployment-mode quantification: the three span-family outputs
      // computed in isolation (each re-exploding the corpus — the
      // driver-bench shape) vs from the ALREADY-staged table. The delta
      // is the per-query-isolation artifact BASELINE.md describes.
      ("span_family_isolation", () => {
        Curation.spanDedup(spark, sfDir).write.format("noop").mode("overwrite").save()
        Curation.spanTrim(spark, sfDir).write.format("noop").mode("overwrite").save()
        Curation.spanProvenance(spark, sfDir).write.format("noop").mode("overwrite").save()
      }),
      ("span_family_staged", () => {
        Curation.spanDedupFrom(spans).write.format("noop").mode("overwrite").save()
        Curation.spanTrimFrom(spans, Tables.documents(spark, sfDir))
          .write.format("noop").mode("overwrite").save()
        Curation.spanProvenanceFrom(spans).write.format("noop").mode("overwrite").save()
      }))

    // release every case's blocks between trials (the staged span table
    // is protected by id) — a rel=false knob here previously let the
    // sketch/staged cases accumulate one checkpoint set per trial, the
    // exact block-pressure contamination Bench's release() exists to
    // prevent (review finding)
    // Dev-only subset filter (comma-separated name prefixes), mirroring
    // Bench's SPARK_GRAFT_ONLY — a new case's scaling pair shouldn't cost
    // a full-suite re-run (including the span-table staging, which only
    // happens when a span-consuming case is selected).
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSeq)
    val selected = cases.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    val spanConsumers =
      Seq("span_mark_window", "span_mark_twophase", "span_mark_sketch",
        "span_gate_sharded", "span_gate_shuffled", "span_family_staged")
    if (selected.exists(c => spanConsumers.exists(c._1.startsWith))) {
      spans; spanIdxSharded; ()
    }
    if (selected.exists(_._1 == "crossmodal_audit_staged")) {
      lexPairsStaged.count(); embPairsStaged.count(); ()
    }
    val protectedIds = spark.sparkContext.getPersistentRDDs.keySet
    def release(): Unit =
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => protectedIds(id) }
        .values.foreach(_.unpersist(true))
    selected.foreach { case (_, f) => f(); release() } // warmup
    val timed = selected.map { case (name, f) =>
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f()
        val dt = (System.nanoTime() - t0) / 1e9
        // release OUTSIDE the timed span — Bench measures the same way,
        // so the sf0.1 vs sf1 comparison stays methodology-identical
        release()
        dt
      }.sorted
      name -> ts(1)
    }
    println(timed.map { case (k2, v) => "\"" + k2 + "\":" + (math.rint(v * 1000) / 1000) }
      .mkString(s"""{"n_vecs":$n,""", ",", s""","sf":"$sfDir"}"""))
    spark.stop()
  }
}
