package graft

/** Automated plan-shape guard: pins the invariants the round-6/7 manual
  * `PlanDump` sessions established, so a future edit can't silently
  * regress them. Plans are built but not executed (construction still runs
  * the deliberate localCheckpoint sites — cheap at sf0.001).
  */
class PlanGuardSpec extends SparkSpec {

  // One plan build per query, shared by every invariant below.
  private lazy val plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.executedPlan.toString
    }

  /** Direct parquet scans of the documents table in the FINAL plan —
    * reads routed through a materialized (checkpointed) intermediate show
    * up as `Scan ExistingRDD` instead and are not counted. */
  private def docScans(q: String): Int =
    "documents\\.parquet".r.findAllMatchIn(plans(q)).length

  test("no declared query plans a CartesianProduct") {
    // Cross joins must broadcast one side (BroadcastNestedLoopJoin, used
    // here only for 1-row scalars and capped probe sets). A
    // CartesianProduct partitions BOTH sides — n² at cluster scale.
    val offenders = plans.keys.toSeq.sorted
      .filter(q => plans(q).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"CartesianProduct planned in: $offenders")
  }

  test("q75 reads the corpus only through the materialized token table") {
    // The r6 judge found three FileScans of documents.parquet here; the
    // fix shares one checkpointed token explode across the LM build, the
    // total-count scalar, and the scoring join. Zero direct scans remain.
    assert(docScans("q75_unigram_surprisal") == 0,
      s"q75 re-grew direct corpus scans:\n${plans("q75_unigram_surprisal")}")
  }

  test("q99 reads the corpus only through the staged span table") {
    // the deployment path's whole point: the span explode runs once at
    // the stage and every consumer (doc list, marker, coverage) re-reads
    // the staged rows — zero direct corpus scans in the final plan
    assert(docScans("q99_span_dedup_staged") == 0,
      s"q99 re-grew direct corpus scans:\n${plans("q99_span_dedup_staged")}")
  }

  test("q90 scans the corpus at most once directly") {
    // Everything token-shaped flows through q75's shared token table; the
    // single remaining FileScan projects only (doc_id, source).
    assert(docScans("q90_filter_calibration") <= 1,
      s"q90 re-grew direct corpus scans:\n${plans("q90_filter_calibration")}")
  }

  test("dimension joins broadcast the small side") {
    // q03's nation/region dims and the LSH verify sides must stay
    // broadcast — a sort-merge here means an unnecessary corpus shuffle.
    // Since r22 q37's CONSUMER plan is a read of the session-standing
    // pair table, so the join-shape pin moves to the build pipeline.
    assert(plans("q03_broadcast_join").contains("BroadcastHashJoin"))
    assert(operators.Dedup.lshNearDupBuild(spark, sfDir)
      .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("q40 broadcasts the probe set, never shuffling the corpus") {
    val p = plans("q40_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), s"probes not broadcast:\n$p")
  }

  test("ANN bucket joins broadcast the probe side (q41, q58)") {
    // the corpus is pruned by an equality join on bucket/signature with
    // the probe side broadcast — a sort-merge here would reshuffle the
    // whole corpus for a handful of probes
    assert(plans("q41_ann_bucketed").contains("BroadcastHashJoin"))
    assert(plans("q58_rp_lsh_ann").contains("BroadcastHashJoin"))
    assert(plans("q55_range_join").contains("BroadcastHashJoin"))
    // q106/q108: the ADC joins must probe the compressed code table with
    // the broadcast LUT (and q108 its candidate set with the broadcast
    // probe-cell table) — a shuffle there would move the whole code
    // table for a handful of probes
    assert(plans("q106_pq_ann").contains("BroadcastHashJoin"))
    assert(plans("q108_ivfpq_ann").contains("BroadcastHashJoin"))
  }

  test("q55 joins events on (bucket, salt) with the overfull table broadcast") {
    // the r12 skew guard: the pair join must carry the salt key (so an
    // overfull bucket's near-cartesian work spreads across tasks) and
    // the overfull-bucket histogram must stay broadcast on BOTH sides —
    // a shuffle there would cost more than the skew it guards against
    val p = plans("q55_range_join")
    assert(("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) " +
      "\\[bucket#\\d+L, salt#\\d+\\], \\[bucket#\\d+L, salt#\\d+\\]")
      .r.findFirstIn(p).nonEmpty, s"q55 pair join lost the salt key:\n$p")
  }

  test("declared shuffled regimes plan shuffle joins, not broadcasts (q103, q105)") {
    // the plans that actually run at 100 TB, where NOTHING fits in a
    // broadcast: q103's shard-index join must be a shuffle join on the
    // shard id, and q105's verify joins (semi against the corpus index,
    // anti against the dup list) must both be sort-merge — a
    // BroadcastHashJoin anywhere in these plans means the regime knob
    // regressed to the toy-scale shape
    val p103 = plans("q103_span_gate_shuffled")
    assert("(ShuffledHashJoin|SortMergeJoin) \\[shard#\\d+L\\], \\[shard#\\d+L\\]"
      .r.findFirstIn(p103).nonEmpty, s"q103 shard join not shuffled:\n$p103")
    assert(!p103.contains("BroadcastHashJoin"),
      s"q103 re-grew a broadcast join:\n$p103")
    val p105 = plans("q105_bloom_shuffled")
    assert("SortMergeJoin \\[fp#\\d+\\], \\[fp#\\d+\\], LeftSemi"
      .r.findFirstIn(p105).nonEmpty, s"q105 verify semi-join not shuffled:\n$p105")
    assert("SortMergeJoin \\[doc_id#\\d+L\\], \\[doc_id#\\d+L\\], LeftAnti"
      .r.findFirstIn(p105).nonEmpty, s"q105 dup anti-join not shuffled:\n$p105")
    assert(!p105.contains("BroadcastHashJoin"),
      s"q105 re-grew a broadcast join:\n$p105")
  }

  test("per-row kernel queries shuffle only for the deterministic output sort") {
    // q36 (minhash) and q93 (weighted sample) are single narrow scans —
    // the one Exchange each is the rangepartitioning the oracle's
    // orderBy requires, nothing else
    for (q <- Seq("q36_minhash_sig", "q93_weighted_sample")) {
      val exchanges = "Exchange \\w+".r.findAllIn(plans(q)).toSeq
      assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
        s"$q: expected one range-sort exchange, got $exchanges:\n${plans(q)}")
    }
  }

  test("exchange budgets hold for the top-cost queries") {
    // The bench host's ambient load swings totals by ~20 s at identical
    // code, so formulation regressions in the most expensive queries are
    // caught STRUCTURALLY: each plan's shuffle-exchange count (broadcasts
    // excluded — they move dim/probe/verify sides, not the corpus) is
    // pinned at its audited value. A new exchange here means a new corpus
    // shuffle — at 100 TB that is the regression, whatever the clock says.
    def shuffles(q: String): Int =
      "(?<!Broadcast)Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)"
        .r.findAllMatchIn(plans(q)).length
    val budgets = Map(
      // exact-Jaccard baseline: explode→distinct agg, pair-group agg,
      // verify broadcast joins, output range sort (two-exchange core is a
      // measured choice over the single-exchange variant, Dedup.scala)
      "q35_jaccard_neardup" -> 4,
      // LSH pairs feed the checkpointed label fixpoint; final plan = one
      // cluster agg + output sort
      "q80_neardup_clusters" -> 2,
      "q82_cluster_reps" -> 2,
      // three tokenize sub-plans joined doc-aligned + funnel rollup
      "q78_curation_funnel" -> 9,
      // capped char-gram baseline: round-robin rebalance of the capped
      // doc set + output sort; the pair loop itself broadcasts
      "q60_chargram_neardup" -> 2,
      // sketch + candidate branches materialize at the checkpoint, so the
      // final plan is one window shuffle + output sort
      "q94_bloom_increment" -> 2,
      // span-hash window shuffle + the dual-countDistinct expand + sort
      "q95_span_dedup" -> 4,
      // span-hash window shuffle + cut-set agg + sort
      "q96_span_trim" -> 3,
      // exact census (distinct + df agg) + sketch cells agg + the 1-row
      // map collapse
      "q97_cms_census" -> 5,
      // checkpointed distinct (source, hash) self-join + pair agg + sort
      "q98_span_provenance" -> 2,
      // deployment path: staged span table (exchanges behind the stage
      // barrier) + doc-list distinct + dup-hash agg + coverage agg +
      // doc join + output sort; the marking semi-join itself broadcasts
      "q99_span_dedup_staged" -> 5,
      // sharded q94: same post-stage shape as q94 (window + sort) — the
      // shard routing join broadcasts, adding no corpus shuffle
      "q100_bloom_increment_sharded" -> 2,
      // sharded span gate: verdict regroup on the (doc_id, n) sliver +
      // output sort; shard join and doc-aligned join both broadcast, and
      // the staged index keeps its build exchanges out of the query plan
      "q101_span_gate_sharded" -> 2,
      // IVF ANN: cell-assign window shuffles the (vec_id, cell, cos)
      // sliver, probe-side cell-rank window, final top-k window + output
      // sort; centroid and probe-cell joins broadcast
      "q102_ivf_ann" -> 4,
      // shuffled span gate: q101's regroup + sort, plus the shard join's
      // two side exchanges (the broadcast the regime deliberately drops)
      "q103_span_gate_shuffled" -> 4,
      // trained IVF: q102's exact shape — the one-Lloyd-step centroid
      // build runs once behind the stage barrier, so its E-step/M-step
      // exchanges stay out of the query plan
      "q104_ivf_trained" -> 4,
      // shuffled bloom admit: q100's window + sort, plus both sides of
      // the verify semi-join and of the dup anti-join (the two
      // broadcasts the dup-heavy-batch regime deliberately drops)
      "q105_bloom_shuffled" -> 6,
      // PQ: encode struct-min agg + ADC (probe, vector) regroup + output
      // sort; codebook and LUT joins broadcast
      "q106_pq_ann" -> 3,
      // tolerance as-of: ONE key shuffle for the carry-forward window +
      // output sort — the band predicate adds no join
      "q107_asof_tolerance" -> 2,
      // IVF-PQ: cell-assign window + encode agg + candidate⨝codes join +
      // ADC regroup + sort; centroids, probe cells, and LUT broadcast
      "q108_ivfpq_ann" -> 5,
      // recall audit: composes the exact top-k and the full IVF-PQ stack
      // then joins their (probe, cand) slivers — the audit query is the
      // sum of its parts, not a new corpus shape
      "q109_pq_recall" -> 10,
      // refresh census: cell-assign window + nlist-group agg + sort
      "q110_ivf_refresh" -> 3,
      // spatial join: per-point agg shuffle + output sort, plus the r13
      // density-skew guard's overfull-cell histogram — two map-side-
      // combined aggs whose exchanges move #cells-sized counts feeding
      // the broadcasts, never corpus rows (the q55 guard's documented
      // price, now paid in 2D too)
      "q111_spatial_join" -> 4,
      // fully-trained IVF-PQ: the training scans live behind stage
      // barriers, so the query plan carries the per-subspace encode agg,
      // candidate⨝codes join sides, the ADC (probe, vector, cell)
      // regroup, top-k window + output sort; centroids/codebook/LUT all
      // broadcast
      "q112_ivfpq_trained" -> 7,
      // refine: the q108 stack (5) plus the exact re-rank's top-k window
      // — the shortlist and probe joins both broadcast, so the refine
      // stage adds no corpus exchange
      "q115_pq_refine" -> 6,
      // BM25: df agg over the staged index + probe-sliver window + the
      // (probe, cand) regroup + top-k window + output sort, plus the
      // 1-row corpus-constant aggs (single-partition, 1-row payloads);
      // the scoring scan itself joins the BROADCAST query-term sliver
      // against the staged index — zero corpus-side join exchanges
      "q116_bm25" -> 9,
      // RRF: the q116 chain + the cosine list's top-k window + the
      // full-outer fuse on two probes×20-row lists + final window+sort
      "q117_rrf_fusion" -> 13,
      // hard negatives: q40's shape — probe broadcast against one corpus
      // scan; top-k window + output sort only
      "q118_hard_negatives" -> 2,
      // multi-probe LSH: q58's shape exactly — the (nFlip+1)-cell probe
      // explode rides the broadcast side; top-k window + output sort
      "q119_multiprobe_lsh" -> 2,
      // SQ8: the one-row range agg (single-partition exchange, 128
      // floats) feeds encode and score as broadcasts; top-k window +
      // output sort — the code-table scan itself never shuffles
      "q120_sq8_ann" -> 4,
      // recall audit: banding candidates + blocked exact candidates off
      // one staged hash table, two pair-group aggs + the audit join +
      // output sort; verify sides broadcast
      "q121_lsh_recall" -> 5,
      // IVF-SQ8: the cell-assign window + the candidate⨝codes join sides
      // + the one-row range agg + top-k window + output sort; centroids,
      // probe cells, probes, and the range row broadcast
      "q122_ivf_sq8" -> 7,
      // PageRank: 5 unrolled iterations × (contrib join sides + sum agg +
      // rank rebuild) over the PAIR-GRAPH-sized edge/node stages — every
      // exchange here moves dup-graph rows (≪ corpus); the corpus-scale
      // LSH work is behind the staged edges/nodes barriers
      "q123_dup_pagerank" -> 29,
      // triplets: one probe-broadcast corpus scan feeds both per-class
      // argmax windows (2 window shuffles) + output sort
      "q124_triplet_mining" -> 3,
      // quality scorer: q66's two feature aggs + output sort — the
      // broadcast weight row adds NO exchange (the whole point: model
      // inference is a projection)
      "q125_quality_scorer" -> 3,
      // span runs: the two-phase dup-hash agg + the doc-partitioned
      // islands window (the run regroup rides its partitioning) +
      // output sort — input is the dup-hit sliver, never the corpus
      "q126_span_runs" -> 3,
      // frame dedup: the frame-hash occurrence agg (map-side combined,
      // the q95 two-phase marker at frame granularity) + the per-asset
      // regroup + output sort; the ≥2 set broadcasts into the semi-join
      // and the output spine rides the pre-explode scan (no distinct)
      "q131_frame_dedup" -> 3,
      // self-repeat: the (doc_id, h) occurrence agg + semi-join side +
      // the per-doc coverage agg + the doc-list distinct + output sort —
      // every shuffle key doc-prefixed (no viral-span hot partition)
      "q130_self_repeat" -> 5,
      // bigram LM: pair/context/unigram count aggs (+ the 1-row total,
      // single-partition) + the deliberately-SHUFFLED scoring join on
      // (prev, w) — the vocabulary² LM table is the one side this
      // family does NOT broadcast at scale — + the per-doc decimal
      // regroup + output sort
      "q129_bigram_surprisal" -> 6,
      // DSIR: the target gate's two feature aggs + the bucket count
      // aggs on each side of the left join + the two 1-row totals
      // (single-partition, 1-row payloads) + the semi-join sides + the
      // per-doc decimal regroup — the distribution tables themselves are
      // B-bounded broadcasts and the fixed-k selection plans
      // TakeOrderedAndProject (per-partition top-k, no sort exchange)
      "q128_dsir_select" -> 11,
      // drift audit, FUSED (r15): the two codebook chains run as ONE
      // encode/regroup/window pass behind the stage barriers, so the
      // final assembly is just the probe spine distinct + two audit
      // hit-aggs + their join sides + output sort — the pre-fusion
      // budget was 20; a count above 8 means the fusion regressed
      "q127_pq_drift" -> 8)
    val over = budgets.toSeq.sorted.flatMap { case (q, budget) =>
      val n = shuffles(q)
      if (n > budget) Some(s"$q: $n shuffle exchanges > budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; ") + "\n" +
      over.map(o => plans(o.takeWhile(_ != ':'))).mkString("\n----\n"))
  }

  test("column pruning: no plan reads the wide TPC-H comment columns") {
    // no declared query touches *_comment — if one ever shows up in a
    // ReadSchema the scan stopped pruning (e.g. a select(*) before a join)
    val offenders = plans.keys.toSeq.sorted
      .filter(q => plans(q).contains("_comment"))
    assert(offenders.isEmpty, s"comment column scanned in: $offenders")
  }
}
