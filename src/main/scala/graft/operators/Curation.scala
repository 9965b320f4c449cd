package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.LocalFs
import graft.functions.Hashing
import graft.functions.MoneySum.{decSum9, longSum9, trunc6}
import graft.operators.Materialize.Stageable
import graft.sources.Tables

/** Training-data curation operators — the filter/sample/index stages a
  * large-scale LLM data pipeline runs between raw ingest and dedup:
  * heuristic quality gating (Gopher/C4-style rule sets), within-document
  * repetition scoring, cross-corpus boilerplate detection, stratified
  * downsampling, clustering assignment, fixed-window chunking, and
  * inverted-index construction.
  *
  * All operators are pure DataFrame plans over builtin (codegen'd)
  * functions; the only hash is the cross-engine sha256-derived
  * [[Hashing.h32]] so the DuckDB oracle reproduces every value exactly.
  */
object Curation {

  /** Whitespace tokens, empty strings dropped (mirrors Text/Oracles). */
  private def toks: Column = Dedup.toks

  /** q66: Gopher-style heuristic quality gate. Per document: token count,
    * distinct-token count, mean token length, type-token ratio, top-token
    * dominance — plus the keep/drop decision from fixed rule thresholds
    * (sized so the synthetic corpus splits ~30/70 keep/drop).
    *
    * Scale shape: explode → (doc_id, token) count → per-doc agg. Two
    * shuffles, both keyed on doc_id-prefixed keys with map-side partial
    * aggregation; no per-doc state beyond the running counters, so the
    * plan is insensitive to document length skew. The rule evaluation is
    * a pure projection over the aggregated row. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityGateShared(spark, dir).orderBy(col("doc_id"))

  /** The gate verdict table as a standing artifact
    * ([[Materialize.shared]]): six declared queries consume the same
    * per-doc verdict row — q66 itself, q78's funnel, q90's calibration,
    * q125's scorer features, q128's DSIR target, q133's quality stage,
    * q150's scorecard — and each re-ran the corpus tokenize + the two
    * feature aggregations per query. Counts are longs and the ratio
    * columns are already 1e-6-floored doubles, so the parquet round-trip
    * is bit-identical; consumers join/aggregate by doc_id with no
    * row-order dependence (q66 re-applies its orderBy on read, the
    * lshNearDup convention). */
  private[graft] def qualityGateShared(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Materialize.shared("qualityGate", docs)(qualityGateFrom(tokenTable(docs)))
  }

  /** The exploded (doc_id, token) table the token-level operators share.
    * Callers composing several of them (q90) materialize this ONCE
    * ([[Materialize.stage]]) so each operator re-reads the token rows
    * instead of re-scanning + re-exploding the corpus. */
  def tokenTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(toks).as("token"))

  /** [[qualityGate]] over an already-exploded (doc_id, token) table. */
  def qualityGateFrom(tok: DataFrame): DataFrame = {
    val cnt = tok
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    val st = cnt.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_tok"),
        sum(length(col("token")) * col("c")).as("sum_len"))
    val ttr = trunc6(col("n_distinct") * 1.0 / col("n_tokens"))
    val topRatio = trunc6(col("max_tok") * 1.0 / col("n_tokens"))
    st.select(
        col("doc_id"),
        col("n_tokens"),
        col("n_distinct"),
        trunc6(col("sum_len") * 1.0 / col("n_tokens")).as("mean_tok_len"),
        ttr.as("ttr"),
        topRatio.as("top_ratio"),
        // rules compare the truncated values so both engines decide
        // keep/drop on identical doubles
        (col("n_tokens") >= 30 && ttr >= 0.45 && topRatio <= 0.15).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q125: model-based quality scoring — the learned-filter stage every
    * modern curation pipeline runs between hand-crafted heuristics (q66)
    * and dedup (the CCNet/fastText-style classifier step): a logistic
    * scorer over the SAME aggregate features the heuristic gate computes,
    * with the model's weights as a broadcast one-row table. q90's
    * calibration query is this scorer's threshold-tuning dual: sweep the
    * cut on `ml_score` exactly as it sweeps the heuristic features.
    *
    * Determinism across engines: the features enter already floored to
    * the 1e-6 grid (q66's rule), the linear term mixes them with literal
    * weights in fixed order, and the sigmoid output is floored to 1e-6 —
    * the BM25 convention (q116) for transcendental math. `keep_ml`
    * compares the floored score so both engines decide on identical
    * doubles.
    *
    * Scale shape: q66's two partial-agg shuffles build the features; the
    * model itself is ONE broadcast row and the scoring is a pure
    * projection — at 100 TB the "inference" pass adds zero shuffles to
    * the feature build. A real fastText-style model (n-gram embedding
    * buckets + linear head) keeps the identical dataflow: the weight
    * table grows to |buckets| rows and the dot product becomes a
    * token-explode groupBy — both already this engine's bread and
    * butter. */
  def qualityScorer(spark: SparkSession, dir: String): DataFrame =
    qualityScorerFrom(qualityGateShared(spark, dir),
      defaultQualityWeights(spark))

  /** The "trained" classifier head: one broadcast row of logistic
    * weights over (ln n_tokens, ttr, top_ratio, |mean_tok_len − 5|).
    * Literal constants stand in for a fitted model — the deployment
    * swaps this one-row table for its training job's output and nothing
    * else changes. */
  def defaultQualityWeights(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((-7.0, 1.0, 10.0, -16.0, -0.5))
      .toDF("w0", "w_logtok", "w_ttr", "w_top", "w_len")
  }

  /** The logistic head as ONE shared expression over the (floored)
    * feature columns + weight columns — the batch scorer and the
    * streaming gate ([[graft.streaming.StreamOps.mlScoreStream]]) both
    * apply exactly this, so the two can never drift (the
    * `Retrieval.termScore` convention). */
  private[graft] def mlScoreCol: Column = {
    val z = col("w0") +
      col("w_logtok") * log(col("n_tokens")) +
      col("w_ttr") * col("ttr") +
      col("w_top") * col("top_ratio") +
      col("w_len") * abs(col("mean_tok_len") - 5.0)
    floor(lit(1.0) / (lit(1.0) + exp(-z)) * 1e6) / 1e6
  }

  /** [[qualityScorer]] over an explicit feature table ([[qualityGateFrom]]'s
    * shape) and weight row — the deployment entry point. */
  def qualityScorerFrom(features: DataFrame, weights: DataFrame): DataFrame = {
    features
      .crossJoin(broadcast(weights))
      .withColumn("ml_score", mlScoreCol)
      .select(
        col("doc_id"), col("n_tokens"), col("ttr"), col("top_ratio"),
        col("mean_tok_len"), col("keep").as("keep_rules"),
        col("ml_score"), (col("ml_score") >= 0.5).as("keep_ml"))
      .orderBy(col("doc_id"))
  }

  /** q67: within-document repetition — the duplicate-bigram fraction
    * (Gopher's "repetitive document" signal, bigrams because the
    * synthetic vocabulary is small enough that longer n-grams never
    * repeat).
    *
    * Scale shape: entirely narrow — the bigram array, its distinct
    * count, and the ratio are per-row projections (`transform` +
    * `array_distinct`), so the operator is a single scan with ZERO
    * shuffles at any corpus size. */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = transform(
      sequence(lit(1), size(col("toks")) - 1),
      i => array_join(slice(col("toks"), i, lit(2)), " "))
    val dupRatio = trunc6(lit(1.0) - col("n_distinct") * 1.0 / col("n_grams"))
    docs.withColumn("toks", toks)
      .filter(size(col("toks")) >= 2)
      .withColumn("grams", grams)
      .withColumn("n_grams", size(col("grams")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("grams"))).cast("long"))
      .select(
        col("doc_id"), col("n_grams"), col("n_distinct"),
        dupRatio.as("dup_ratio"),
        (dupRatio > 0.05).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** q68: cross-corpus boilerplate census — the 20 highest-document-
    * frequency 3-token shingles (headers/footers/license blurbs surface
    * here first in a real crawl).
    *
    * Scale shape: explode → distinct-by-(gram, doc) via countDistinct →
    * global top-20. The census is a heavy-hitter query: at 100 TB the
    * exact countDistinct shuffle is the no-assumptions default, and the
    * documented cheap path is approx_count_distinct or a count-min
    * sketch — boilerplate detection only needs the head, not exact
    * tails. The final top-20 is a TakeOrdered over the gram-aggregated
    * (vocabulary-sized) table, not a global sort of the corpus. */
  def boilerplateCensus(spark: SparkSession, dir: String): DataFrame =
    censusTop20(gramStatsShared(spark, dir))

  /** The exploded (doc_id, 3-token gram) table q68 and q97 share. */
  private def gramTable(docs: DataFrame): DataFrame =
    docs.withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingleCol).as("gram"))

  /** Per-gram (df, occ) stats — the vocabulary-sized proxy q68 and q97
    * share (r22): explicit two-phase aggregation, (gram, doc) partial
    * counts collapsing in-document repeats map-side, then one gram-grain
    * aggregate. Values identical to the former
    * `agg(countDistinct(doc_id), count(1))`: df = #(gram, doc) groups
    * = countDistinct(doc_id) (doc_id is never null); occ = Σ per-doc
    * occurrence counts = count(*). Same exchange count as Spark's
    * one-distinct rewrite — the point of the explicit form is that the
    * INTERMEDIATE (gram, doc, c) and (gram, df, occ) tables are plain
    * frames q97 can stage and re-derive its sketch from. */
  private def gramStats(grams: DataFrame): DataFrame =
    grams.groupBy(col("gram"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("occ"))

  /** [[gramStats]] over the corpus as a standing artifact
    * ([[Materialize.shared]]): q68 and q97 each re-ran the gram explode +
    * the two-phase aggregation per query. (gram, df, occ) = string + two
    * longs — exact parquet round-trip; both consumers re-aggregate/
    * re-sort, so row order is immaterial. SharedArtifactsSpec pins
    * standing ≡ direct. */
  private[graft] def gramStatsShared(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Materialize.shared("gramStats", docs)(gramStats(gramTable(docs)))
  }

  /** The census ordering + cap over a per-gram stats frame. */
  private def censusTop20(stats: DataFrame): DataFrame =
    stats.orderBy(col("df").desc, col("occ").desc, col("gram"))
      .limit(20)

  /** [[boilerplateCensus]] over an already-exploded gram table — the
    * direct per-frame path (SharedArtifactsSpec's reference side). */
  private[graft] def boilerplateCensusFrom(grams: DataFrame): DataFrame =
    censusTop20(gramStats(grams))

  // q97 CMS geometry: depth 4, width 2^16 → a 2 MB sketch holding the
  // sf0.1 shingle population at ~0.4 load per bucket. At deployment scale
  // W grows with the distinct-item count (the CMS accuracy knob): the
  // sketch is O(D×W) REGARDLESS of corpus size, which is the whole point.
  private val CmsD = 4
  private val CmsW = 65536

  /** CMS bucket for row r — sha256-derived like every cross-engine hash
    * here, so the DuckDB oracle reproduces the exact same sketch. */
  private def cmsBucket(r: Int, gram: Column): Column =
    pmod(Hashing.h32(concat_ws("|", lit(r.toString), gram)), lit(CmsW.toLong))

  /** q97: count-min-sketch heavy-hitter census — q68's documented
    * "bounded-memory cheap path" claim as code. Every distinct
    * (gram, doc) insertion increments [[CmsD]] bucket counters; a gram's
    * document frequency is then ESTIMATED as the minimum of its bucket
    * totals — never below the truth (the CMS guarantee, asserted in
    * CurationSpec), overestimating only by bucket collisions. The output
    * reports q68's exact top-20 alongside their sketch estimates and the
    * realized overestimate, so the sketch's accuracy is itself measured
    * by the oracle.
    *
    * Scale shape: the sketch build is a ×D explode of the VOCABULARY
    * stats table + one (r, bucket) sum aggregation into at most D×W
    * cells — FIXED memory at any corpus size — and
    * ships as a single-row map the same way q94's bloom does. The
    * estimates are deterministic (sha256 buckets), which is what keeps a
    * sketch operator hash-checkable across engines. */
  def cmsCensus(spark: SparkSession, dir: String): DataFrame = {
    import Materialize.Stageable
    // ONE corpus pass → VOCABULARY-sized per-gram stats, staged (r22;
    // guide §2.3 "aggregate before you shuffle"). The r21 shape
    // checkpointed the full exploded gram-STRING table and then paid two
    // full (gram, doc)-grain exchanges over it — the census's
    // distinct-aggregate AND a distinct() feeding the sketch. A gram's
    // sketch insertion count IS its df, so both the exact census and the
    // CMS cells derive from the tiny stats table; the corpus-sized gram
    // rows are aggregated in the same pass that scans them and never hit
    // a checkpoint. Sketch identical: cnt(r,b) = #distinct (gram, doc)
    // with bucket(r, gram) = b = Σ_gram df·[bucket(r, gram) = b].
    // Since the second r22 pass the stats table is session-standing
    // (gramStatsShared, shared with q68); the per-query stage stays —
    // two consumers (cells, censusTop20) read it per plan (the bm25
    // hybrid rationale).
    val stats = gramStatsShared(spark, dir).staged
    val cells = stats
      .select(col("df"), explode(array((0 until CmsD).map(r =>
        struct(lit(r).as("r"), cmsBucket(r, col("gram")).as("b"))): _*)).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(sum(col("df")).as("cnt"))
    val cmsMap = cells.agg(
      map_from_arrays(
        collect_list(col("r") * CmsW + col("b")),
        collect_list(col("cnt"))).as("cms"))
    // `est` probes the broadcast sketch via element_at on a map of up to
    // D×W = 262144 entries, and Spark's MapData lookup is a LINEAR scan
    // (the q94 lesson — see bloomWordsSharded's densify comment). Safe ONLY
    // because the probe side here is boilerplateCensus's post-limit
    // 20-row output (8 lookups × 20 rows); reusing `est` against an
    // unlimited gram set would be O(rows × D × W) — densify to an ordered
    // array + index lookup (the bloomWordsSharded shape) before doing that.
    val est = (0 until CmsD).map(r =>
      coalesce(element_at(col("cms"),
        lit(r.toLong * CmsW) + cmsBucket(r, col("gram"))), lit(0L)))
      .reduce(least(_, _))
    censusTop20(stats)
      .crossJoin(broadcast(cmsMap))
      .select(col("gram"), col("df"), col("occ"),
        est.as("cms_df"), (est - col("df")).as("overestimate"))
      .orderBy(col("df").desc, col("occ").desc, col("gram"))
  }

  /** q69: deterministic stratified sample — k=3 documents per
    * (lang, source) stratum, chosen by sha256-hash order so the sample
    * is reproducible across engines and runs (no RNG state).
    *
    * Scale shape: one shuffle on the stratum key; the row_number ≤ k
    * predicate plans a WindowGroupLimit (per-partition top-k heaps
    * before the shuffle), so a 10^9-document stratum moves only its k
    * winners — this is the scalable form of "reservoir sample per
    * group". */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val h = Hashing.h32(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(h, col("doc_id"))
    docs
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("lang"), col("source"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("source"), col("rk"))
  }

  /** q93: quality-weighted Bernoulli sampling — keep each document with
    * probability equal to its quality score via a value-derived hash
    * coin (u = sha256_prefix32(doc_id) / 2³² < quality). The DCLM-style
    * quality-weighted downsampling step that sits between hard gating
    * (keep/drop, q66) and uniform sampling (q69): better documents
    * survive proportionally more often, and the decision replays
    * identically in any engine — no `rand()`, same defense as q89's
    * epoch coin. The coin divides by a power of two, so u is EXACT in
    * both engines and the comparison can't straddle a rounding boundary.
    *
    * Scale shape: quality features and the coin are per-row expressions
    * over one narrow scan — zero shuffles except the output sort. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Text.textQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
      .filter(
        Hashing.h32(col("doc_id").cast("string")).cast("double") / lit(4294967296.0)
          < col("quality"))
      .orderBy(col("doc_id"))

  /** DSIR hashed-feature bucket count (the paper's hashed n-gram
    * dimensionality reduction): small enough that the two distribution
    * tables always broadcast, large enough that bucket collisions don't
    * flatten the likelihood ratio on the test vocabulary. */
  private[graft] val DsirBuckets = 1024L

  /** q128: DSIR importance resampling (Xie et al. 2023) — the
    * data-SELECTION stage that completes the mixing family (q76 mixture
    * weights, q89 epoch plan, q93 quality-weighted thinning, q125
    * learned filter): score every raw document by how much more likely
    * its hashed n-gram features are under a TARGET domain's distribution
    * than under the raw corpus's, then draw a fixed-size sample
    * importance-weighted by that ratio. The declared target is the q66
    * gate's keep slice (the in-repo stand-in for "Wikipedia+books");
    * a deployment passes its own target ids to [[dsirSelectFrom]].
    *
    * Semantics: bag-of-hashed-n-grams likelihood ratio — each shingle
    * occurrence contributes ln p_target(bucket) − ln p_raw(bucket),
    * add-1-smoothed over [[DsirBuckets]] buckets; selection is Gumbel
    * top-k WITHOUT replacement (key = log w + Gumbel(0,1), the standard
    * weighted-sampling-without-replacement construction), with the
    * Gumbel driven by the repo's value-derived hash coin so the draw
    * replays identically in any engine — no `rand()`, q89's defense.
    * Per-term costs floor to the 1e-9 grid and sum as DECIMAL (q75's
    * rule); the selection key floors to 1e-6 before the rank with
    * doc_id as the tie-break.
    *
    * Scale shape: the feature explode is staged once and feeds the raw
    * counts, the target counts, and the scoring join; both distribution
    * tables are ≤ [[DsirBuckets]] rows → broadcast; scoring is one
    * bucket equi-join + a decimal agg; the fixed-k selection plans
    * TakeOrderedAndProject — per-partition top-k, never a global sort.
    * The target membership join shuffles at most the feature table once
    * (AQE broadcasts the id list when it fits). */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = qualityGateShared(spark, dir)
      .filter(col("keep")).select(col("doc_id"))
    dsirSelectFrom(docs, target, k = 50)
  }

  /** The hashed-feature table (doc_id, b) — THE DSIR feature definition,
    * shared by the batch selector and the streaming scorer's index
    * build. Callers stage it (three consumers in the batch plan). */
  private[graft] def dsirFeats(docs: DataFrame): DataFrame =
    docs.withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingleCol).as("gram"))
      .select(col("doc_id"),
        (Hashing.h32(col("gram")) % DsirBuckets).as("b"))

  /** The smoothed log-likelihood-ratio table (b, llr) plus the two
    * 1-row feature totals — one definition for the batch selector and
    * the streaming index. Every feats bucket appears in raw, so the
    * left join's null c_t is exactly the smoothing floor for
    * target-absent buckets. */
  private[graft] def dsirLrParts(feats: DataFrame, targetIds: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val raw = feats.groupBy(col("b")).agg(count(lit(1)).as("c_r"))
    val tgt = feats.join(targetIds, Seq("doc_id"), "left_semi")
      .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
    val nR = raw.agg(sum(col("c_r")).as("n_r"))
    val nT = tgt.agg(sum(col("c_t")).as("n_t"))
    val lr = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nT))
      .select(col("b"),
        (log((coalesce(col("c_t"), lit(0L)) + 1.0) / (col("n_t") + DsirBuckets)) -
          log((col("c_r") + 1.0) / (col("n_r") + DsirBuckets))).as("llr"))
    (lr, nR, nT)
  }

  /** [[dsirSelect]] over explicit raw docs / target-id tables. */
  def dsirSelectFrom(docs: DataFrame, targetIds: DataFrame, k: Int): DataFrame = {
    import Materialize.Stageable
    val feats = dsirFeats(docs).staged
    val (lr, _, _) = dsirLrParts(feats, targetIds)
    val u = (Hashing.h32(col("doc_id").cast("string")) + 0.5) / lit(4294967296.0)
    feats.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), longSum9(col("llr")).as("s"))
      .select(col("doc_id"), col("n_feats"),
        (col("s").cast("double") / 1e9).as("lw"))
      .withColumn("sel_key", floor((col("lw") - log(-log(u))) * 1e6) / 1e6)
      .select(col("doc_id"), col("n_feats"),
        (floor(col("lw") * 1e6) / 1e6).as("log_w"), col("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id"))
      .limit(k)
  }

  /** q70: k-means assignment step — every embedding assigned to its
    * nearest of 8 fixed centroids (the vectors with vec_id < 8) by
    * cosine; per-cluster size and cosine envelope. One Lloyd iteration's
    * E-step; the M-step is a groupBy-avg over the same join.
    *
    * Scale shape: the centroid table is k rows — broadcast — so
    * assignment is a single corpus scan with a k-way nested-loop per
    * row and a per-vector top-1 window (WindowGroupLimit). min/max are
    * the reported envelope because they are summation-order-independent
    * (a cross-engine avg over doubles is not). */
  /** Nearest-centroid assignment (vec_id, embedding, cluster_id, cos) —
    * the shared E-step behind q70/q77 (fixed k=8 seed centroids). */
  private def assignments(spark: SparkSession, dir: String): DataFrame =
    assignmentsK(Tables.embeddings(spark, dir), 8)

  /** The E-step over an arbitrary embedding table with the first `k`
    * vec_ids as seed centroids. `k` is q83's blocking knob: SemDeDup's
    * pair work is Σ c_i², so at scale k grows WITH the corpus to keep
    * cluster sizes bounded — the sf1 smoke (BASELINE.md round 7)
    * measured the fixed-k declared query at 17× for 10× data, which is
    * exactly what a corpus-proportional k flattens back to linear. */
  def assignmentsK(emb0: DataFrame, k: Int): DataFrame = {
    val emb = emb0.withColumn("nrm", Similarity.norm(col("embedding")))
    assignmentsWith(emb,
      emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cluster_id"), col("embedding").as("cvec"),
          col("nrm").as("cnrm")))
  }

  /** Two-level ROUTED E-step — the corpus-proportional-k scale path the
    * r20 sf10 smoke showed [[assignmentsK]] needs: with k ∝ n (the q83
    * blocking rule) the flat E-step is O(n·k) = O(n²/256) dots AND an
    * n·k-row window shuffle — measured 109× for 10× data at sf10. Here
    * each vector routes to its `nprobe` nearest of ~√k coarse cells
    * (n·√k work), then argmaxes only over the fine centroids routed to
    * those cells (n·nprobe·√k) — O(n·√k) total, and the within-cluster
    * pair step (Σ c_i² ≈ 256·n, the dominant term) is unchanged. At
    * 100 TB the same operator applies recursively (per-level branching
    * ~256, depth log₂₅₆ k) once the fine-centroid broadcast outgrows one
    * executor — the L-level generalization of this two-level shape.
    * Routing is the standard IVF approximation: a vector whose true
    * nearest fine centroid lives outside its `nprobe` coarse cells gets
    * a neighboring cluster, so cluster SHAPES differ from the flat
    * E-step — harmless for dedup blocking, because near-duplicates have
    * near-identical embeddings and route TOGETHER (CurationSpec pins the
    * dedup totals within 10% of the flat baseline at nprobe=2). */
  def assignmentsRouted(emb0: DataFrame, k: Int, nprobe: Int = 2): DataFrame = {
    val kCoarse = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val emb = emb0.withColumn("nrm", Similarity.norm(col("embedding")))
    val fine = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    val coarse = emb.filter(col("vec_id") < kCoarse)
      .select(col("vec_id").as("ccell"), col("embedding").as("ccvec"),
        col("nrm").as("ccnrm"))
    // each FINE centroid routes to its one nearest coarse cell (k×√k —
    // tiny); the routed table is k rows and broadcasts
    val fineRouted = fine.crossJoin(broadcast(coarse))
      .withColumn("cos",
        Similarity.cosine(col("cvec"), col("ccvec"), col("cnrm"), col("ccnrm")))
      .transform(Similarity.topPerKey("cluster_id", 1, "rn")(col("cos").desc, col("ccell")))
      .select(col("ccell"), col("cluster_id"), col("cvec"), col("cnrm"))
    // each vector routes to its nprobe nearest coarse cells (n×√k)
    val vecRouted = emb.select(col("vec_id"), col("embedding"), col("nrm"))
      .crossJoin(broadcast(coarse))
      .withColumn("cos",
        Similarity.cosine(col("embedding"), col("ccvec"), col("nrm"), col("ccnrm")))
      .transform(Similarity.topPerKey("vec_id", nprobe, "rn")(col("cos").desc, col("ccell")))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("ccell"))
    // fine argmax over the routed cells only (n×nprobe×(k/√k))
    vecRouted.join(broadcast(fineRouted), Seq("ccell"))
      .withColumn("cos",
        Similarity.cosine(col("embedding"), col("cvec"), col("nrm"), col("cnrm")))
      .transform(Similarity.topPerKey("vec_id", 1, "rn")(col("cos").desc, col("cluster_id")))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cluster_id"),
        col("cos"))
  }

  /** The E-step against an ARBITRARY centroid table (cluster_id, cvec,
    * cnrm) — seeded ([[assignmentsK]]) or trained (feed q77's M-step
    * means back in); `emb` must carry a precomputed `nrm`. This is what
    * makes the kmeans loop and IVF cell build centroid-set-agnostic. */
  def assignmentsWith(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"), col("nrm"))
      .crossJoin(broadcast(cent))
      .withColumn("cos",
        Similarity.cosine(col("embedding"), col("cvec"), col("nrm"), col("cnrm")))
      .transform(Similarity.topPerKey("vec_id", 1, "rn")(col("cos").desc, col("cluster_id")))
      // nrm rides along so semDedupK doesn't re-run the O(n×dim) norm pass
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cluster_id"), col("cos"))

  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    assignments(spark, dir)
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_assigned"),
        round(min(col("cos")), 6).as("min_cos"),
        round(max(col("cos")), 6).as("max_cos"))
      .orderBy(col("cluster_id"))

  /** q77: k-means centroid update — the M-step closing q70's Lloyd
    * iteration: the element-wise mean vector of each cluster's members,
    * one row per (cluster, dimension).
    *
    * Determinism: per-element contributions are floor-truncated to 9
    * decimals and summed as DECIMAL(28,9) (order-independent exact
    * arithmetic — the same defense as q75; a float sum over shuffled
    * rows is not cross-engine stable).
    *
    * Scale shape: posexplode fans each vector to 64 (dim, value) rows;
    * the mean is one agg shuffle on (cluster, dim) — 8×64 final groups
    * regardless of corpus size, with map-side partial sums doing the
    * heavy lifting. */
  def kmeansUpdate(spark: SparkSession, dir: String): DataFrame =
    assignments(spark, dir)
      .select(col("cluster_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        decSum9(col("v").cast("double")).as("s"))
      .select(
        col("cluster_id"), col("dim").cast("long").as("dim"), col("n"),
        trunc6(col("s").cast("double") / 1e9 / col("n")).as("centroid_mean"))
      .orderBy(col("cluster_id"), col("dim"))

  /** q71: fixed-window token chunking with overlap — 32-token chunks on
    * a 24-token stride (8-token overlap), the unit a training pipeline
    * feeds to a tokenizer/packer. Each chunk carries its span stats and
    * a cross-engine content fingerprint.
    *
    * Scale shape: narrow transform + explode — no shuffle; chunk count
    * is ~len/stride per document so output size is linear in input.
    * The fingerprint is the shared sha256-prefix hash (codegen'd). */
  def chunkTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.withColumn("toks", toks)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), size(col("toks")), lit(24)),
          s => slice(col("toks"), s, lit(32)))).as(Seq("chunk_id", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_in_chunk"),
        element_at(col("chunk"), 1).as("first_tok"),
        element_at(col("chunk"), -1).as("last_tok"),
        Hashing.h32(array_join(col("chunk"), " ")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q73: train/eval decontamination — corpus documents sharing ≥2
    * distinct 3-token shingles with any held-out eval document (every
    * 97th doc plays the eval set). The overlap report a training
    * pipeline runs before any benchmark score is trusted.
    *
    * Scale shape: the eval set is tiny by construction, so its shingle
    * table broadcasts, and — the key ordering decision — the corpus
    * grams hit that broadcast join BEFORE any dedup: deduping shared
    * grams after the join shuffles only the rows that matched an eval
    * shingle (≈ contamination volume), where dedup-then-join would
    * shuffle every gram in the corpus. At 100 TB the eval shingles fit
    * an executor easily (benchmarks are MBs). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateShared(spark, dir).orderBy(col("doc_id"), col("eval_id"))

  /** The contamination report as a standing artifact
    * ([[Materialize.shared]]): three declared queries consume the same
    * (doc_id, eval_id, n_shared) verdict — q73 itself, q78's funnel
    * stage, q133's decontamination stage — and each re-ran the corpus
    * shingle explode + eval join per query. All three columns are longs,
    * so the parquet round-trip is exact, and the funnel/provenance
    * consumers aggregate by doc_id with no order dependence (q73
    * re-applies its orderBy on read). */
  private[graft] def decontaminateShared(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // eval slice capped like the ANN probe grids (Similarity.probeFilter
    // — the shared probe-budget predicate): a benchmark suite is a
    // fixed-size table, not a corpus share, so the declared eval set is
    // bounded at any corpus size too
    Materialize.shared("decontam", docs)(
      decontaminateFrom(docs, docs.filter(Similarity.probeFilter(col("doc_id")))))
  }

  /** [[decontaminate]] over explicit corpus/eval tables — the deployment
    * shape (a benchmark suite is its own table, not a corpus slice; the
    * declared query passes the every-97th slice for the oracle). */
  def decontaminateFrom(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val grams = docs.withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingleCol).as("gram"))
    val ev = evalDocs.withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id").as("eval_id"), explode(Dedup.shingleCol).as("gram"))
      .distinct()
    grams.join(broadcast(ev), "gram")
      .filter(col("doc_id") =!= col("eval_id"))
      .groupBy(col("doc_id"), col("eval_id"))
      // distinct-count because the corpus side is NOT pre-deduped: a
      // gram occurring twice in a doc must still count one shared shingle
      .agg(countDistinct(col("gram")).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("doc_id"), col("eval_id"))
  }

  /** q74: sequence packing — greedy first-fit of documents into
    * fixed-budget token bins (256 tokens) within each source stream, the
    * step that turns a filtered corpus into dense training sequences.
    * A document that straddles a boundary overflows its bin (streaming
    * first-fit; exact bin-packing is NP-hard and order-destroying).
    *
    * Scale shape: bin assignment is a running token sum per source —
    * one window shuffle on source. Packing within shards (not globally)
    * is the point: a global cumulative sum would serialize the corpus
    * through one task, while per-source packing parallelizes across
    * streams and preserves shard-local document order. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("running", sum(col("n_tokens")).over(w))
      .withColumn("bin_id", floor((col("running") - col("n_tokens")) / 256))
      .groupBy(col("source"), col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_in_bin"))
      .orderBy(col("source"), col("bin_id"))
  }

  /** q75: unigram LM surprisal — each document scored by its mean
    * negative log-likelihood under the corpus's own unigram model (the
    * KenLM-style "how typical is this text" quality filter, with the
    * n=1 model the offline sandbox can verify exactly).
    *
    * Determinism across engines: a float sum over exploded rows is
    * summation-order-dependent, so each token cost is floor-truncated
    * to 9 decimals and accumulated as a 1e9-scaled BIGINT/long (r21;
    * formerly DECIMAL(28,9)) — exact integer arithmetic, any order,
    * both engines. Per-group bound: a doc's nll_sum ≤ n_tokens ·
    * max_nll · 1e9 ≈ tokens-per-doc · ~50e9 — long-safe for any
    * realistic document (wraps only past ~10^8 tokens in ONE doc). The
    * final mean and perplexity are projections of identical doubles.
    *
    * Scale shape: the unigram table is vocabulary-sized → broadcast
    * (same Zipf argument as TF-IDF). The token explode feeds THREE
    * consumers (the total-count scalar, the LM build, the scoring join),
    * so it is materialized once — r6's plan audit showed the
    * unmaterialized plan scanning documents.parquet 3×; with the
    * checkpoint the corpus is read once and the branches re-read token
    * rows. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    unigramSurprisalFrom(
      tokenTable(Tables.documents(spark, dir)).staged)

  /** [[unigramSurprisal]] over an already-materialized (doc_id, token)
    * table — pass a checkpointed/persisted `tok`, it is consumed 3×. */
  def unigramSurprisalFrom(tok: DataFrame): DataFrame = {
    val total = tok.select(count(lit(1)).as("total_toks"))
    val lm = tok.groupBy(col("token")).agg(count(lit(1)).as("occ"))
      .crossJoin(broadcast(total)) // 1-row scalar subquery shape
      .select(col("token"),
        (-log(col("occ") * 1.0 / col("total_toks"))).as("nll"))
    tok.join(broadcast(lm), "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), longSum9(col("nll")).as("nll_sum"))
      .select(
        col("doc_id"), col("n_tokens"),
        trunc6(col("nll_sum").cast("double") / 1e9 / col("n_tokens")).as("mean_nll"),
        trunc6(exp(floor(col("nll_sum").cast("double") / 1e9 / col("n_tokens") * 1e6) / 1e6))
          .as("perplexity"))
      .orderBy(col("doc_id"))
  }

  /** q129: interpolated bigram-LM surprisal — q75's quality filter one
    * model order up (the CCNet/KenLM direction: production pipelines
    * score with n-gram LMs, not unigrams): each document's mean negative
    * log-likelihood under p̂(w|prev) = λ·c(prev,w)/c(prev·) +
    * (1−λ)·c(w)/N, λ = 0.75 — Jelinek-Mercer interpolation with the
    * unigram as the backoff, trained on the corpus itself so the score
    * is "how typical is this text's PHRASING", which catches
    * scrambled-but-common-words junk the unigram model scores as fluent.
    *
    * Determinism: q75's rule — each bigram cost floored to 1e-9 and
    * summed as a 1e9-scaled BIGINT/long (per-doc groups, same
    * long-safety bound as q75), mean/perplexity projected from
    * identical doubles.
    *
    * Scale shape: the bigram explode is staged once (three consumers:
    * pair counts, context counts, scoring); the unigram table and the
    * 1-row total broadcast (q75's Zipf argument); the bigram LM table is
    * distinct-pair-sized — vocabulary², NOT reliably broadcastable at
    * 100 TB — so the scoring join deliberately SHUFFLES on (prev, w),
    * where both sides are partial-agg-friendly. That is the honest
    * at-scale plan; a deployment with a pruned LM (min-count cutoff)
    * flips it to a broadcast. Word identity throughout is the xxhash64
    * FINGERPRINT ([[tokHashes]]/[[graft.operators.Dedup.shingleFps]]
    * move): no token string survives into the output, so the staged
    * bigram table, both count shuffles, and the 16-byte-keyed scoring
    * join never carry strings — the oracle keeps raw strings, equality
    * classes match unless two vocabulary tokens collide in 64 bits. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import Materialize.Stageable
    val docs = Tables.documents(spark, dir)
    val pairs = transform(
      sequence(lit(1), size(col("toks")) - 1),
      i => struct(xxhash64(element_at(col("toks"), i)).as("ph"),
        xxhash64(element_at(col("toks"), i + 1)).as("wh")))
    val bg = docs.withColumn("toks", toks)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.ph").as("ph"), col("p.wh").as("wh"))
      .staged
    val tok = tokenTable(docs)
    val uni = tok.groupBy(xxhash64(col("token")).as("wh"))
      .agg(count(lit(1)).as("c1"))
    val ntot = tok.agg(count(lit(1)).as("ntot"))
    val c2 = bg.groupBy(col("ph"), col("wh")).agg(count(lit(1)).as("c2"))
    val cp = bg.groupBy(col("ph")).agg(count(lit(1)).as("cp"))
    // cp is vocabulary-sized (one row per distinct context word) — a
    // broadcast build side, like the unigram table below; un-hinted the
    // optimizer shuffled the much larger (vocab²-row) c2 onto `prev` for
    // an SMJ here (VERDICT r14 #6)
    val lm = c2.join(broadcast(cp), Seq("ph"))
      .join(broadcast(uni), Seq("wh"))
      .crossJoin(broadcast(ntot))
      .select(col("ph"), col("wh"),
        (-log(lit(0.75) * (col("c2") * 1.0 / col("cp")) +
          lit(0.25) * (col("c1") * 1.0 / col("ntot")))).as("nll"))
    bg.join(lm, Seq("ph", "wh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), longSum9(col("nll")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        trunc6(col("s").cast("double") / 1e9 / col("n_bigrams")).as("mean_nll"),
        trunc6(exp(floor(col("s").cast("double") / 1e9 / col("n_bigrams") * 1e6) / 1e6))
          .as("perplexity"))
      .orderBy(col("doc_id"))
  }

  /** q76: domain mixture reweighting — per source stream: its document
    * and token counts, its share of the corpus, and the up/down-sampling
    * weight that would flatten the mixture to uniform across sources
    * (the DoReMi-style knob a pretraining pipeline turns per domain).
    *
    * Scale shape: one agg shuffle on source; the share/weight math runs
    * on the aggregated (n_sources-row) table against one broadcast
    * scalar. */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perSrc = docs
      .withColumn("n_toks", size(toks).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val totals = perSrc.select(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(totals)) // 1-row scalar subquery shape
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        trunc6(col("n_tokens") * 1.0 / col("total_tokens")).as("token_share"),
        trunc6((lit(1.0) / col("n_sources")) /
          (col("n_tokens") * 1.0 / col("total_tokens"))).as("uniform_weight"))
      .orderBy(col("source"))
  }

  /** q78: the composed curation funnel — quality gate → exact dedup →
    * decontamination → sequence packing, reported as a per-source funnel
    * (docs in, after each stage, bins and tokens packed). This is the
    * end-to-end pipeline a user actually runs; each stage reuses the
    * standalone operator's exact semantics (q66 rules, q34's normalized
    * sha256 fingerprint keeping min doc_id, q73's ≥2-shared-shingle
    * contamination set, q74's 256-token per-source packing).
    *
    * Scale shape: each stage makes one pass of the corpus *rows* and no
    * stage materializes an intermediate corpus copy — but the stages are
    * separate sub-plans joined back on doc_id, so the executed plan
    * (r6's plan audit) tokenize-explodes the corpus three times (gate,
    * decontaminate, and the funnel's own n_toks/fp pass). The
    * composition stays shuffle-sane: gate flags join back doc-aligned,
    * the contamination set is a broadcast anti-join-shaped left join
    * (contaminated docs are few), dedup keeper is one window over the
    * fingerprint, and packing is the per-source running sum. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gate = qualityGateShared(spark, dir).select(col("doc_id"), col("keep"))
    val contam = decontaminateShared(spark, dir)
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val flagged = docs
      .withColumn("n_toks", size(toks).cast("long"))
      .withColumn("fp", Dedup.textFp)
      .join(gate, "doc_id")
      .join(broadcast(contam), Seq("doc_id"), "left")
    // dedup among gate survivors only: keeper = min kept doc_id per fp
    val keeper = min(when(col("keep"), col("doc_id")))
      .over(Window.partitionBy(col("fp")))
    val staged = flagged
      .withColumn("is_dup", col("keep") && col("doc_id") =!= keeper)
      .withColumn("survivor",
        col("keep") && !col("is_dup") && col("contaminated").isNull)
    val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged
      .withColumn("running",
        sum(when(col("survivor"), col("n_toks")).otherwise(lit(0L))).over(wSrc))
      .withColumn("bin",
        when(col("survivor"), floor((col("running") - col("n_toks")) / 256)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("keep"), lit(1))).as("n_after_gate"),
        count(when(col("keep") && !col("is_dup"), lit(1))).as("n_after_dedup"),
        count(when(col("survivor"), lit(1))).as("n_after_decontam"),
        coalesce(max(col("bin")) + 1, lit(0L)).as("n_bins"),
        coalesce(sum(when(col("survivor"), col("n_toks"))), lit(0L))
          .as("n_tokens_packed"))
      .orderBy(col("source"))
  }

  /** q133: per-document drop-reason provenance (VERDICT r14 #4) — ONE
    * doc-aligned (doc_id, stage, reason, detail) table unioning every
    * standalone drop verdict a curation pass renders: the q66 quality
    * gate's failed rules (detail names WHICH rules failed), q34's exact-
    * dup clusters (detail carries the keeper), q37's LSH near-dup pairs
    * (detail carries the smallest verified partner — the keep-lowest-id
    * convention's keeper — and the pair count), and q73's eval-overlap
    * contamination (detail carries the overlap count and first eval id).
    * This is the audit trail a data-governance review asks for: "why is
    * doc X not in the training set", answerable per document with the
    * evidence attached.
    *
    * Flags are the STANDALONE operators' verdicts — a doc can carry
    * several rows (dropped for quality AND a duplicate), which is the
    * point: the table answers every reason a doc would be dropped, not
    * the funnel's sequential first-cause attribution (q78 reports that
    * composition).
    *
    * Scale shape: four independent doc-aligned sub-plans (each the
    * standalone operator's own bounded shape — two partial-agg shuffles
    * for the gate, one fingerprint window for exact dup, the LSH
    * banding for near-dup, the broadcast eval join for decontam) whose
    * outputs are drop-row slivers unioned with zero extra shuffles; the
    * final sort is the declared query's presentation order only. */
  def dropProvenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val quality = qualityGateShared(spark, dir)
      .filter(!col("keep"))
      .select(col("doc_id"), lit("quality").as("stage"),
        lit("failed_rule").as("reason"),
        concat_ws(",",
          when(col("n_tokens") < 30, lit("min_tokens")),
          when(col("ttr") < 0.45, lit("low_ttr")),
          when(col("top_ratio") > 0.15, lit("dominant_token"))).as("detail"))
    val wFp = Window.partitionBy(col("fp"))
    val exactDup = docs.withColumn("fp", Dedup.textFp)
      .select(col("doc_id"), min(col("doc_id")).over(wFp).as("keeper"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), lit("exact_dedup").as("stage"),
        lit("duplicate").as("reason"),
        concat(lit("keeper="), col("keeper").cast("string")).as("detail"))
    val nearDup = Dedup.lshNearDup(spark, dir)
      .groupBy(col("d2").as("doc_id"))
      .agg(min(col("d1")).as("dup_of"), count(lit(1)).as("n_pairs"))
      .select(col("doc_id"), lit("near_dedup").as("stage"),
        lit("near_duplicate").as("reason"),
        concat(lit("dup_of="), col("dup_of").cast("string"),
          lit(",n_pairs="), col("n_pairs").cast("string")).as("detail"))
    val contam = decontaminateShared(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval"), min(col("eval_id")).as("first_eval"))
      .select(col("doc_id"), lit("decontamination").as("stage"),
        lit("eval_overlap").as("reason"),
        concat(lit("n_eval="), col("n_eval").cast("string"),
          lit(",first_eval="), col("first_eval").cast("string")).as("detail"))
    quality.unionByName(exactDup).unionByName(nearDup).unionByName(contam)
      .orderBy(col("doc_id"), col("stage"))
  }

  /** q79: incremental dedup — classify an arriving batch (docs with
    * doc_id % 7 == 0 play "today's crawl") against the existing corpus
    * fingerprint index: `novel`, `dup_of_corpus`, or `dup_in_batch`
    * (first occurrence in the batch wins). The daily-ingest shape: at
    * 100 TB you never re-dedup the corpus — you keep its distinct-fp
    * index (the thing this query's right side scans) and join each
    * increment against it.
    *
    * Scale shape: one shuffle join on the fingerprint + one window over
    * the batch's own fps. The corpus index is pre-distinct so the join
    * side is |unique docs|, and a bloom filter over the (much smaller)
    * batch fps would prune the index scan further — noted, not needed
    * at test scale. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("fp", Dedup.textFp)
    val corpusIndex = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("fp")).distinct()
      .withColumn("in_corpus", lit(true))
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val wFp = Window.partitionBy(col("fp"))
    batch
      .join(corpusIndex, Seq("fp"), "left")
      .withColumn("first_in_batch", min(col("doc_id")).over(wFp))
      .select(
        col("doc_id"),
        when(col("in_corpus"), lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("first_in_batch"), lit("dup_in_batch"))
          .otherwise(lit("novel")).as("status"))
      .orderBy(col("doc_id"))
  }

  // Bloom parameters: k hashes, and m bits SIZED FROM THE KEYS — the
  // next power of two >= BloomBitsPerKey × |keys| (floor 2^14), per
  // shard — so fpp stays ≈ 3e-4 at any scale instead of degrading as the
  // index outgrows a fixed sketch. The sketch stays KB-to-MB while the
  // index it summarizes is GB-to-TB; that asymmetry is the whole point.
  // One shard holds while m fits a broadcast (~2^30 bits / ~10^7-row
  // indexes at 28 bits per key); past that, more shards split the key
  // space into independently-sized arrays behind the same membership
  // test (bloomWordsSharded/bloomHitSharded below).
  private val BloomBitsPerKey = 28
  private val BloomK = 4

  /** SQL for "all k bloom bits set for expression `e` against the
    * `bloom` array column" — pure column math (variable-distance shifts
    * via the SQL `>>`), so the membership test runs inside whole-stage
    * codegen with no UDF, and usable INSIDE a higher-order-function
    * lambda (the streaming span gate tests every span hash of a row this
    * way). m is recovered from the array length (64 bits per word), so
    * build and test agree at every corpus size and shard count; the
    * hashing must otherwise match [[bloomWordsSharded]]' build side
    * exactly. */
  private[graft] def bloomHitSql(e: String): String = {
    val m = "CAST(size(bloom) AS BIGINT) * 64"
    (0 until BloomK).map { i =>
      s"((element_at(bloom, CAST(pmod(xxhash64($e, $i), $m) DIV 64 AS INT) + 1)" +
        s" >> CAST(pmod(xxhash64($e, $i), $m) % 64 AS INT)) & 1) = 1"
    }.mkString(" AND ")
  }

  /** [[bloomHitSql]] over this row's `fp` column, as a Column. */
  private[graft] def bloomHit: Column = expr(bloomHitSql("fp"))

  // Shard-routing hash seed for the sharded sketch — outside the 0..K-1
  // seeds the bit positions use, so shard assignment is independent of
  // the bits set within a shard.
  private val BloomShardSeed = 1000

  /** Shard id of an arbitrary key column under `nShards` shards. */
  private[graft] def bloomShardColOf(key: Column, nShards: Int): Column =
    pmod(xxhash64(key, lit(BloomShardSeed)), lit(nShards.toLong))

  /** Shard id for this row's `fp` under `nShards` shards. */
  private[graft] def bloomShardCol(nShards: Int): Column =
    bloomShardColOf(col("fp"), nShards)

  /** The m-bit Bloom filter over a fingerprint column, split into
    * `nShards` by an independent routing hash: `nShards` rows of (shard,
    * bloom), each `bloom` ONE dense `array<bigint>` sized from that
    * shard's key count. Built distributively with no driver collect: the
    * per-shard m comes from a count aggregate broadcast back, each fp
    * explodes to its k bit positions mod m, `bit_or` collapses per-word
    * masks, and a per-shard aggregate densifies the sparse words into
    * one ordered array. One shard is the single-array sketch; more
    * shards bound each collect_list by its own width, which removes the
    * single-aggregation ceiling. Membership ([[bloomHitSharded]]) routes
    * each probe to its owning shard; with KB-to-MB shards the shard
    * table broadcasts, and past broadcast entirely the same contract
    * runs as a shuffle join on the shard id
    * (`broadcastShards = false`). */
  private[graft] def bloomWordsSharded(fps: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    // two passes over the keys are inherent (m must precede hashing), but
    // the caller's upstream pipeline must not run twice — materialize once
    // here (a second checkpoint of an already-materialized index is a
    // cheap copy, so pre-checkpointed callers lose nothing)
    val mat = fps.withColumn("shard", bloomShardCol(nShards)).staged
    // EVERY shard id gets a row — a shard no corpus key routed to still
    // emits its (floor-width, all-zero) sketch, so consumers joining on
    // the shard id annotate every probe instead of silently dropping the
    // ones routed to an empty shard (found in review: the streaming gate
    // inner-joins, and a dropped row is silent ingest data loss)
    val counts = mat.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
    val mRows = fps.sparkSession.range(nShards).select(col("id").as("shard"))
      .join(counts, Seq("shard"), "left")
      .select(col("shard"),
        pow(lit(2.0), ceil(log2(greatest(
          coalesce(col("cnt"), lit(0L)) * BloomBitsPerKey, lit(16384L)))))
          .cast("long").as("m"))
    val posCols = (0 until BloomK).map(i =>
      pmod(xxhash64(col("fp"), lit(i)), col("m")))
    val wordRows = mat
      .join(broadcast(mRows), Seq("shard"))
      .select(col("shard"), explode(array(posCols: _*)).as("pos"))
      .groupBy(col("shard"), expr("pos DIV 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("bits"))
    // densify by exploding the full word range FROM THE m SCALAR (so the
    // width never touches the driver) and sorting once — NOT by per-word
    // map lookups: element_at on Spark's array-backed MapData is a linear
    // scan, which made that formulation O(W²) and measurably slow the
    // moment the corpus sized W up
    mRows
      .select(col("shard"), explode(expr("sequence(0L, m DIV 64 - 1)")).as("w"))
      .join(wordRows, Seq("shard", "w"), "left")
      .select(col("shard"), col("w"), coalesce(col("bits"), lit(0L)).as("bits"))
      .groupBy(col("shard"))
      .agg(expr("transform(array_sort(collect_list(struct(w, bits))), s -> s.bits)")
        .as("bloom"))
  }

  /** Membership against a [[bloomWordsSharded]] sketch: route each probe
    * row to its owning shard, join that shard's array in, and run the
    * [[bloomHit]] bit test (m recovers from the shard's array length, so
    * per-shard sizing needs no side channel). Returns the rows the
    * sketch cannot rule out, `bloom`/routing columns dropped.
    * `broadcastShards = false` is the past-broadcast regime AS CODE (not
    * a prose fallback): the same equi-join runs as a SHUFFLE join on the
    * shard id — output-identical, pinned in CurationSpec. The shuffle
    * strategy is hinted (`shuffle_hash`, shard table as build side)
    * rather than merely un-hinted: at toy scale the optimizer's stats
    * would quietly re-broadcast whichever side looks small, and the
    * regime this knob declares is the one where NOTHING fits — the
    * probe stream stays streaming, each partition hashes only its own
    * shards. PlanGuardSpec asserts the planned join is not a broadcast. */
  private[graft] def bloomHitSharded(probe: DataFrame, shards: DataFrame,
                                     nShards: Int,
                                     broadcastShards: Boolean = true): DataFrame =
    probe
      .withColumn("shard", bloomShardCol(nShards))
      .join(if (broadcastShards) broadcast(shards) else shards.hint("shuffle_hash"),
        Seq("shard"))
      .filter(bloomHit)
      .drop("shard", "bloom")

  /** q94's %7 corpus/batch split: (distinct corpus fingerprint index,
    * arriving batch) — ONE definition shared by the query and the spec
    * hook so they can never drift apart. */
  private def incrementSplit(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir).withColumn("fp", Dedup.textFp)
    (docs.filter(col("doc_id") % 7 =!= 0).select(col("fp")).distinct(),
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source"), col("fp")))
  }

  /** The batch rows the one-shard corpus sketch cannot rule out. */
  private def candidateSlice(batch: DataFrame, corpusFp: DataFrame): DataFrame =
    bloomHitSharded(batch, bloomWordsSharded(corpusFp, 1), 1)

  /** q94: Bloom-prefiltered incremental admit list — q79's daily-ingest
    * shape with the piece that makes it work at 100 TB: the corpus
    * fingerprint index is summarized into a corpus-sized one-shard
    * Bloom sketch ([[bloomWordsSharded]]) that ships to every executor
    * as one array (KBs vs the index's GBs), the arriving batch tests
    * membership with pure column math, and ONLY the docs the filter
    * cannot rule out (true dups + ~fpp false positives) reach the exact
    * semi-join against the index. Bloom negatives are definitive, so the admitted
    * output is EXACT — which is what keeps the operator oracle-checkable;
    * the sketch only decides how little of the batch the verify join has
    * to touch.
    *
    * Output: the admitted (novel, first-in-batch) docs. Scale shape: one
    * corpus-index pass to build the sketch (amortized across every batch
    * of the day in a deployment), a 1-row broadcast, and a verify join
    * whose left side is the candidate sliver, not the batch. */
  def bloomIncrement(spark: SparkSession, dir: String): DataFrame = {
    val (corpusIdx, batch) = incrementSplit(spark, dir)
    // one materialization feeds the sketch build and the verify join
    val corpusFp = corpusIdx.staged
    // The barrier is load-bearing: without it, PushDownLeftSemiAntiJoin
    // reorders the exact semi-join BELOW the sketch test (legal — the
    // join only references fp), and the executed plan verifies the WHOLE
    // batch before consulting the bloom, which is exactly backwards at
    // scale. Materializing the candidate sliver (true dups + ~fpp of the
    // batch — tiny) pins the order the sketch exists to create.
    val candidates = candidateSlice(batch, corpusFp)
      .select(col("doc_id"), col("fp"))
      .staged
    admitList(batch, corpusFp, candidates)
  }

  /** The exact tail both q94 variants share: verify the candidate sliver
    * against the index, keep first-in-batch non-dups. */
  private[graft] def admitList(batch: DataFrame, corpusFp: DataFrame,
                               candidates: DataFrame,
                               broadcastDupVerify: Boolean = true): DataFrame = {
    // dupOfCorpus is ~fpp of the batch plus the TRUE dups — and true-dup
    // volume is unbounded (a batch that is mostly re-ingested duplicates
    // makes it batch-sized), so the hint is a regime, not a law: the
    // default keeps the anti-join broadcast (without it the size
    // estimate flowing out of the staged candidates' lineage can push
    // the plan to SortMergeJoin — two extra full-batch exchanges, the
    // q100 budget bust), and `broadcastDupVerify = false` is the
    // dup-heavy-batch fallback: dup list AND corpus index both run as
    // sort-merge joins (hinted, not merely un-hinted — toy-scale stats
    // would re-broadcast; see bloomHitSharded).
    val dupVerify = candidates
      .join(if (broadcastDupVerify) corpusFp else corpusFp.hint("shuffle_merge"),
        Seq("fp"), "left_semi")
      .select(col("doc_id"))
    val dupOfCorpus =
      if (broadcastDupVerify) broadcast(dupVerify)
      else dupVerify.hint("shuffle_merge")
    val wFp = Window.partitionBy(col("fp"))
    batch
      .withColumn("first_in_batch", min(col("doc_id")).over(wFp))
      .filter(col("doc_id") === col("first_in_batch"))
      .join(dupOfCorpus, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** q100: q94's admit list computed through a standing 4-shard sketch
    * ([[bloomWordsSharded]]/[[bloomHitSharded]], so real multi-shard
    * routing is exercised) — identical output by construction (any bloom
    * only decides how little reaches the exact verify), and declared as
    * its own query so multi-shard routing is held to the same DuckDB
    * hash gate as q94's one-shard sketch. `broadcastJoins = false` (q105)
    * runs the shard join and both verify joins shuffled. */
  def bloomIncrementSharded(spark: SparkSession, dir: String,
                            broadcastJoins: Boolean = true): DataFrame = {
    val (corpusIdx, batch) = incrementSplit(spark, dir)
    // the sharded corpus sketch is a standing artifact (its own scaladoc:
    // "amortized across every batch of the day") serving both gate
    // regimes (q100/q105). The corpus fingerprint INDEX is standing too,
    // and the sketch is built FROM its read: bloom negatives skip the
    // exact verify entirely, so gate and verify must agree on what the
    // corpus is.
    val corpusFp = Materialize.shared("bloomCorpusFp", corpusIdx)(corpusIdx)
    val shards = Materialize.shared("bloomShardIdx", corpusFp)(
      bloomWordsSharded(corpusFp, 4))
    val candidates =
      bloomHitSharded(batch, shards, 4, broadcastJoins)
        .select(col("doc_id"), col("fp"))
        .staged // the same reorder barrier bloomIncrement documents
    admitList(batch, corpusFp, candidates, broadcastJoins)
  }

  /** Span window width for the q95/q96/q98 family (tokens). 8 is small
    * enough that the test corpus contains organic repeats, large enough
    * that a match means real shared phrasing, not chance n-gram overlap. */
  private[graft] val SpanW = 8

  /** Per-token 64-bit hashes of the `toks` column — computed ONCE per
    * row so [[spanHashes]] never re-scans token characters per span
    * position. */
  private[graft] def tokHashes: Column = transform(col("toks"), t => xxhash64(t))

  /** Every sliding [[SpanW]]-token span FINGERPRINT of a (toks, n,
    * tokh) row, in span start order — THE span identity definition,
    * shared by the batch span family and the streaming span gate
    * ([[graft.streaming.StreamOps.spanGateStream]]) so the two sides can
    * never silently disagree on what a span is. Identity is xxhash64
    * over the span's [[SpanW]] token hashes (stringified so the bloom /
    * sorted-index machinery is fingerprint-type-agnostic), not
    * sha2-256 of the joined text: the r14 profile showed SHA-256 plus
    * 64-char shuffle keys dominating the span family's cost, and every
    * declared consumer uses the fingerprint ONLY for equality classes
    * (the DuckDB oracles partition/join by the raw span string, so the
    * hash never has to be mirrored — only its equality classes, which
    * match the string classes exactly unless two distinct spans collide
    * in 64 bits, P ≈ spans²/2⁶⁴: zero at test scale. A 100 TB corpus
    * with ~10¹² spans WOULD see rare collisions; each marks a span
    * duplicated a hair early — the benign direction for dedup — and the
    * escape hatch is widening to a 2×64-bit struct fingerprint, same
    * plan shape). */
  private[graft] def spanHashes: Column =
    transform(sequence(lit(0), (col("n") - SpanW).cast("int")),
      i => xxhash64((0 until SpanW).map(j =>
        element_at(col("tokh"), i + 1 + j)): _*).cast("string"))

  /** The ≥[[SpanW]]-token documents with `toks` + `n` + `tokh` attached. */
  private def spanDocs(documents: DataFrame): DataFrame =
    documents.withColumn("toks", toks)
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= SpanW)
      .withColumn("tokh", tokHashes)

  /** The corpus SPAN TABLE: one row per sliding span — (doc_id, source,
    * n, i, h). The one expensive explode every span-family operator
    * starts from; [[spanTable]]/[[persistSpanTable]] stage it once for
    * deployments composing several of them. */
  private[graft] def spanRows(documents: DataFrame): DataFrame =
    spanDocs(documents)
      .select(col("doc_id"), col("source"), col("n"),
        posexplode(spanHashes).as(Seq("i", "h")))

  /** The span table staged once for every downstream consumer —
    * deployment mode, the [[pairTable]] pattern applied to the span
    * family. The declared queries q95/q96/q98 each recompute the span
    * explode because the driver benches them in isolation (~5.4 s of the
    * r8 profile was exactly this recomputation); a deployment composing
    * them calls this once and passes the result to the `*From` variants,
    * which CurationSpec asserts equivalent to the isolation results.
    *
    * Standing ([[Materialize.shared]]): the deployment-path regimes that
    * start here — q99's staged marker, q113's sketch-phase marker,
    * q101/q103's sharded gates (probe side AND the standing shard
    * index's build) — together re-exploded the same corpus once per
    * query; one build now serves all of them. The in-query q95/q96/q98
    * baselines keep their own explodes (the declared isolation
    * regimes). */
  def spanTable(spark: SparkSession, dir: String): DataFrame =
    // hybrid: the EXPLODE is session-standing (shared parquet), but each
    // query re-stages the scan — markers like q113's sketch phase read
    // the table several times per plan, and repeated parquet decodes of
    // the string-keyed span rows measured SLOWER than one scan +
    // localCheckpoint re-reads (span-family subset bench, r19)
    Materialize.stage(spanTableShared(spark, dir))

  /** The session-standing span parquet WITHOUT the per-query stage — for
    * consumers that read it once-through (q144: one streaming corpus pass
    * + a doc_id-pruned eval sliver), where a localCheckpoint of the whole
    * token-volume table per query is pure overhead; the parquet scan
    * prunes columns and pushes the doc_id predicate instead (r22). */
  private[graft] def spanTableShared(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Materialize.shared("spanTable", docs)(spanRows(docs))
  }

  /** [[spanTable]], durably: write the span table to a parquet sink and
    * return the re-read frame — the [[persistPairTable]] dual. Unlike the
    * pair table the span table is token-volume-sized, so a deployment
    * shards it by the sink's partitioning; it amortizes across every
    * span-family consumer AND daily increments ([[spanTableIncrement]]). */
  def persistSpanTable(spark: SparkSession, dir: String, sink: String): DataFrame = {
    LocalFs.write(spanRows(Tables.documents(spark, dir))).mode("overwrite").parquet(sink)
    spark.read.parquet(sink)
  }

  /** Append-only span-table refresh: a span row is an immutable fact
    * about one document, so an arriving batch extends the corpus span
    * table by UNION — the whole corpus is never re-exploded (the q79
    * daily-ingest philosophy at span granularity). Occurrence counts are
    * additive under union, so every downstream marker (the
    * [[dupHitsTwoPhase]] family, [[dupSpanIndex]]) is correct over the
    * merged table by construction; CurationSpec pins merged ==
    * from-scratch. On a
    * parquet-staged table this is a partition append, not a rewrite.
    * The increment half is STAGED here in the helper (not at call
    * sites): the merged table feeds multiple consumers (markers, doc
    * list, coverage), and an unstaged increment would re-explode the
    * arriving batch once per consumer — the r13 q114 bench measured
    * that at 2.2× (7.3 → 3.3 s at sf0.1). Callers stage the `existing`
    * side themselves (a deployment's standing table already is). */
  def spanTableIncrement(existing: DataFrame, newDocs: DataFrame): DataFrame =
    existing.unionByName(Materialize.stage(spanRows(newDocs)))

  /** Duplicated-span hits (doc_id, i), window-count formulation: ONE
    * shuffle on the span hash — `count over (partition by h)` marks
    * duplicates in the same pass that carries doc/position. Kept as a
    * spec-pinned alternative (CurationSpec pins three-way marker
    * equality), NOT the declared q95/q96 plan: a viral span concentrates
    * its whole hash partition in one task, and the window's
    * sort-per-partition inflated the q95/q96 in-suite bench 2 rounds
    * running (r12: 50.9 s in-suite vs 2.2 s isolated) where the
    * two-phase marker's partial-agg shape stayed flat — the same
    * pressure a 100× skewed corpus applies for real. */
  private[graft] def dupHitsWindow(spans: DataFrame): DataFrame =
    spans
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("occ") >= 2)
      .select(col("doc_id"), col("i"))

  /** Duplicated-span hits, two-phase heavy-hitter formulation — the
    * viral-span-skew answer, promoted from q95's former scale-note
    * comment to code: (1) count-aggregate the span hashes, where map-side
    * partial aggregation collapses a 10^6-occurrence span to one row per
    * map task BEFORE the shuffle (no hot partition — the skew defense);
    * (2) broadcast the ≥2 set and left-semi join, so the marking pass
    * never shuffles the span rows at all. Output identical to
    * [[dupHitsWindow]] (CurationSpec pins it on a 10^3-copy viral-span
    * corpus). Regime: the DUP-hash set must fit a broadcast (~10^7
    * entries); beyond that, [[dupHitsSketchPhase]] is the same contract
    * without the broadcast requirement. */
  private[graft] def dupHitsTwoPhase(spans: DataFrame): DataFrame = {
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))
    spans.join(broadcast(dup), Seq("h"), "left_semi")
      .select(col("doc_id"), col("i"))
  }

  /** [[dupHitsTwoPhase]] past the broadcast ceiling — the q94 split
    * applied to spans, promoted from the regime note to code: the
    * ≥2-occurrence hash set is summarized into a corpus-sized Bloom
    * sketch (one-shard [[bloomWordsSharded]] — KBs–MBs however large the
    * dup set is), every span row tests the sketch in pure column math,
    * and only the candidate sliver (true dup rows + ≈ 3e-4 false
    * positives) pays the exact semi-join against the full dup set —
    * which now SHUFFLES instead of broadcasting, but with a sliver-sized
    * probe side.
    * Output exactly equal to both other formulations (sketch negatives
    * are definitive; the exact join removes the false positives) —
    * CurationSpec pins three-way equality including the viral-span
    * corpus. Skew note: the sliver's shuffle keys are dup-span hashes,
    * so a viral span still concentrates ITS OWN rows in one task —
    * bounded by that one span's occurrence count, never by the corpus;
    * salting the semi-join key is the residual knob if a single span's
    * row set outgrows a task. */
  private[graft] def dupHitsSketchPhase(spans: DataFrame): DataFrame = {
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))
      .staged // feeds the sketch build and the exact verify
    val candidates = bloomHitSharded(
        spans.select(col("doc_id"), col("i"), col("h").as("fp")),
        bloomWordsSharded(dup.select(col("h").as("fp")), 1), 1)
      .select(col("doc_id"), col("i"), col("fp").as("h"))
    candidates.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), col("i"))
  }

  /** Per-doc coverage aggregation shared by q95 and its `*From` variant. */
  private def spanCoverage(docIds: DataFrame, hits: DataFrame): DataFrame = {
    val cov = hits
      .select(col("doc_id"), col("i"),
        explode(sequence(col("i"), col("i") + (SpanW - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("i")).as("n_dup_spans"),
        countDistinct(col("pos")).as("n_covered"))
    docIds
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (floor((lit(1.0) - coalesce(col("n_covered"), lit(0L)) / col("n")) * 1e6) / 1e6)
          .as("keep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q95: duplicated-span coverage — the substring-level dedup primitive
    * (the "dedup training data at the span level, not the document
    * level" operation): every sliding [[SpanW]]-token window is
    * fingerprinted corpus-wide, windows occurring ≥ 2 times anywhere are
    * duplicated spans, and each document reports how much of it those
    * spans cover (`keep_ratio` = the fraction a span-trimming pass would
    * retain). Document-level dedup (q34/q37) misses exactly this: two
    * distinct documents sharing a long boilerplate paragraph.
    *
    * Scale shape: one explode to ≈|tokens| span rows, then the span
    * marking pass ([[dupHitsTwoPhase]] — the viral-span-proof
    * heavy-hitter marker; [[dupHitsWindow]] remains the spec-pinned
    * single-shuffle alternative whose hot-partition trade r12's bench
    * paid twice), then one per-doc aggregation
    * of span starts and covered positions. Docs shorter than [[SpanW]]
    * tokens carry no spans and are excluded by declaration (they cannot
    * contain a duplicated span). */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(Tables.documents(spark, dir))
    spanCoverage(docs.select(col("doc_id"), col("n")),
      dupHitsTwoPhase(spanRows(Tables.documents(spark, dir))))
  }

  /** [[spanDedup]] over an existing span table ([[spanTable]]) — the doc
    * list (every doc with ≥ 1 span) is recovered from the table itself. */
  def spanDedupFrom(spans: DataFrame): DataFrame =
    spanCoverage(spans.select(col("doc_id"), col("n")).distinct(),
      dupHitsTwoPhase(spans))

  /** q99: q95 through the DEPLOYMENT path — the staged span table
    * ([[spanTable]]) consumed by the two-phase heavy-hitter marker —
    * declared as its own query so the deployment machinery is held to
    * the same DuckDB hash gate as the isolation plan (same oracle SQL:
    * the declared semantics are identical by construction). */
  def spanDedupStaged(spark: SparkSession, dir: String): DataFrame =
    spanDedupFrom(spanTable(spark, dir))

  /** Trim + reconstruction core shared by q96 and its `*From` variant. */
  private def spanTrimCore(docs: DataFrame, hits: DataFrame): DataFrame = {
    val cut = hits
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (SpanW - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("cut"))
    docs
      .join(cut, Seq("doc_id"), "left")
      .withColumn("cut", coalesce(col("cut"), array().cast("array<int>")))
      .select(
        col("doc_id"), col("n").as("n_tokens"),
        (col("n") - size(col("cut"))).cast("long").as("n_kept"),
        array_join(
          transform(
            filter(sequence(lit(0), (col("n") - 1).cast("int")),
              p => !array_contains(col("cut"), p)),
            p => element_at(col("toks"), p + 1)),
          " ").as("text_trimmed"))
      .orderBy(col("doc_id"))
  }

  /** q96: span trimming — q95's signal APPLIED: every token covered by a
    * corpus-duplicated span is cut and the survivors rejoin in order, so
    * the output is the de-boilerplated text a training run would
    * actually consume (span-level dedup removes the shared paragraph
    * from BOTH copies — by construction a duplicated span never has a
    * canonical owner; pair q96 with q34/q37 when one copy should be
    * kept whole).
    *
    * Scale shape: the span marking pass ([[dupHitsTwoPhase]] — the q95
    * choice; [[dupHitsWindow]] is the spec-pinned alternative), one
    * per-doc
    * `collect_set` of covered positions (bounded by document length, not
    * corpus size), and the reconstruction is a per-row array pipeline —
    * filter the position range against the cut set, re-index into toks,
    * rejoin. Docs with no duplicated span pass through verbatim. */
  def spanTrim(spark: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(Tables.documents(spark, dir))
    spanTrimCore(docs, dupHitsTwoPhase(spanRows(Tables.documents(spark, dir))))
  }

  /** [[spanTrim]] over an existing span table ([[spanTable]]); `documents`
    * supplies the token arrays the reconstruction re-indexes into. */
  def spanTrimFrom(spans: DataFrame, documents: DataFrame): DataFrame =
    spanTrimCore(spanDocs(documents), dupHitsTwoPhase(spans))

  /** q130: within-document self-repetition — the span family's THIRD
    * granularity (corpus-wide q95, chunk q91): a span duplicated
    * *inside one document* is the loop/babble signal (Lee et al. 2021's
    * self-repeat case) that corpus-level marking dilutes (a span unique
    * to one doc but repeated 50× within it still gets occ ≥ 2 in q95,
    * but its coverage is attributed as cross-doc duplication; q67's
    * bigram ratio sees repetition without locating it). Per document:
    * spans occurring ≥ 2 times IN THAT DOCUMENT, their covered-token
    * count, and the self-repetition ratio a looping-text filter gates
    * on.
    *
    * Scale shape: the ONLY shuffle keys on (doc_id, h) — doc-prefixed,
    * so a corpus-viral span cannot form a hot partition (each document
    * carries only its own copies) and map-side partials collapse
    * within-doc repeats before the wire; coverage is the q95
    * aggregation shape keyed by doc. */
  def selfRepeat(spark: SparkSession, dir: String): DataFrame =
    selfRepeatFrom(spanTable(spark, dir)) // rides the standing table (r19)

  /** [[selfRepeat]] over an existing span table ([[spanTable]]). */
  def selfRepeatFrom(spans: DataFrame): DataFrame = {
    val dup = spans.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("doc_id"), col("h"))
    val hits = spans.join(dup, Seq("doc_id", "h"), "left_semi")
      .select(col("doc_id"), col("i"))
    val cov = hits
      .select(col("doc_id"), col("i"),
        explode(sequence(col("i"), col("i") + (SpanW - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("i")).as("n_self_spans"),
        countDistinct(col("pos")).as("n_covered"))
    spans.select(col("doc_id"), col("n")).distinct()
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("n_self_spans"), lit(0L)).as("n_self_spans"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (floor(coalesce(col("n_covered"), lit(0L)) / col("n") * 1e6) / 1e6)
          .as("self_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q126: maximal duplicated runs — exact-substring semantics over the
    * span-hit table (VERDICT r13 #3): q95 reports per-WINDOW coverage;
    * this merges adjacent/overlapping duplicated windows
    * (gaps-and-islands) into the maximal contiguous duplicated REGIONS
    * (doc_id, run_start, run_end) — the report an exact-substring dedup
    * (suffix-array style) would emit, recovered from the sliding-window
    * machinery already in place. Two hit windows at starts i < j belong
    * to one run iff j ≤ i + [[SpanW]] (their covered token ranges
    * overlap or touch), so Σ run_len per doc equals q95's n_covered by
    * construction — spec-pinned.
    *
    * Scale shape: the input is the DUP-HIT sliver ([[dupHitsTwoPhase]] —
    * the skew-proof marker), not the corpus span table; the
    * gaps-and-islands window partitions by doc_id, so per-task work is
    * bounded by one document's hit count, never the corpus. */
  def spanRuns(spark: SparkSession, dir: String): DataFrame =
    spanRunsFrom(spanTable(spark, dir)) // rides the standing table (r19)

  /** [[spanRuns]] over an existing span table ([[spanTable]]). */
  def spanRunsFrom(spans: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    dupHitsTwoPhase(spans)
      // island break: a gap strictly wider than SpanW tokens between
      // consecutive hit starts; the first hit's lag is null -> break
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(wOrd) <= SpanW, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("run_id",
        sum(col("brk")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(
        min(col("i")).cast("long").as("run_start"),
        (max(col("i")) + (SpanW - 1)).cast("long").as("run_end"),
        count(lit(1)).as("n_spans"))
      .withColumn("run_len", col("run_end") - col("run_start") + 1L)
      .select(col("doc_id"), col("run_id"), col("run_start"),
        col("run_end"), col("run_len"), col("n_spans"))
      .orderBy(col("doc_id"), col("run_id"))
  }

  /** q113: q95 through the PAST-BROADCAST deployment path — the staged
    * span table consumed by the Bloom-sketch-phase marker
    * ([[dupHitsSketchPhase]]): declared as its own query so the regime
    * past the two-phase marker's broadcast ceiling is held to the same
    * DuckDB hash gate as q95/q99 (the q103/q105 philosophy applied to
    * the MARKER itself, not just the gates). Same oracle SQL — identical
    * declared semantics by construction: sketch negatives are
    * definitive, and the exact semi-join removes the false positives. */
  def spanDedupSketch(spark: SparkSession, dir: String): DataFrame = {
    val spans = spanTable(spark, dir)
    spanCoverage(spans.select(col("doc_id"), col("n")).distinct(),
      dupHitsSketchPhase(spans))
  }

  /** q114: q95 through the INCREMENTAL deployment path — the standing
    * corpus's span table (q94's %7 split convention: doc_id % 7 ≠ 0)
    * extended by UNION with the arriving batch's span rows
    * ([[spanTableIncrement]] — the standing corpus is never
    * re-exploded), then the two-phase marker over the merged table.
    * Occurrence counts are additive under union, so the merged coverage
    * equals the from-scratch q95 result by construction — and the
    * declared oracle binds q95's SQL verbatim, so "equal by
    * construction" is hash-checked every round instead of asserted.
    *
    * Both halves are STAGED before the union, mirroring the deployment
    * exactly (the standing table was materialized yesterday, the
    * increment is materialized once on arrival): the marker and the
    * doc-list/coverage consumers each read the merged table, and
    * unstaged they would re-explode BOTH corpora once per consumer —
    * measured 7.3 s vs ~4 s at sf0.1 (r13 bench) purely from the
    * repeated explodes.
    *
    * The standing half is a FILTER of the session-standing span table
    * since r22 (the q144 move — a doc-grain predicate commutes with the
    * per-doc span explode, `spanRows(docs.filter(p)) ≡
    * spanRows(docs).filter(p)`, CurationSpec-pinned): re-exploding 6/7
    * of the corpus in-query was exactly the work the scaladoc above
    * declares a deployment never does — "the standing table was
    * materialized yesterday". The per-query stage on top keeps the
    * multi-consumer reads off the string-keyed parquet (the
    * [[spanTable]] hybrid rationale); the doc_id predicate pushes to
    * the parquet scan. */
  def spanDedupIncrement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merged = spanTableIncrement(
      Materialize.stage(
        spanTableShared(spark, dir).filter(col("doc_id") % 7 =!= 0)),
      docs.filter(col("doc_id") % 7 === 0))
    spanCoverage(merged.select(col("doc_id"), col("n")).distinct(),
      dupHitsTwoPhase(merged))
  }

  /** q98: cross-source span contamination matrix — q87's provenance
    * question at SPAN granularity: for every source pair, how many
    * distinct [[SpanW]]-token spans appear verbatim in BOTH. Doc-level
    * provenance (q87) sees mirrored documents; this sees shared
    * boilerplate, quoted passages, and template reuse between otherwise
    * distinct dumps — the signal that decides whether two "independent"
    * sources are actually independent before mixing them.
    *
    * Scale shape: the span pipeline collapses to DISTINCT (source, hash)
    * rows — one per span per source, regardless of occurrence count —
    * and the self-join's per-key fan-out is bounded by the SOURCE count
    * (single digits), never by span frequency, so the pair explosion a
    * naive occurrence-level join would risk cannot happen. One
    * materialization feeds both join sides. */
  def spanProvenance(spark: SparkSession, dir: String): DataFrame =
    spanProvenanceFrom(spanTable(spark, dir)) // rides the standing table (r19)

  /** [[spanProvenance]] over an existing span table ([[spanTable]]). */
  def spanProvenanceFrom(spans: DataFrame): DataFrame = {
    val sp = spans.select(col("source"), col("h")).distinct().staged
    sp.select(col("source").as("source_a"), col("h"))
      .join(sp.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The corpus's duplicated-span index (distinct h with occ ≥ 2) — the
    * static side the streaming span gates index by shard
    * ([[graft.streaming.StreamOps.corpusSpanIndex]]). */
  private[graft] def dupSpanIndex(spark: SparkSession, dir: String): DataFrame =
    dupSpanIndexFrom(spanRows(Tables.documents(spark, dir)))

  /** [[dupSpanIndex]] from an already-built span table ([[spanTable]]) —
    * the deployment shape: the index refresh rides the staged table
    * instead of re-exploding the corpus. */
  private[graft] def dupSpanIndexFrom(spans: DataFrame): DataFrame =
    spans
      .groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))

  /** The duplicated-span index ([[dupSpanIndex]]) by shard, the
    * [[bloomWordsSharded]] pattern applied to the span gate's static
    * side: each dup-span hash routes to its owning shard by an
    * independent hash, and every shard row carries its own Bloom sketch
    * AND its own exact sorted hash array. One shard is the one-row index
    * the per-row streaming gate broadcasts; more shards bound each
    * collect_list by the shard's share of the index (removing the
    * single-aggregation/single-value ceiling), and EVERY shard id emits
    * a row — an unpopulated shard gets the floor-width zero sketch and an
    * empty array, so gate joins on the shard id never drop a probe (the
    * q100 empty-shard lesson, pinned in CurationSpec). */
  private[graft] def spanIndexSharded(idx: DataFrame, nShards: Int): DataFrame = {
    val fps = idx.select(col("h").as("fp"))
    val arrays = fps
      .withColumn("shard", bloomShardCol(nShards))
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(col("fp"))).as("span_idx"))
    bloomWordsSharded(fps, nShards)
      .join(arrays, Seq("shard"), "left")
      .withColumn("span_idx",
        coalesce(col("span_idx"), array().cast("array<string>")))
  }

  /** Per-document verdict computed from (`n`, `dup_flags`) — the span
    * gate's output columns, ONE definition shared by the one-row
    * streaming gate ([[graft.streaming.StreamOps.spanGateStream]]) and
    * the sharded core ([[spanGateSharded]]) so the two can never drift.
    * `dup_flags(i)` answers "is the span starting at token i a corpus
    * duplicate"; position p is covered iff some flagged span's window
    * [i, i + SpanW) contains p. Drops the scratch `dup_flags`. */
  private[graft] def spanVerdict(df: DataFrame): DataFrame = {
    val covered = size(filter(
      sequence(lit(0), (col("n") - 1).cast("int")),
      p => exists(
        slice(col("dup_flags"),
          greatest(lit(0), p - (SpanW - 1)) + 1,
          least(p, (col("n") - SpanW).cast("int")) -
            greatest(lit(0), p - (SpanW - 1)) + 1),
        f => f)))
    df
      .withColumn("n_dup_spans",
        size(filter(col("dup_flags"), f => f)).cast("long"))
      .withColumn("n_covered",
        when(col("n") >= SpanW, covered.cast("long")).otherwise(lit(0L)))
      // n = 0 would make the ratio 0/0 → NULL under Spark's non-ANSI
      // division; the documented contract is that short docs (no spans,
      // nothing covered) pass with keep_ratio 1
      .withColumn("keep_ratio",
        when(col("n") > 0,
          floor((lit(1.0) - col("n_covered") / col("n")) * 1e6) / 1e6)
          .otherwise(lit(1.0)))
      .drop("dup_flags")
  }

  /** Span-contamination gate against a SHARDED index
    * ([[spanIndexSharded]]) — the batch core the streaming deployment
    * runs per microbatch
    * ([[graft.streaming.StreamOps.spanGateStreamSharded]]), and q101's
    * query body. Where the one-row gate broadcasts the WHOLE index into
    * every row, here each span ROW routes to its owning shard:
    * posexplode the spans, equi-join the shard table on the routing
    * hash, flag (bloom short-circuit, then binary-search the shard's
    * exact array via `sorted_array_contains`), and densify back to the
    * per-doc flag array via explode + join + sort — no per-row copy of
    * the full index; shard rows broadcast (the span-table formulation,
    * [[spanGateShardedFrom]], also runs the join shuffled). Requires a
    * unique `doc_id` column: the verdict computes on a (doc_id, n, span)
    * SLIVER and joins back by doc_id, so text and other payload columns
    * never enter the explode or regroup shuffles — the only full-width movement is the final
    * doc-aligned join, and even that prunes away when the caller selects
    * only verdict columns (as q101 does). Output is EXACT q95 semantics
    * (the sketch only short-circuits; flagged spans verify exactly). */
  def spanGateSharded(docs: DataFrame, shardIdx: DataFrame, nShards: Int): DataFrame = {
    val slim = docs
      .withColumn("toks", toks)
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("tokh", tokHashes)
      .withColumn("span_hashes",
        when(col("n") >= SpanW, spanHashes)
          .otherwise(typedLit(Array.empty[String])))
      .select(col("doc_id"), col("n"), col("span_hashes"))
    val flagged = slim
      .selectExpr("doc_id", "n", "posexplode_outer(span_hashes) AS (i, sh)")
      .withColumn("shard",
        when(col("sh").isNotNull, bloomShardColOf(col("sh"), nShards)))
      .join(broadcast(shardIdx), Seq("shard"), "left")
      .withColumn("flag",
        expr(s"(${bloomHitSql("sh")}) AND sorted_array_contains(span_idx, sh)"))
    val verdict = spanVerdict(flagged
      .groupBy(col("doc_id"), col("n"))
      // spans of a short doc don't exist (posexplode_outer's null row):
      // the CASE makes them null so collect_list skips them → empty flags
      .agg(expr(
        "transform(array_sort(collect_list(CASE WHEN sh IS NOT NULL " +
          "THEN struct(i, flag) END)), s -> s.flag)").as("dup_flags")))
    docs.join(verdict, Seq("doc_id"))
  }

  /** [[spanGateSharded]]'s verdict computed FROM a span table
    * ([[spanTable]] rows, which carry exactly the gate's probe sliver:
    * doc_id, n, i, h) — the batch/deployment formulation: the expensive
    * span explode is the staged table every other span-family consumer
    * shares, so the gate adds only the shard join + regroup. The inner
    * join on the shard id is safe precisely because [[spanIndexSharded]]
    * emits EVERY shard row (the pinned empty-shard contract) — a
    * dropped span row here would silently deflate a doc's coverage. */
  def spanGateShardedFrom(spans: DataFrame, shardIdx: DataFrame,
                          nShards: Int,
                          broadcastIndex: Boolean = true): DataFrame = {
    val flagged = spans
      .withColumn("shard", bloomShardColOf(col("h"), nShards))
      // past-broadcast: shuffle_hash with the index as build side (see
      // bloomHitSharded — an un-hinted small-stats plan re-broadcasts)
      .join(if (broadcastIndex) broadcast(shardIdx)
            else shardIdx.hint("shuffle_hash"), Seq("shard"))
      .withColumn("flag",
        expr(s"(${bloomHitSql("h")}) AND sorted_array_contains(span_idx, h)"))
    spanVerdict(flagged
      .groupBy(col("doc_id"), col("n"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(i, flag))), s -> s.flag)")
        .as("dup_flags")))
  }

  /** q101: q95 computed through the SHARDED span-index gate —
    * [[spanIndexSharded]] + [[spanGateShardedFrom]] (4 shards at test
    * scale so real multi-shard routing is exercised) — declared as its
    * own query so the sharded span machinery is held to the same DuckDB
    * hash gate as the window path, exactly as q100 gates the sharded
    * Bloom against q94's oracle. ONE staged span explode feeds both the
    * index build and the probe side (the q99 staging philosophy); the
    * raw-docs core ([[spanGateSharded]]) is the streaming microbatch
    * path, pinned batch-equal in StreamingSpec. */
  def spanDedupShardedGate(spark: SparkSession, dir: String,
                           broadcastIndex: Boolean = true): DataFrame = {
    // the shard index is a standing artifact built from the standing
    // span table's read, which the gate's probe side stages too: q101
    // and q103 share one build, over the same corpus state as the probes
    val spans = spanTableShared(spark, dir)
    val st = spans.staged
    val idx = Materialize.shared("spanShardIdx", spans)(
      spanIndexSharded(dupSpanIndexFrom(spans), 4))
    spanGateShardedFrom(st, idx, 4, broadcastIndex)
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("n_dup_spans"), col("n_covered"), col("keep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q103: q101's sharded span gate in the PAST-BROADCAST regime
    * (`broadcastIndex = false`) — the plan that actually runs at 100 TB,
    * where the shard index has outgrown the broadcast ceiling and the
    * gate's shard join executes as a shuffle equi-join on the shard id.
    * Declared as its own query (reusing q95's oracle verbatim, like
    * q99/q101) so the deployment regime is held to the driver's DuckDB
    * hash gate, not just spec-pinned at toy scale; PlanGuardSpec asserts
    * the plan joins the index WITHOUT a broadcast. */
  def spanDedupShardedGateShuffled(spark: SparkSession, dir: String): DataFrame =
    spanDedupShardedGate(spark, dir, broadcastIndex = false)

  /** q105: q100's sharded bloom admit list in the PAST-BROADCAST regime
    * (`broadcastJoins = false`): the shard sketch join shuffles on the
    * shard id ([[bloomHitSharded]]'s `broadcastShards = false`) and the
    * exact verify takes the dup-heavy-batch fallback, sort-merge joins
    * for both the dup list and the corpus index ([[admitList]]'s
    * `broadcastDupVerify = false`). Same oracle as q94/q100 by
    * construction — any bloom regime only decides how little reaches the
    * exact verify. */
  def bloomIncrementShardedShuffled(spark: SparkSession, dir: String): DataFrame =
    bloomIncrementSharded(spark, dir, broadcastJoins = false)

  /** The bloom candidate set (spec hook): every true corpus dup must hit,
    * and the overshoot beyond true dups is the measured false-positive
    * cost the exact verify absorbs. */
  private[graft] def bloomCandidates(spark: SparkSession, dir: String): DataFrame = {
    val (corpusFp, batch) = incrementSplit(spark, dir)
    candidateSlice(batch, corpusFp).select(col("doc_id"), col("fp"))
  }

  /** q80: near-dup cluster formation — connected components over the
    * MinHash-LSH verified pair graph (q37's output), the step that turns
    * pairwise "A≈B, B≈C" into "keep one of {A,B,C}". Each cluster is
    * labeled by its minimum member doc_id.
    *
    * Implementation: iterated min-label propagation to fixpoint. The
    * driver loop is legitimate here — it iterates over the NEAR-DUP
    * GRAPH (≈ duplicate count, orders of magnitude smaller than the
    * corpus), each iteration is one distributed join+agg, and the only
    * driver-side value is the convergence count (same shape as Pregel /
    * GraphFrames' alternating algorithms, which is what replaces this
    * loop at 100 TB if the dup graph itself is huge). Iteration count
    * is bounded by component diameter — for dedup clusters, single
    * digits. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupClustersFrom(Dedup.lshNearDup(spark, dir))

  /** The LSH-verified near-dup pair table (q37's output), materialized
    * ONCE for every downstream consumer — deployment mode. The declared
    * queries q80/q82/q87 each recompute the LSH pipeline because the
    * driver benches them in isolation; a deployment composing several of
    * them calls this once and passes the result to the `*From` variants,
    * so the ~per-query LSH cost is paid once (BASELINE.md documents the
    * repeated work as a per-query-isolation artifact — this entry point
    * is that claim as code, asserted equivalent in CurationSpec).
    * Staged once via [[Materialize.stage]]; for a stage that survives
    * restarts use [[persistPairTable]]. */
  def pairTable(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshNearDup(spark, dir).staged

  /** q123: PageRank centrality over the near-dup graph — which documents
    * are the HUBS of the duplication structure (template sources, widely
    * mirrored pages)? Complements q80's components (membership) and
    * q82's representatives (keep-longest): rank identifies the documents
    * whose removal/canonicalization collapses the most duplication —
    * the graph-centrality curation signal. Undirected: each verified
    * pair contributes both directions; damping 0.85, 5 iterations,
    * ranks over the pair-graph node set (N = nodes in ≥1 pair).
    *
    * Determinism across engines: each contribution is floored to the
    * 1e-12 grid before its ORDER-INDEPENDENT integer sum, and each new
    * rank is floored back to the grid before the next iteration — the
    * repo's decimal-exact rule applied per iteration, so five rounds of
    * float math replay bit-identically in DuckDB.
    *
    * Scale shape: the edge table is the verified pair graph (≪ corpus —
    * the q80 argument), staged once; each iteration is one small join +
    * one partial-agg sum; the corpus-scale work is the LSH pipeline
    * that built the pairs. */
  def dupPageRank(spark: SparkSession, dir: String): DataFrame =
    dupPageRankFrom(Dedup.lshNearDup(spark, dir))

  /** PageRank lineage-checkpoint cadence: plan depth between checkpoints
    * stays ≤ this many iterations' worth of joins. 4 keeps the default
    * iters=5 run checkpoint-free except one cut, and bounds any larger
    * iteration count. */
  private[graft] val PrCkptEvery = 4

  /** [[dupPageRank]] over an existing pair table ([[pairTable]]).
    *
    * Lineage bound (VERDICT r13 #2): each iteration stacks two joins and
    * an agg onto the `ranks` plan, so convergence-style iteration counts
    * would blow up analysis/optimization time the way [[componentLabels]]'
    * fixpoint would without its checkpoints. Every [[PrCkptEvery]]
    * iterations the (tiny — one row per pair-graph node) rank table is
    * localCheckpointed, cutting the accumulated plan back to a leaf; the
    * ranks are already floored to the 1e-12 grid each iteration, so
    * checkpointing changes nothing numerically (CurationSpec pins
    * iters=20 output equal to an uncheckpointed replay and its plan
    * depth bounded). */
  def dupPageRankFrom(pairTable: DataFrame, iters: Int = 5,
      ckptEvery: Int = PrCkptEvery): DataFrame = {
    // "never checkpoint" is spelled ckptEvery > iters (the spec uses
    // Int.MaxValue); 0 would crash the modulo below
    require(ckptEvery > 0, s"ckptEvery must be positive, got $ckptEvery")
    val p = pairTable.select(col("d1"), col("d2"))
    val edges = Materialize.stage(
      p.select(col("d1").as("src"), col("d2").as("dst"))
        .union(p.select(col("d2").as("src"), col("d1").as("dst"))))
    val nodes = Materialize.stage(edges.select(col("src").as("id")).distinct())
    val nn = nodes.agg(count(lit(1)).as("n"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("id"), (lit(1.0) / col("n")).as("r"))
    for (i <- 1 to iters) {
      val sums = ranks
        .join(edges, col("id") === col("src"))
        .join(deg, "src")
        .select(col("dst"),
          floor(col("r") / col("deg") * 1e12).cast("long").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(sums, col("id") === col("dst"), "left")
        .crossJoin(broadcast(nn))
        .select(col("id"),
          (floor(((lit(1.0) - lit(0.85)) / col("n") +
            lit(0.85) * (coalesce(col("s"), lit(0L)).cast("double") / 1e12)) * 1e12)
            / 1e12).as("r"))
      if (i % ckptEvery == 0 && i < iters)
        // eager = false: the default eager localCheckpoint executes Spark
        // jobs at DataFrame-CONSTRUCTION time, a surprise for callers
        // that build but never run the plan (ADVICE r14); lazy keeps the
        // lineage cut at first action, and the 1e-12 flooring each
        // iteration makes any recompute-from-lineage deterministic
        ranks = ranks.localCheckpoint(eager = false)
    }
    ranks
      .join(deg, col("id") === col("src"))
      .select(col("id").as("doc_id"), col("deg"),
        round(col("r"), 6).as("pagerank"))
      .orderBy(col("doc_id"))
  }

  /** [[pairTable]], durably: write the verified pair table to a parquet
    * sink and return the re-read frame. The default stage is executor
    * state that dies with the executors; a deployment that wants the pair
    * table to survive restarts — or to feed later jobs without re-running
    * the LSH pass — stages it here instead. The table is
    * duplicate-count-sized (one row per verified near-dup pair), orders
    * of magnitude smaller than the corpus, so the sink is one tiny
    * parquet dataset. Every `*From` consumer is staging-indifferent:
    * CurationSpec asserts q80/q82/q87 outputs from the re-read table are
    * identical to the recompute-per-query isolation results. */
  def persistPairTable(spark: SparkSession, dir: String, sink: String): DataFrame = {
    LocalFs.write(Dedup.lshNearDup(spark, dir)).mode("overwrite").parquet(sink)
    spark.read.parquet(sink)
  }

  /** [[nearDupClusters]] over an existing pair table ([[pairTable]]). */
  def nearDupClustersFrom(pairs: DataFrame): DataFrame =
    componentLabels(pairs)
      .groupBy(col("label").as("cluster_rep"))
      .agg(
        count(lit(1)).as("size"),
        array_join(
          transform(sort_array(collect_list(col("id"))), d => d.cast("string")),
          ",").as("members"))
      .orderBy(col("cluster_rep"))

  /** Min-label propagation to fixpoint over the LSH-verified pair graph:
    * (id, label) where label = min doc_id reachable — the shared
    * component core behind q80 (cluster report) and q82 (rep selection). */
  private[graft] def componentLabels(pairTable: DataFrame): DataFrame = {
    val pairs = pairTable.select(col("d1"), col("d2"))
    // The dup graph ≈ duplicate count — orders of magnitude smaller than
    // the corpus — so after the one expensive LSH pass it collapses to a
    // handful of partitions; every fixpoint iteration then runs single-task
    // joins instead of 32-way shuffles of a 25-row table (measured: the
    // uncoalesced loop spent ~10× its runtime on empty-task scheduling).
    // Checkpoint FIRST, then coalesce: coalesce(1) before the checkpoint
    // would pull the whole upstream LSH verify scan into a single task
    // (the verify join broadcasts the candidate side, so there is no
    // shuffle boundary to stop the collapse from propagating). This way
    // materialization runs fully parallel and only the per-iteration
    // reads of the tiny edge table are 1-partition.
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint() // cut the LSH lineage; re-read each iteration
      .coalesce(1)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // Labels only ever decrease (min-propagation), so an unchanged label
    // SUM is a fixpoint — one scalar agg per iteration as the convergence
    // probe instead of a join-and-count against the previous labels.
    def labelSum(df: DataFrame): Long =
      // coalesce: sum over an EMPTY labels frame (a corpus with zero
      // near-dup pairs) is null — treat it as 0 so the fixpoint converges
      // immediately and the caller gets an empty result, not an NPE
      df.agg(coalesce(sum(col("label")), lit(0L))).collect()(0).getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nbr_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_label")).as("min_nbr"))
      labels = labels.as("l")
        .join(nbrMin.as("n"), Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("min_nbr"), col("label"))).as("label"))
        .localCheckpoint()
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
    }
    labels
  }

  /** q82: near-dup resolution — pick one representative per q80 cluster
    * (max n_chars, ties to min doc_id: "keep the longest copy") and mark
    * every other member for drop. The decision step between cluster
    * formation and the final corpus write.
    *
    * Scale shape: component labels join back to document metadata on
    * doc_id (the corpus's natural key), then one window per cluster.
    * Cluster count ≈ duplicate count, so the window input is tiny
    * relative to the corpus; the join against documents is the only
    * full-corpus touch and prunes to (doc_id, n_chars, source). */
  def clusterReps(spark: SparkSession, dir: String): DataFrame =
    clusterRepsFrom(Dedup.lshNearDup(spark, dir), Tables.documents(spark, dir))

  /** [[clusterReps]] over an existing pair table ([[pairTable]]). */
  def clusterRepsFrom(pairs: DataFrame, documents: DataFrame): DataFrame = {
    val labels = componentLabels(pairs)
    val docs = documents
      .select(col("doc_id"), col("n_chars"), col("source"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels.join(docs, labels("id") === docs("doc_id"))
      .withColumn("rn", row_number().over(w))
      .select(
        col("label").as("cluster_rep"), col("doc_id"), col("n_chars"),
        col("source"), (col("rn") === 1).as("keep"))
      .orderBy(col("cluster_rep"), col("doc_id"))
  }

  /** Blocklist + PII detection patterns for q81. The blocklist terms are
    * corpus-tuned (this synthetic vocabulary has no real PII); the
    * email/IPv4 patterns are the standard scrub set and legitimately
    * report zero here — the point is the verified plumbing. */
  private val BlockRe = "\\b(customer|supplier)\\b"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** q81: redaction census — per source stream: documents scanned,
    * documents with any blocklisted term, total blocklist hits, PII hits
    * (email + IPv4), and the net character delta after replacing every
    * blocklist hit with the `[REDACTED]` mask. The audit report a
    * privacy/compliance scrub stage emits alongside the masked corpus.
    *
    * Scale shape: per-row regexp work inside whole-stage codegen (no
    * UDF), then one partial-agg shuffle to source granularity — the
    * cheapest aggregation shape there is. At 100 TB the regex cost
    * dominates and scales embarrassingly parallel. */
  def redactCensus(spark: SparkSession, dir: String): DataFrame = {
    val hits = (re: String) => size(regexp_extract_all(col("text"), lit(re), lit(0)))
    val docs = Tables.documents(spark, dir)
      .withColumn("block_hits", hits(BlockRe))
      .withColumn("pii_hits", hits(EmailRe) + hits(Ipv4Re))
      .withColumn("masked_delta",
        length(regexp_replace(col("text"), BlockRe, "[REDACTED]")) - length(col("text")))
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("block_hits") > 0, 1L).otherwise(0L)).as("docs_flagged"),
        sum(col("block_hits")).cast("long").as("block_hits"),
        sum(col("pii_hits")).cast("long").as("pii_hits"),
        sum(col("masked_delta")).cast("long").as("masked_delta"))
      .orderBy(col("source"))
  }

  /** SemDeDup cosine threshold. Real-embedding pipelines run ε ≈ 0.95+;
    * these synthetic 64-d vectors are near-orthogonal (within-cluster
    * max cosine ≈ 0.49), so the declared ε is scaled to exercise the
    * same plan with a non-trivial match set. */
  private val SemDedupEps = 0.3

  /** q83: SemDeDup — semantic near-duplicate pruning within k-means
    * clusters (Abbas et al. 2023's shape): pairwise cosine is computed
    * only INSIDE each centroid's member set, never across the corpus,
    * and any vector cosine-≥ε with a lower-id member of its own cluster
    * is pruned. Per cluster: members, qualifying pairs, pruned, kept.
    *
    * Scale shape: the clustering IS the blocking structure — O(Σ c_i²)
    * instead of O(n²), and each cluster's pair set is an independent
    * task. The DECLARED k is corpus-PROPORTIONAL (VERDICT r14 #2 — the
    * probe-cap philosophy applied to blocking): k = max(8, n/256), so
    * mean cluster size stays ≈ 256 and Σ c_i² stays ≈ 256·n (linear) at
    * any corpus size, where the former fixed k=8 measured 11× at 10×
    * data. The count driving k is one parquet-metadata aggregate
    * (O(row-groups), no data scan), mirrored in the oracle as a scalar
    * subquery; both test SFs (≤ 2000 vectors) land on the k=8 floor, so
    * the declared grid keeps its oracle variety. At 100 TB, the same
    * knob sizes c_i ~ 10⁴-10⁵ so each within-cluster block fits one
    * executor; the corpus-wide shuffle is just the assignment join (one
    * broadcast of k centroids). */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    // NOTE: k shapes the PLAN (k centroid seeds), so the count() below
    // runs at DataFrame-CONSTRUCTION time — one parquet-metadata job,
    // no data scan, but a job nonetheless (the dupPageRankFrom
    // eager-checkpoint caveat, ADVICE r14, applies; callers that must
    // build without executing pass their own k to [[semDedupK]]).
    semDedupK(spark, dir,
      semDedupClusterCount(Tables.embeddings(spark, dir).count()))

  /** The declared q83 blocking knob: clusters sized so mean occupancy
    * ≈ 256 vectors, floored at the test-scale k=8. Deterministic in the
    * corpus count alone — the oracle mirrors it as
    * `greatest(8, count(*) // 256)`. */
  private[graft] def semDedupClusterCount(nVectors: Long): Int =
    math.max(8L, nVectors / 256L).toInt

  /** [[semDedup]] with an explicit cluster count — the blocking knob
    * ([[assignmentsK]]): larger k ⇒ smaller c_i ⇒ less Σ c_i² pair work
    * per corpus row. The declared q83 pins k=8 for the oracle; a
    * deployment sizes k so each within-cluster block fits one executor. */
  def semDedupK(spark: SparkSession, dir: String, k: Int): DataFrame =
    semDedupOver(assignmentsK(Tables.embeddings(spark, dir), k))

  /** [[semDedupK]] over the ROUTED E-step ([[assignmentsRouted]]) — the
    * corpus-proportional-k deployment path; same pair/prune tail, dedup
    * totals pinned within 10% of the flat assignment's. */
  def semDedupRoutedK(spark: SparkSession, dir: String, k: Int,
                      nprobe: Int = 2): DataFrame =
    semDedupOver(assignmentsRouted(Tables.embeddings(spark, dir), k, nprobe))

  /** The shared SemDeDup pair/prune tail over any assignment table. */
  private def semDedupOver(asg: DataFrame): DataFrame = {
    // Materialize the assignment once — it feeds both self-join sides and
    // the member count (3 subtree reuses) — Materialize.stage.
    val m = asg
      .select(col("cluster_id"), col("vec_id"), col("embedding"), col("nrm"))
      .staged
    val a = m.select(col("cluster_id"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b = m.select(col("cluster_id"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    val pairs = a.join(b, Seq("cluster_id"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos", Similarity.cosine(col("e1"), col("e2"), col("n1"), col("n2")))
      .filter(round(col("cos"), 6) >= SemDedupEps)
    val pruned = pairs.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("v2")).as("n_pruned"))
    m.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      .join(pruned, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
        (col("n_members") - coalesce(col("n_pruned"), lit(0L))).as("n_kept"))
      .orderBy(col("cluster_id"))
  }

  /** THE q84 split rule — the single Scala source of truth for the
    * 90/5/5 `h32(doc_id) mod 100` train/val/test assignment, shared by
    * the split manifest (q84) and the cross-split leakage audit (q134)
    * so the two can never disagree about which split a document is in
    * (the [[Similarity.probeFilter]] precedent). Value-derived, so the
    * assignment is stable across re-runs, engines, and cluster sizes. */
  private[graft] def splitOf(id: Column): Column = {
    val bucket = Hashing.h32(id.cast("string")) % 100
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  /** q84: train/val/test split manifest — every document deterministically
    * assigned by portable hash (90/5/5 on h32(doc_id) mod 100, the shared
    * [[splitOf]] rule), reported per (source, split) with document and
    * token counts and the split's within-source document share. The same
    * hash everywhere means the split is stable across re-runs, engines,
    * and machines — the property a reproducible training pipeline needs
    * from its split function.
    *
    * Scale shape: stateless per-row hash + one agg to (source, split)
    * granularity + one tiny window over ≤ 3k group rows. */
  def splitManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("split", splitOf(col("doc_id")))
      .withColumn("n_toks", size(toks))
    val wSrc = Window.partitionBy(col("source"))
    docs.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).cast("long").as("n_tokens"))
      .withColumn("pct_docs",
        trunc6(col("n_docs") * lit(1.0) / sum(col("n_docs")).over(wSrc)))
      .orderBy(col("source"), col("split"))
  }

  /** q134: cross-split near-dup LEAKAGE audit — every val/test document
    * that has a verified near-duplicate (q37's LSH pairs, J ≥ 0.6) in
    * the TRAIN split, with the evidence attached: how many train
    * partners, the strongest jaccard, and the smallest train partner id.
    * A document-level split (q84) does not stop a near-copy of an eval
    * document from landing in train — exactly the benchmark-contamination
    * path Lee et al. 2021 (§6) and Dodge et al. 2021 measured in C4 —
    * so a governed pipeline audits the SPLIT × the DUP GRAPH, not each
    * alone. The output is the actionable artifact: the eval docs to
    * drop or re-assign before the split ships. Both the split rule
    * ([[splitOf]]) and the pair table are the shared definitions the
    * declared q84/q37 use, so this audit can never disagree with them.
    *
    * Scale shape: the pair table is the expensive term (built once via
    * [[Curation.pairTable]] in a deployment — [[splitLeakageFrom]] is
    * that entry point); the audit itself doubles the pair rows (both
    * orientations), labels each end with the stateless hash rule, and
    * aggregates to doc grain — pair-table-sized work, ≪ corpus, flat
    * whenever the pair table is staged (the q132 staged-audit shape). */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakageFrom(Dedup.lshNearDup(spark, dir))

  /** [[splitLeakage]] over any verified (d1, d2, jaccard) pair table —
    * the staged-pair-table deployment shape. */
  def splitLeakageFrom(pairs: DataFrame): DataFrame = {
    val directed = pairs
      .select(col("d1").as("doc_id"), col("d2").as("partner"), col("jaccard"))
      .unionByName(pairs
        .select(col("d2").as("doc_id"), col("d1").as("partner"), col("jaccard")))
    directed
      .withColumn("split", splitOf(col("doc_id")))
      .filter(col("split").isin("val", "test") &&
        splitOf(col("partner")) === "train")
      .groupBy(col("doc_id"), col("split"))
      .agg(
        count(lit(1)).as("n_train_partners"),
        max(col("jaccard")).as("max_jaccard"),
        min(col("partner")).as("min_train_partner"))
      .orderBy(col("doc_id"))
  }

  /** q135: dedup-savings census — what dedup actually buys, per source:
    * raw document/token counts, the documents and tokens an exact-dedup
    * pass drops (q34's keep-smallest-id rule), the FURTHER documents and
    * tokens a near-dup pass drops among the exact survivors (a survivor
    * is near-dropped iff a SMALLER exact-surviving partner verifies
    * against it in q37's pair table — keep-lowest-id at pair grain; q82
    * refines the keeper choice at cluster grain), and the effective
    * corpus that remains. This is the "effective dataset size" number a
    * training-data budget is planned against — raw token counts
    * overstate a crawl's worth by exactly the duplication this table
    * quantifies (Lee et al. 2021's headline measurement, as a query).
    *
    * Stage order matches the curation funnel (q78): exact dedup first,
    * near-dup only among its survivors, so the two drop sets are
    * disjoint by construction and the census columns add up:
    * n_docs = n_exact_dropped + n_neardup_dropped + n_kept (spec-pinned).
    *
    * Scale shape: one corpus scan for fingerprints + token counts, one
    * window over the fingerprint (q34's shape), the pair table (the
    * expensive term, shared/staged in deployment), and a pair-sized
    * distinct + doc-aligned left join; the census agg is to source
    * granularity with map-side partials. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame =
    dedupSavingsFrom(Tables.documents(spark, dir),
      Dedup.lshNearDup(spark, dir))

  /** [[dedupSavings]] over any (doc_id, source, text) frame and any
    * verified (d1, d2, jaccard) pair table — the staged-pair-table
    * deployment shape and the spec's fixture hook. */
  private[graft] def dedupSavingsFrom(docs0: DataFrame,
      pairs: DataFrame): DataFrame = {
    val docs = docs0
      .withColumn("fp", Dedup.textFp)
      .withColumn("n_toks", size(toks).cast("long"))
    val wFp = Window.partitionBy(col("fp"))
    val flagged = docs
      .withColumn("exact_drop", col("doc_id") =!= min(col("doc_id")).over(wFp))
    val survivors = flagged.filter(!col("exact_drop"))
      .select(col("doc_id").as("d1"))
    val nearDropped = pairs
      .join(survivors, "d1") // the smaller partner must itself survive exact dedup
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("nd", lit(true))
    flagged
      .join(nearDropped, Seq("doc_id"), "left")
      .withColumn("near_drop",
        !col("exact_drop") && coalesce(col("nd"), lit(false)))
      .withColumn("kept", !col("exact_drop") && !col("near_drop"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        count(when(col("exact_drop"), lit(1))).as("n_exact_dropped"),
        coalesce(sum(when(col("exact_drop"), col("n_toks"))), lit(0L))
          .as("tok_exact_dropped"),
        count(when(col("near_drop"), lit(1))).as("n_neardup_dropped"),
        coalesce(sum(when(col("near_drop"), col("n_toks"))), lit(0L))
          .as("tok_neardup_dropped"),
        count(when(col("kept"), lit(1))).as("n_kept"),
        coalesce(sum(when(col("kept"), col("n_toks"))), lit(0L))
          .as("tok_kept"))
      .withColumn("pct_tokens_kept",
        trunc6(col("tok_kept") * lit(1.0) / col("n_tokens")))
      .orderBy(col("source"))
  }

  /** q85: robust length-outlier filter — per source: the median document
    * length, the median absolute deviation (MAD), and how many documents
    * fall outside median ± 3·MAD. Median/MAD instead of mean/stddev
    * because crawl length distributions are heavy-tailed — a handful of
    * giant concatenation pages would inflate a stddev cutoff until
    * nothing is an outlier.
    *
    * Determinism: `percentile` (Spark) and `quantile_cont` (DuckDB) are
    * both exact interpolated quantiles; over integer lengths the result
    * is exactly representable (x.0 or x.5), so the doubles agree (the
    * q50 precedent).
    *
    * Scale shape: ONE corpus scan — both percentiles run as window
    * aggregates over the same source partitioning, so the single
    * exchange is reused by both windows AND the final agg (the
    * join-back-three-times formulation scans the corpus 4×). Exact
    * percentile sorts each source partition; at real scale
    * [[lengthOutliersApprox]] replaces it with mergeable quantile
    * sketches — the trade, implemented. */
  def lengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
    Tables.documents(spark, dir).select(col("source"), col("n_chars"))
      .withColumn("med", expr("percentile(n_chars, 0.5)").over(w))
      .withColumn("mad", expr("percentile(abs(n_chars - med), 0.5)").over(w))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(abs(col("n_chars") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        first(col("med")).as("median_len"),
        first(col("mad")).as("mad"))
      .orderBy(col("source"))
  }

  /** [[lengthOutliers]]' documented at-scale trade as code:
    * `approx_percentile` (bounded-memory quantile sketch with a declared
    * `accuracy`) replaces the exact window percentile, turning the
    * full-sort-per-source-partition window shape into three AGG-shaped
    * passes of the narrow (source, n_chars) scan — mergeable map-side
    * partial sketches, no partition ever sorted, the formulation that
    * survives a source with 10^9 documents. The tiny per-source
    * median/MAD tables broadcast back. Not declared as a qNN: the sketch
    * is engine-specific (no DuckDB dual), so its contract is the
    * CurationSpec tolerance case against the exact operator — the q19
    * HLL precedent. */
  def lengthOutliersApprox(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("n_chars"))
    val med = docs.groupBy(col("source"))
      .agg(expr("CAST(approx_percentile(n_chars, 0.5D, 10000) AS DOUBLE)")
        .as("median_len"))
    val mad = docs.join(broadcast(med), "source")
      .groupBy(col("source"))
      .agg(expr(
        "CAST(approx_percentile(abs(n_chars - median_len), 0.5D, 10000) AS DOUBLE)")
        .as("mad"))
    docs
      .join(broadcast(med), "source")
      .join(broadcast(mad), "source")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(abs(col("n_chars") - col("median_len")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        first(col("median_len")).as("median_len"),
        first(col("mad")).as("mad"))
      .orderBy(col("source"))
  }

  /** q87: cross-source duplication matrix — for every unordered source
    * pair: how many LSH-verified near-dup pairs straddle it, and the
    * tightest (max) Jaccard seen. The provenance view of dedup: which
    * crawls / dumps are re-serving each other's content — the input to
    * dedup priority ("drop the mirror, keep the origin") and to buying
    * decisions about redundant data sources.
    *
    * Scale shape: the matrix aggregates the (tiny) verified pair graph,
    * not the corpus — two joins against the pruned (doc_id, source)
    * projection label the endpoints, then one agg to ≤ |sources|² rows.
    * max() is the reported similarity envelope because it is
    * summation-order-independent (a cross-engine avg over doubles is
    * not — the q70 rule). */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame =
    crossSourceDupsFrom(Dedup.lshNearDup(spark, dir),
      Tables.documents(spark, dir))

  /** [[crossSourceDups]] over an existing pair table ([[pairTable]]). */
  def crossSourceDupsFrom(pairs: DataFrame, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
      .groupBy(
        least(col("src1"), col("src2")).as("s1"),
        greatest(col("src1"), col("src2")).as("s2"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  /** q89: epoch materialization plan — turn q76's per-source uniform
    * mixture weight into a concrete, REPRODUCIBLE replication plan:
    * every document repeats floor(w) times, plus one extra copy iff its
    * portable hash falls under frac(w) — so each source's realized
    * up/down-sampling factor converges to its weight while any two runs
    * (or engines, or cluster sizes) emit exactly the same copies. Per
    * source: the weight, documents in, copies out, tokens out, and the
    * realized factor. The step between "we computed DoReMi weights" and
    * "the next epoch's shard list exists".
    *
    * Determinism: the stochastic-rounding coin is h32(doc_id) compared
    * to floor(frac·2³²) — an integer compare on a value-derived hash,
    * never a `rand()` (not reproducible across retries/partitionings).
    *
    * Scale shape: the weight table is |sources| rows → broadcast join
    * onto one corpus scan, then one agg back to source granularity. The
    * actual copy fan-out at materialization time would be
    * `explode(sequence(1, repeats))` on the same scan — also
    * shuffle-free. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_toks", size(toks).cast("long"))
    val perSrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val totals = perSrc.select(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val weights = perSrc.crossJoin(broadcast(totals))
      .select(col("source"),
        trunc6((lit(1.0) / col("n_sources")) /
          (col("n_tokens") * 1.0 / col("total_tokens"))).as("w"))
    docs.join(broadcast(weights), "source")
      .withColumn("base", floor(col("w")).cast("long"))
      .withColumn("extra",
        when(Hashing.h32(col("doc_id").cast("string")) <
          floor((col("w") - floor(col("w"))) * lit(4294967296.0)).cast("long"),
          1L).otherwise(0L))
      .withColumn("repeats", col("base") + col("extra"))
      .groupBy(col("source"))
      .agg(
        first(col("w")).as("weight"),
        count(lit(1)).as("n_docs"),
        sum(col("repeats")).cast("long").as("n_copies"),
        sum(col("n_toks") * col("repeats")).cast("long").as("n_tokens_out"))
      .withColumn("realized_factor",
        trunc6(col("n_copies") * lit(1.0) / col("n_docs")))
      .orderBy(col("source"))
  }

  /** q90: filter calibration — do the cheap heuristic gate (q66) and the
    * LM surprisal score (q75) agree? Per source: the 2×2 matrix of
    * gate-keep × LM-good (mean NLL at or below the corpus median) and
    * the agreement rate. The measurement that tells you whether the
    * heuristic gate can stand in for the expensive model score on the
    * next crawl — and on which sources it can't.
    *
    * Scale shape: composes two existing per-doc plans joined on doc_id,
    * one broadcast scalar (the corpus median), one agg to source
    * granularity. The median over per-doc doubles is exact interpolated
    * percentile on both engines over identical values (q85 rule).
    * The gate and the LM are derived from ONE shared checkpointed token
    * table (r6's plan audit showed the compose-by-name version re-scanning
    * documents.parquet per sub-plan); only the doc_id→source projection
    * reads the corpus a second time. */
  def filterCalibration(spark: SparkSession, dir: String): DataFrame = {
    // gate rides the session-standing verdict table; the staged token
    // explode stays for the LM side (unigramSurprisalFrom reads it more
    // than once: the vocab build and the per-doc scoring join)
    val tok = tokenTable(Tables.documents(spark, dir)).staged
    val gate = qualityGateShared(spark, dir).select(col("doc_id"), col("keep"))
    val lm = unigramSurprisalFrom(tok).select(col("doc_id"), col("mean_nll"))
    val med = lm.select(expr("percentile(mean_nll, 0.5)").as("med"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    gate.join(lm, "doc_id").join(src, "doc_id")
      .crossJoin(broadcast(med)) // 1-row scalar subquery shape
      .withColumn("lm_good", col("mean_nll") <= col("med"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep") && col("lm_good"), 1L).otherwise(0L)).as("keep_good"),
        sum(when(col("keep") && !col("lm_good"), 1L).otherwise(0L)).as("keep_bad"),
        sum(when(!col("keep") && col("lm_good"), 1L).otherwise(0L)).as("drop_good"),
        sum(when(!col("keep") && !col("lm_good"), 1L).otherwise(0L)).as("drop_bad"))
      .withColumn("agreement",
        trunc6((col("keep_good") + col("drop_bad")) * lit(1.0) / col("n_docs")))
      .orderBy(col("source"))
  }

  /** q91: content-defined chunk dedup census — substring-level dedup
    * (Lee et al. 2021's "deduplicating training data" granularity, CCNet's
    * paragraph hashing): token streams split at content-defined
    * boundaries (a token whose portable hash ≡ 0 mod 8 ends its chunk —
    * boundaries move with the CONTENT, so an insertion resynchronizes
    * within one chunk instead of shifting every window), each chunk
    * fingerprinted, and every document scored by the fraction of its
    * chunks appearing in at least one other document. Whole-doc dedup
    * (q34) misses this entirely: two documents sharing half their text
    * have distinct fingerprints.
    *
    * Scale shape: explode + one per-doc window (cumulative boundary
    * count), one (doc, chunk) agg, one chunk-df agg, a join back on the
    * high-entropy fingerprint (unskewable key), one agg to doc
    * granularity. All shuffles are token- or chunk-volume with map-side
    * combine. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("be", when(Hashing.h32(col("tok")) % 8 === 0, 1L).otherwise(0L))
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = tok
      .withColumn("chunk_id", sum(col("be")).over(wCum) - col("be"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ").as("chunk"))
      .select(col("doc_id"), sha2(col("chunk"), 256).as("f"))
      // materialized once — feeds the df census AND the join back
      // (Materialize.stage)
      .staged
    val df = chunks.groupBy(col("f"))
      .agg(countDistinct(col("doc_id")).as("d"))
    chunks.join(df, "f")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("d") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_fraction",
        trunc6(col("n_shared") * lit(1.0) / col("n_chunks")))
      .orderBy(col("doc_id"))
  }

  /** q72: inverted index — per token: document frequency, total
    * occurrences, and the first 10 posting doc_ids as a comma string.
    *
    * Scale shape: df/occ are plain shuffled aggs with map-side combine.
    * The posting list is windowed to rank ≤ 10 BEFORE collect_list, so
    * per-token state is bounded by the cap, never by df — collecting
    * full posting lists for a million-document token is the classic
    * OOM; the window-limit-then-collect shape avoids it. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tok = tokenTable(docs)
    val td = tok.distinct()
    val stats = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val postings = td
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .groupBy(col("token"))
      .agg(array_join(
        transform(sort_array(collect_list(col("doc_id"))), d => d.cast("string")),
        ",").as("postings"))
    stats.join(postings, "token")
      .select(col("token"), col("df"), col("occ"), col("postings"))
      .orderBy(col("token"))
  }

  /** q136: SEMANTIC decontamination — the embedding-space counterpart of
    * q73's lexical n-gram overlap: every corpus vector whose cosine to an
    * eval-set vector reaches 0.30 (on the rounded value both engines
    * compare, q61's convention) is flagged with the matching eval id and
    * the similarity as evidence. Shingle overlap cannot see a paraphrased
    * eval question; the embedding can — a governed pipeline runs BOTH
    * decontamination passes before a split ships. The declared eval set
    * is the capped probe grid ([[Similarity.probeFilter]]), exactly as
    * q73 declares its eval docs; a deployment passes its real eval-suite
    * embeddings to [[semanticDecontamFrom]].
    *
    * Scale shape: eval suites are small (thousands of vectors) and
    * BROADCAST; the scan side is one linear pass over the corpus
    * embeddings with per-row column math — no shuffle at all, the q73
    * broadcast-eval shape with cosine in place of the shingle join. The
    * pair output is eval-hit-sized (≪ corpus). */
  def semanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    semanticDecontamFrom(emb, Similarity.gridProbes(emb))
  }

  /** Cosine flag threshold for q136 — applied to the 6-decimal ROUNDED
    * cosine (q61's boundary-determinism convention), mirrored literally
    * in the oracle SQL. */
  val SemDecontamTau = 0.30

  /** [[semanticDecontam]] over explicit corpus/eval embedding tables —
    * the deployment entry point (real eval-suite vectors go here). */
  def semanticDecontamFrom(emb: DataFrame, evalVecs: DataFrame): DataFrame = {
    import Similarity.{cosine, norm}
    val ev = evalVecs.select(col("vec_id").as("eval_id"),
      col("embedding").as("e_emb"), norm(col("embedding")).as("e_nrm"))
    emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(broadcast(ev), col("vec_id") =!= col("eval_id"))
      .withColumn("cosine",
        round(cosine(col("embedding"), col("e_emb"), col("nrm"), col("e_nrm")), 6))
      .filter(col("cosine") >= SemDecontamTau)
      .select(col("vec_id"), col("eval_id"), col("cosine"))
      .orderBy(col("vec_id"), col("eval_id"))
  }

  /** q137: quality-aware near-dup keeper — q37's verified pair table
    * re-decided by DOMINANCE instead of keep-lowest-id: a document is
    * dropped iff some verified near-dup partner beats it on
    * (distinct-token richness, then n_chars, then lower doc_id). Lee et
    * al. 2021 keep an arbitrary cluster member; production pipelines keep
    * the BEST one — near-dup members differ (boilerplate-padded vs clean
    * variants), so the keeper choice moves real quality. Survivors are
    * the dominance-maximal documents: in a clique exactly the best member
    * survives; across chains the rule is a deterministic greedy
    * approximation of cluster-grain argmax (q82 is the cluster-grain
    * refinement). Output: every document touched by a pair, its partner
    * count, how many partners dominate it, the strongest dominating
    * partner, and the 0/1 kept verdict.
    *
    * Scale shape: the pair table is the expensive term (staged via
    * [[pairTable]] in deployment); the score table is one corpus scan of
    * pure per-row column math (array_distinct over the token split — no
    * explode, no shuffle); scores attach to pair ends by broadcasting the
    * pair-derived (blocked, ≪ corpus) side twice; the verdict agg is
    * doc-grain with map-side partials. */
  def qualityKeeper(spark: SparkSession, dir: String): DataFrame =
    qualityKeeperFrom(Tables.documents(spark, dir),
      Dedup.lshNearDup(spark, dir))

  /** [[qualityKeeper]] over any (doc_id, text, n_chars) frame and any
    * verified (d1, d2) pair table — the staged-pair deployment shape. */
  private[graft] def qualityKeeperFrom(docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val score = docs.select(col("doc_id"),
      size(array_distinct(toks)).cast("long").as("rich"), col("n_chars"))
    val directed = pairs
      .select(col("d1").as("doc_id"), col("d2").as("partner"))
      .unionByName(pairs.select(col("d2").as("doc_id"), col("d1").as("partner")))
    val withDoc = score.join(broadcast(directed), "doc_id")
    val p = score.select(col("doc_id").as("partner"), col("rich").as("p_rich"),
      col("n_chars").as("p_chars"))
    val beats = col("p_rich") > col("rich") ||
      (col("p_rich") === col("rich") && col("p_chars") > col("n_chars")) ||
      (col("p_rich") === col("rich") && col("p_chars") === col("n_chars") &&
        col("partner") < col("doc_id"))
    p.join(broadcast(withDoc), "partner")
      .groupBy(col("doc_id"), col("rich"), col("n_chars"))
      .agg(
        count(lit(1)).as("n_partners"),
        count(when(beats, lit(1))).as("n_better"),
        // -1 sentinel for "nothing dominates" keeps the column a
        // non-null BIGINT in both engines (nullable-int parquet reads
        // back as float in pandas and would hash-mismatch)
        coalesce(min(when(beats, col("partner"))), lit(-1L)).as("best_partner"))
      .withColumn("kept", when(col("n_better") === 0, lit(1L)).otherwise(lit(0L)))
      .select(col("doc_id"), col("rich"), col("n_chars"),
        col("n_partners"), col("n_better"), col("best_partner"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** q144: eval-SPAN decontamination — exact-substring contamination
    * against the eval suite at q95's 8-token span granularity: every
    * corpus document sharing at least one sliding [[SpanW]]-token span
    * with an eval document, with the span hit count and contamination
    * ratio as evidence. This is the decontamination pass production
    * pipelines actually run (Lee et al. 2021 §6 / GPT-3 appendix-style
    * n-gram overlap): q73's ≥2-shingle rule catches topical overlap,
    * q136 catches paraphrase, THIS catches verbatim quotation of eval
    * items inside otherwise-novel pages. The declared eval set is its
    * own capped grid — every 7th doc_id under 2048 (≈ 290 docs, a
    * realistic eval-suite size; the 97-stride probe grid is too sparse
    * to exhibit span overlap at small SF) — mirrored literally in the
    * oracle; span fingerprints are THE shared [[spanHashes]], so this
    * audit can never disagree with the span family on what a span is.
    *
    * Scale shape: the eval span set is eval-suite-sized and BROADCAST;
    * the corpus side is the span explode (the span family's one
    * expensive term — staged via [[spanTable]] in deployments through
    * [[evalSpanOverlapFrom]]) followed by a broadcast semi-ish join
    * that keeps only contaminated positions, then one doc-grain agg
    * with map-side partials. */
  def evalSpanOverlap(spark: SparkSession, dir: String): DataFrame = {
    // Ride the session-standing [[spanTable]] (r20/r21 verdict item 2):
    // the former shape re-exploded the whole corpus in-query — the worst
    // measured second-decade scaler in the repo (11.66×/decade, 43.2 s at
    // sf10) — where q99/q101/q103/q113 already share one explode per
    // session. A doc-grain filter commutes with the per-doc span explode
    // (spanRows(docs.filter(p)) ≡ spanRows(docs).filter(p)), so corpus
    // and eval sides are FILTERS of the standing table and the results
    // are row-identical (CurationSpec pins it; oracle unchanged). The
    // un-staged shared parquet, not [[spanTable]]: both consumers are
    // single-pass (eval side is doc_id-pruned at the scan), so the
    // per-query localCheckpoint would re-materialize the whole table.
    val spans = spanTableShared(spark, dir)
    evalSpanOverlapFrom(
      spans.filter(!evalGrid(col("doc_id"))),
      spans.filter(evalGrid(col("doc_id"))))
  }

  /** q144's declared eval-doc grid: every 7th id, capped at THE shared
    * [[Similarity.ProbeCap]] — a fixed eval-suite-sized budget at any
    * corpus size (the probe-cap philosophy; mirrored as the literal in
    * the q144 oracle predicate, which Oracles keys off ProbeCap). */
  private[graft] def evalGrid(id: Column): Column =
    id % 7 === 0 && id < Similarity.ProbeCap

  /** [[evalSpanOverlap]] over explicit corpus/eval span tables (the
    * [[spanTable]] deployment shape — pass real eval-suite spans). */
  def evalSpanOverlapFrom(spans: DataFrame, evalSpans: DataFrame): DataFrame = {
    val ev = evalSpans.select(col("h")).distinct()
    spans.join(broadcast(ev), "h")
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_eval_spans"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("n") - (SpanW - 1)).as("n_spans"), col("n_eval_spans"),
        trunc6(col("n_eval_spans") * 1.0 / (col("n") - (SpanW - 1)))
          .as("contamination"))
      .orderBy(col("doc_id"))
  }

  /** q145: soft-dedup training weights — instead of dropping
    * duplicates, every document gets the per-epoch sampling weight that
    * reproduces the deduplicated distribution in expectation:
    * 1/n_copies for its exact-fingerprint cluster, and a discounted
    * variant 1/(n_copies + n_near_partners) that also counts verified
    * near-dup partners (an upper bound on the doc's effective
    * multiplicity — pair grain, q82 is the cluster-grain refinement).
    * This is the softer alternative to q34's keep-one rule that keeps
    * benign template variation in the mixture while still flattening
    * the viral-copy mass; the output is the per-doc weight column an
    * epoch sampler (q89) consumes.
    *
    * Scale shape: one corpus scan + q34's fingerprint window for
    * n_copies; near-dup degree is an agg of the (blocked, ≪ corpus)
    * pair table LEFT-joined back doc-aligned; no pairwise term. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame =
    softDedupWeightsFrom(Tables.documents(spark, dir),
      Dedup.lshNearDup(spark, dir))

  /** [[softDedupWeights]] over any (doc_id, text) frame and verified
    * (d1, d2) pair table — staged-pair deployment shape. */
  private[graft] def softDedupWeightsFrom(docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
    val deg = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))
    docs.withColumn("fp", Dedup.textFp)
      .withColumn("n_copies", count(lit(1)).over(wFp))
      .join(deg, Seq("doc_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .select(col("doc_id"), col("n_copies"), col("n_near"),
        trunc6(lit(1.0) / col("n_copies")).as("weight"),
        trunc6(lit(1.0) / (col("n_copies") + col("n_near")))
          .as("weight_discounted"))
      .orderBy(col("doc_id"))
  }

  /** q146: padding-waste sweep — for four length-bucketing widths
    * (∞ = one global batch bucket, then 256/64/16-token-wide bins),
    * the padding a batcher pays when every document in a bin pads to
    * the bin's max length: bins used, padded tokens, and padding as a
    * fraction of the padded total. This is the measured version of the
    * "bucketed batching saves X% padding" decision a training harness
    * makes when it doesn't pack (q74) — the sweep shows the
    * diminishing return of finer buckets on THIS length distribution.
    *
    * Scale shape: docs × 4 config rows explode → (width, bin) agg with
    * map-side partials → width-grain agg; output is 4 rows, nothing
    * downstream of the first agg touches the corpus. */
  def paddingWaste(spark: SparkSession, dir: String): DataFrame =
    paddingWasteFrom(Tables.documents(spark, dir))

  /** [[paddingWaste]] over any (text) frame — fixture hook. */
  private[graft] def paddingWasteFrom(docs: DataFrame): DataFrame = {
    val widths = Seq(1000000, 256, 64, 16)
    docs
      .select(size(toks).cast("long").as("len"))
      .select(col("len"), explode(array(widths.map(lit): _*)).as("width"))
      .groupBy(col("width"), floor(col("len") / col("width")).as("bin"))
      .agg(count(lit(1)).as("n_docs"), max(col("len")).as("mx"),
        sum(col("len")).as("toks"))
      .groupBy(col("width"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("mx") * col("n_docs") - col("toks")).as("padding_tokens"))
      .select(col("width").cast("long").as("width"), col("n_bins"),
        col("n_docs"), col("n_tokens"), col("padding_tokens"),
        trunc6(col("padding_tokens") * 1.0 /
          (col("padding_tokens") + col("n_tokens"))).as("padding_frac"))
      .orderBy(col("width"))
  }

  /** q150: per-source quality scorecard — the acquisition dashboard
    * table: per source, its volume (docs, tokens, mean chars), the
    * fraction passing q66's heuristic gate, and the fraction that
    * exact-dedup would drop. Every stage definition is the SHARED one
    * (gate = [[qualityGateFrom]]'s keep, dup = q34's
    * keep-smallest-id window), so the scorecard can never disagree
    * with the stages it summarizes — this is the table a data-buying
    * decision reads before q76's mixture reweighting acts on it.
    *
    * Scale shape: one fingerprint window (q34's shape), the gate's
    * token-explode feature build, one co-partitioned doc_id join, one
    * source-grain agg with map-side partials. */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wFp = Window.partitionBy(col("fp"))
    val gate = qualityGateShared(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("keep"))
    docs
      .withColumn("fp", Dedup.textFp)
      .withColumn("exact_drop", col("doc_id") =!= min(col("doc_id")).over(wFp))
      .select(col("doc_id"), col("source"), col("n_chars"), col("exact_drop"))
      .join(gate, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        count(when(col("keep"), lit(1))).as("n_pass"),
        count(when(col("exact_drop"), lit(1))).as("n_exact_dup"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        trunc6(col("n_pass") * 1.0 / col("n_docs")).as("pass_rate"),
        trunc6(col("n_exact_dup") * 1.0 / col("n_docs")).as("dup_rate"),
        trunc6(col("sum_chars") * 1.0 / col("n_docs")).as("mean_chars"))
      .orderBy(col("source"))
  }

  /** q149: increment novelty scoring — q94's daily-increment convention
    * (doc_id % 7 == 0 is the arriving batch) scored at shingle grain:
    * per batch document, its distinct 3-token shingles, how many are
    * NOVEL against the standing corpus's shingle vocabulary, and the
    * novelty ratio. q142 measures novelty decay across acquisition
    * deciles; THIS is the per-document admission signal — a zero-novelty
    * arrival adds nothing the corpus doesn't already have, even when it
    * isn't a dedup hit (recombined boilerplate), and a high-novelty one
    * is worth keeping even from an over-represented source.
    *
    * Scale shape: the corpus shingle vocabulary is distinct-reduced with
    * map-side partials BEFORE the join (vocabulary-sized, not
    * token-volume-sized); the batch side is increment-sized; the join
    * shuffles on the gram key — the q79 incremental-dedup shape one
    * granularity finer. */
  def incrementNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementNoveltyFrom(docs.filter(col("doc_id") % 7 === 0),
      docs.filter(col("doc_id") % 7 =!= 0))
  }

  /** [[incrementNovelty]] over explicit increment/corpus frames — the
    * deployment entry point (yesterday's index, today's arrivals). */
  private[graft] def incrementNoveltyFrom(batch: DataFrame,
      corpus: DataFrame): DataFrame = {
    // shingle identity is the [[Dedup.shingleFps]] FINGERPRINT (8-byte
    // shuffle/join keys, no per-shingle string construction) — r22,
    // the q35 identity move: every use here is equality-classes-only
    // (two distincts, a membership join, counts), the DuckDB oracle
    // keeps the raw gram string, and the collision triage note on
    // shingleFps applies verbatim
    def grams(df: DataFrame): DataFrame = df
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .withColumn("tokh", tokHashes)
      .select(col("doc_id"), explode(Dedup.shingleFps).as("gram"))
    val corpusVocab = grams(corpus).select(col("gram")).distinct()
      .withColumn("known", lit(true))
    grams(batch).distinct()
      .join(corpusVocab, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("known").isNull, lit(1))).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        trunc6(col("n_novel") * 1.0 / col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** q141: cluster–label purity audit — q70's k-means assignment
    * cross-tabulated against the embedding labels: per cluster, its
    * size, majority label, majority count, and purity (majority/size).
    * This is the embedding-quality check BEFORE SemDeDup (q83) or
    * IVF routing (q102) lean on the cluster structure: clusters that
    * don't align with any label are noise partitions, and pruning or
    * routing inside them behaves arbitrarily. Assignment is the SHARED
    * [[assignmentsK]] E-step, so the audit can never disagree with
    * q70/q77/q83 on who belongs where.
    *
    * Scale shape: assignment is the broadcast-centroid corpus scan; the
    * label attach is one co-partitioned join on vec_id; everything
    * after is (k × labels)-sized. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame =
    clusterPurityFrom(Tables.embeddings(spark, dir), 8)

  /** [[clusterPurity]] over any (vec_id, embedding, label) frame with
    * the first `k` vec_ids as seed centroids — fixture/deployment
    * entry point. */
  private[graft] def clusterPurityFrom(emb: DataFrame, k: Int): DataFrame = {
    val asg = assignmentsK(emb, k).select(col("vec_id"), col("cluster_id"))
    val lc = asg.join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val wC = Window.partitionBy(col("cluster_id"))
    val wTop = wC.orderBy(col("cnt").desc, col("label"))
    lc
      .withColumn("n_assigned", sum(col("cnt")).over(wC))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_assigned"),
        col("label").cast("long").as("top_label"), col("cnt").as("n_top"),
        trunc6(col("cnt") * 1.0 / col("n_assigned")).as("purity"))
      .orderBy(col("cluster_id"))
  }

  /** q142: acquisition novelty curve — the corpus split into 10
    * id-deciles (doc_id order stands in for crawl order), and per
    * decile: how many distinct 3-token shingles it contains, how many
    * of those are FIRST seen there, the cumulative distinct-shingle
    * count, and the novelty ratio. The curve's decay is the
    * diminishing-returns measurement a data-acquisition budget is
    * planned against: when new crawl increments stop contributing new
    * n-grams, more of the same source stops buying model quality.
    *
    * Scale shape: the decile rule is a stateless projection against one
    * broadcast max-id scalar (NOT a global ntile window, which would
    * serialize the corpus through one task); shingle explode →
    * distinct → min-bucket-per-shingle are vocabulary-keyed shuffles
    * with map-side partials; the cumulative window runs over 10 rows. */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame =
    noveltyCurveFrom(Tables.documents(spark, dir))

  /** [[noveltyCurve]] over any (doc_id, text) frame — fixture hook. */
  private[graft] def noveltyCurveFrom(docs: DataFrame): DataFrame = {
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val bucketed = docs.crossJoin(broadcast(mx)) // 1-row scalar subquery shape
      .withColumn("bucket",
        least(lit(9L), floor(col("doc_id") * 10.0 / (col("mx") + 1))))
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      // shingle identity = [[Dedup.shingleFps]] fingerprint (r22, the
      // q35/q149 move): both consumers below use grams as equality
      // classes only (distinct counts, min-bucket-per-gram); the oracle
      // keeps the string — shingleFps' collision note applies
      .withColumn("tokh", tokHashes)
      .select(col("bucket"), explode(Dedup.shingleFps).as("gram"))
      .distinct()
      // NOT staged — measured rejection (r22): the plan does run the
      // explode + distinct once per consumer (per-decile count and
      // first-seen-bucket agg), but a localCheckpoint of the distinct
      // (bucket, gram) STRING table was 2.2× slower isolated (4.0 s vs
      // 1.8 s at sf0.1) — materializing token-volume string rows costs
      // more than the second scan, whose distinct collapses map-side
      // before its exchange (the spanTable parquet-decode lesson, r19).
    val perBucket = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_distinct_grams"))
    val news = bucketed.groupBy(col("gram"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_new_grams"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(news, Seq("bucket"), "left")
      .withColumn("n_new_grams", coalesce(col("n_new_grams"), lit(0L)))
      .withColumn("cum_new_grams", sum(col("n_new_grams")).over(wCum))
      .select(col("bucket"), col("n_distinct_grams"), col("n_new_grams"),
        col("cum_new_grams"),
        trunc6(col("n_new_grams") * 1.0 / col("n_distinct_grams"))
          .as("novelty_ratio"))
      .orderBy(col("bucket"))
  }

  /** q143: multi-n repetition census — Gopher's remaining within-doc
    * repetition signals, per document and n ∈ {2, 3, 4}: the fraction
    * of n-gram positions held by the single most frequent n-gram
    * (top_frac — catches "buy now buy now buy now") and the fraction of
    * positions whose n-gram occurs more than once (dup_frac — catches
    * diffuse copy-paste). q67 reports the distinct-bigram complement;
    * this query generalizes to occurrence-weighted fractions across
    * three n so a rule set can threshold each (Rae et al. 2021 §A1.2's
    * table).
    *
    * Scale shape: entirely narrow — gram arrays, per-distinct-gram
    * occurrence counts (nested higher-order functions), max and
    * ≥2-sum all happen inside one row's projection; a corpus scan with
    * ZERO shuffles at any size (q67's shape, ×3 grams). */
  def ngramRepetition(spark: SparkSession, dir: String): DataFrame =
    ngramRepetitionFrom(Tables.documents(spark, dir))

  /** [[ngramRepetition]] over any (doc_id, text) frame — fixture hook.
    *
    * The per-row kernel is the native `ngram_rep` expression
    * ([[graft.functions.expressions.NgramRep]]): gram fingerprints
    * (chained XXH64 over the row's token hashes — the gram STRING is
    * never built; fractions depend only on equality classes, which the
    * DuckDB oracle reproduces from the raw strings), one primitive
    * sort, one linear run-length pass — per (row, n), inside
    * whole-stage codegen. It replaced a sort_array + higher-order
    * `aggregate` fold rebuilding a 4-field struct per element
    * ([[ngramRepStatsComposed]], kept as the spec's equality
    * reference), which itself replaced a per-distinct-gram rescan that
    * measured 162 s at sf0.1 (quadratic in document length). A run of
    * length r contributes +2 at its second element and +1 after, so
    * dup_occ sums exactly the occurrences inside runs ≥ 2. */
  private[graft] def ngramRepetitionFrom(docs: DataFrame): DataFrame =
    ngramRepVerdict(docs).orderBy(col("doc_id"), col("n"))

  /** [[ngramRepetitionFrom]] minus the presentation sort — the UNORDERED
    * per-row verdict, ONE definition shared by batch q143 and the
    * streaming gate ([[graft.streaming.StreamOps.ngramRepStream]]): a
    * continuous sink has no global order, and everything else about the
    * signal is per-row column math, so sharing this core is what pins the
    * two sides to the same numbers (the [[spanVerdict]] convention). */
  private[graft] def ngramRepVerdict(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 2)
      .withColumn("tokh", transform(col("toks"), t => xxhash64(t)))
      .select(col("doc_id"), posexplode(array((2 to 4).map(n =>
        call_function("ngram_rep", col("tokh"), lit(n))): _*)).as(Seq("pos", "st")))
      .filter(col("st.n_grams") >= 1)
      .select(col("doc_id"), (col("pos") + 2).cast("long").as("n"),
        col("st.n_grams").as("n_grams"),
        trunc6(col("st.top_occ") * 1.0 / col("st.n_grams")).as("top_frac"),
        trunc6(col("st.dup_occ") * 1.0 / col("st.n_grams")).as("dup_frac"))

  /** The pre-kernel composed formulation, kept ONLY as the spec's
    * equality reference for `ngram_rep` (the subL2Composed convention):
    * gram fingerprints via the Column xxhash64, sort_array, and a
    * higher-order run-length fold. Expects `toks`/`tokh` in scope;
    * returns the same (n, n_grams, top_occ, dup_occ) struct. Spark
    * sequence(1, stop) DESCENDS when stop < 1, so docs shorter than n
    * short-circuit to an empty gram array (slice(_, 1, 0)); the null
    * `prev` sentinel makes the first element restart the run at 1. */
  private[graft] def ngramRepStatsComposed(n: Int): Column = {
    val gramArr: Column = when(size(col("tokh")) >= n,
      transform(
        sequence(lit(1), size(col("tokh")) - (n - 1)),
        i => xxhash64((0 until n).map(j => element_at(col("tokh"), i + j)): _*)))
      .otherwise(slice(col("tokh"), 1, 0))
    val runs = aggregate(
      sort_array(gramArr),
      struct(lit(null).cast("bigint").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("dup")),
      (acc, x) => {
        val same = x === acc.getField("prev")
        val newRun = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), newRun.as("run"),
          greatest(acc.getField("best"), newRun).as("best"),
          (acc.getField("dup") + when(same,
            when(acc.getField("run") === 1L, lit(2L)).otherwise(lit(1L)))
            .otherwise(lit(0L))).as("dup"))
      })
    struct(lit(n.toLong).as("n"),
      greatest(size(col("toks")) - (n - 1), lit(0)).cast("long").as("n_grams"),
      runs.getField("best").as("top_occ"),
      runs.getField("dup").as("dup_occ"))
  }

  /** q139: corpus drift audit — the population stability index (PSI) of
    * three document features (length bin, token-count bin, language)
    * between a reference and a candidate half of the corpus (declared
    * split: doc_id parity — deterministic and hash-free; a deployment
    * passes last week's crawl vs this week's to [[driftPsiFrom]]). PSI
    * = Σ_bins (p−q)·ln(p/q) is the standard drift monitor a production
    * pipeline alarms on before a distribution shift silently changes the
    * training mixture (PSI < 0.1 stable, > 0.25 action). Counts are
    * Laplace-smoothed by +0.5 per observed bin so empty bins stay
    * finite, with the bin universe = bins observed in EITHER half.
    *
    * Scale shape: one corpus scan → per-(feature, bin, half) partial
    * counts (map-side combine, tiny result), then all arithmetic on the
    * bins-sized table; nothing downstream of the first agg touches the
    * corpus. */
  def driftPsi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    driftPsiFrom(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  /** THE drift-feature binning — one row per (feature, bin) per
    * document: length decile-capped /64 bins, token /16 bins, language
    * as its own categorical bin. Shared by batch q139 and the streaming
    * drift monitor ([[graft.streaming.StreamOps.driftBinsStream]]) so
    * the two sides can never disagree on what a bin is. Extra input
    * columns (e.g. a stream's event time) ride through untouched. */
  private[graft] def driftBinned(df: DataFrame): DataFrame = df
    .withColumn("fb", explode(array(
      struct(lit("len").as("feature"),
        least(lit(9L), floor(col("n_chars") / 64)).cast("string").as("bin")),
      struct(lit("tok").as("feature"),
        least(lit(9L), floor(size(toks) / 16)).cast("string").as("bin")),
      struct(lit("lang").as("feature"), col("lang").as("bin")))))
    .select((df.columns.toSeq.diff(Seq("text", "n_chars", "lang")).map(col) ++
      Seq(col("fb.feature").as("feature"), col("fb.bin").as("bin"))): _*)

  /** [[driftPsi]] over explicit reference/candidate corpora — the
    * deployment entry point (e.g. consecutive crawl snapshots). */
  private[graft] def driftPsiFrom(ref: DataFrame, cand: DataFrame): DataFrame = {
    def binned(df: DataFrame, half: String): DataFrame =
      driftBinned(df).withColumn("half", lit(half))
    val counts = binned(ref, "ref").unionByName(binned(cand, "cand"))
      .groupBy(col("feature"), col("bin"), col("half"))
      .agg(count(lit(1)).as("c"))
    // bin universe per feature = bins observed in either half; absent
    // halves contribute c=0 and ride on the +0.5 smoothing
    val grid = counts.groupBy(col("feature"), col("bin"))
      .agg(
        coalesce(sum(when(col("half") === "ref", col("c"))), lit(0L)).as("c_ref"),
        coalesce(sum(when(col("half") === "cand", col("c"))), lit(0L)).as("c_cand"))
    psiFromGrid(grid, Seq("feature"))
  }

  /** PSI finalize over a (keys…, c_ref, c_cand) bin grid — the
    * Laplace-smoothed, decimal-exact tail shared by batch q139
    * ([[driftPsiFrom]], keys = feature) and the streaming monitor's
    * per-window finalize ([[graft.streaming.StreamOps.driftPsiFinalize]],
    * keys = window_start + feature) so the alarm value can never drift
    * between the two sides. ADVICE r15: per-bin terms are bit-identical
    * across engines but a plain double sum() is accumulation-order-
    * dependent — floor each term to integer 1e-9 units and sum as
    * DECIMAL (q75's exact-sum idiom), then round half-up ON THE INTEGER
    * GRID (PSI terms are ≥ 0), so the 6dp boundary can never flip. */
  private[graft] def psiFromGrid(grid: DataFrame, keys: Seq[String]): DataFrame = {
    val wF = Window.partitionBy(keys.map(col): _*)
    val nBins = count(lit(1)).over(wF)
    val pRef = (col("c_ref") + 0.5) / (sum(col("c_ref")).over(wF) + nBins * 0.5)
    val pCand = (col("c_cand") + 0.5) / (sum(col("c_cand")).over(wF) + nBins * 0.5)
    grid
      .withColumn("term_u",
        floor(((pRef - pCand) * log(pRef / pCand)) * 1e9).cast("decimal(28,9)"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_bins"), sum(col("term_u")).as("s"))
      .select(keys.map(col) ++ Seq(col("n_bins"),
        (floor((col("s") + 500) / 1000).cast("double") / 1e6).as("psi")): _*)
      .orderBy(keys.map(col): _*)
  }
}
