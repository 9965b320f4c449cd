package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.MoneySum.{decSum9, longSum9, trunc6}
import graft.sources.Tables

/** Similarity search over the `embeddings` table (dim 64, float32).
  *
  * Vector math is builtin higher-order functions (`zip_with` +
  * `aggregate`) — codegen'd, no UDF, exact left-fold order so the DuckDB
  * oracle (an explicit 64-term sum chain) reproduces results bit-for-bit
  * before rounding.
  *
  * Scale design: the brute-force top-k broadcasts the (small) probe set
  * against a single scan of the corpus — one window per probe for the
  * top-k heap, no all-pairs shuffle. The bucketed ANN variant is the
  * 100 TB path: a cheap sign-bit coarse quantizer prunes the candidate set
  * to one bucket (IVF-style); both sides shuffle only on bucket_id.
  */
object Similarity {

  /** Exact dot product with deterministic left-fold accumulation. Uses the
    * native codegen'd [[graft.functions.expressions.VecDot]] kernel
    * (declared in [[graft.GraftExtensions]]) — zero allocation in pairwise
    * passes. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Builtin-composed equivalent (slower; kept as the portable fallback and
    * the equivalence-test reference — identical accumulation order). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** THE cosine: every vector-search score, E-step and pair check in the
    * program divides [[dot]] by the two norms here and nowhere else. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** `df`'s rows ranked per `key` by `order` (which ends in a unique
    * tie-break) into column `rank` with `row_number`, keeping rank ≤ n —
    * the refine tail of every top-k search, probe routing and E-step
    * argmax; chain it with `.transform`. n = 1 filters `rank = 1`: the
    * same rows (row_number starts at 1), and the argmax form those plans
    * carry. */
  private[graft] def topPerKey(key: String, n: Int, rank: String = "rank")(
      order: Column*)(df: DataFrame): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .filter(if (n == 1) col(rank) === 1 else col(rank) <= n)

  /** The per-probe top-k output of a vector or lexical search: `pairs`
    * ranked per probe by `order`, k kept, projected to the site's own
    * columns `out` ([[longRank]] among them), ordered by (probe, rank). */
  private[graft] def probeTopK(pairs: DataFrame, k: Int, order: Column*)(
      out: Column*): DataFrame =
    topPerKey("probe_id", k)(order: _*)(pairs)
      .select(out: _*)
      .orderBy(col("probe_id"), col("rank"))

  /** The `rank` output column of [[probeTopK]]. */
  private[graft] def longRank: Column = col("rank").cast("long").as("rank")

  /** Probe ids are corpus ids: every candidate join drops the pair of a
    * probe with its own corpus row, so a probe set from outside the
    * corpus must take ids outside the corpus id range (a colliding id
    * would drop a real candidate). */
  private[graft] def notSelf(cand: String): Column = col("probe_id") =!= col(cand)

  /** The shared exact-cosine candidate join: broadcast probe rows
    * (probe_id, p_emb, p_nrm, …) against candidate rows (cand_id, c_emb,
    * c_nrm, …) on the conditions `on` and [[notSelf]], scored `cosine`. */
  private def cosinePairs(p: DataFrame, cand: DataFrame, on: Column*): DataFrame =
    broadcast(p)
      .join(cand, (on :+ notSelf("cand_id")).reduce(_ && _))
      .withColumn("cosine", cosine(col("p_emb"), col("c_emb"), col("p_nrm"), col("c_nrm")))

  /** Declared-surface probe cap (VERDICT r13 #1): the %97 grid alone is
    * a fixed FRACTION of the corpus, so the declared exact baseline's
    * cost would be O(n²/97) — measured 23× at 10× data (BASELINE.md sf1
    * smoke). The id cap turns the grid into a BOUNDED sample: at any
    * corpus ≥ [[ProbeCap]] vectors the probe set is the fixed 22-entry
    * id grid {0, 97, …, 2037} (21×97 = 2037 is the last multiple under
    * the cap) — a probe BUDGET, the plan you'd run at 100× — while every
    * test SF ≤ 0.1 (max id 4999 docs / 1999 vecs) keeps the grid inside
    * the cap where it matters for oracle variety. Every oracle carries
    * the identical `AND id < 2048` predicate. */
  private[graft] val ProbeCap = 2048L

  /** THE declared probe-budget predicate — the single Scala source of
    * truth for the `% 97 = 0 AND id < 2048` filter that 27 oracle
    * predicates mirror (VERDICT r14 #5). Every declared probe grid
    * ([[gridProbes]], `Retrieval.gridDocProbes`, `Curation.decontaminate`'s
    * eval slice) routes through here so cap and grid can never drift
    * apart between families. */
  private[graft] def probeFilter(id: Column): Column =
    id % 97 === 0 && id < ProbeCap

  /** The declared queries' probe set: every 97th vector, capped to the
    * first [[ProbeCap]] ids — a fixed probe budget at scale, not a
    * corpus share. Deployments pass their own bounded probe set to the
    * `*From` variants below. */
  private[graft] def gridProbes(emb: DataFrame): DataFrame =
    emb.filter(probeFilter(col("vec_id")))

  /** Brute-force cosine top-10 per probe (every 97th vector probes) — the
    * exact baseline every ANN variant is measured against. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    cosineTopKFrom(emb, gridProbes(emb), k = 10)
  }

  /** [[cosineTopK]] over an explicit probe set — `emb` and `probes` are
    * plain (vec_id, embedding) tables; cost is |probes| × one corpus
    * scan, so a bounded `probes` keeps the exact baseline linear in the
    * corpus at any scale. */
  def cosineTopKFrom(emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val cand = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_nrm"))
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
      norm(col("embedding")).as("p_nrm"))
    probeTopK(cosinePairs(p, cand), k, col("cosine").desc, col("cand_id"))(
      col("probe_id"), longRank, col("cand_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Sign-bit coarse quantizer: bucket = 4 sign bits of dims 1..4 (an
    * IVF-style partition of the space into 16 cells). */
  def bucketOf(emb: Column): Column =
    (0 until 4).map { i =>
      when(element_at(emb, i + 1) > 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN: probes search only their own bucket — candidate set
    * shrinks ~16x; join is an equality join on bucket_id (shuffle-light,
    * broadcastable probe side). Top-5 per probe. */
  def annBucketed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annBucketedFrom(emb, gridProbes(emb), k = 5)
  }

  /** [[annBucketed]] over an explicit probe set (plain (vec_id,
    * embedding) tables both sides) — the bounded-probe-budget dual of
    * [[cosineTopKFrom]]. */
  def annBucketedFrom(emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val cand = emb
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("bucket", bucketOf(col("embedding")))
    val p = probes
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("bucket", bucketOf(col("embedding")))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"), col("bucket"))
    val pairs = cosinePairs(p,
      cand.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"), col("bucket").as("c_bucket")),
      col("bucket") === col("c_bucket"))
    probeTopK(pairs, k, col("cosine").desc, col("cand_id"))(
      col("probe_id"), col("bucket"), longRank,
      col("cand_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** q88: ANN recall measurement — per probe: how many of the exact
    * top-5 neighbors the sign-bucketed ANN (q41) actually returned, and
    * recall@5. The meta-operator every approximate index needs shipped
    * next to it: the recall/speedup trade is a MEASURED property of the
    * data distribution, not a constant of the algorithm, and it must be
    * re-measured when the embedding model or corpus mix changes.
    *
    * Scale shape: composes the two existing plans and joins their (probe,
    * cand) sets — the join input is |probes|·k rows, never the corpus.
    * The declared query inherits q40's CAPPED grid ([[ProbeCap]]), so the
    * exact ground-truth side is probes × one corpus scan — linear in the
    * corpus at any scale; production audits pass their own fixed probe
    * budget to [[annRecallFrom]]. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annRecallFrom(emb, gridProbes(emb))
  }

  /** [[annRecall]] over an explicit probe set — the recall audit with a
    * fixed probe budget (the deployment shape; see BASELINE.md sf1
    * smoke). */
  def annRecallFrom(emb: DataFrame, probes: DataFrame): DataFrame = {
    val exact5 = cosineTopKFrom(emb, probes, k = 5)
      .select(col("probe_id"), col("cand_id"))
    val approx5 = annBucketedFrom(emb, probes, k = 5)
      .select(col("probe_id"), col("cand_id"))
    recallAt5(probes, exact5, approx5)
  }

  /** Per probe, |exact top-5 ∩ approx top-5| and that count / 5 — the
    * tail of every recall audit. Reported over the PROBE SET, not
    * exact5's probe ids (the oracle's probes CTE enumerates probes
    * independently): a probe with zero exact candidates must surface as
    * recall 0, not vanish (ADVICE r12). */
  private def recallAt5(probes: DataFrame, exact5: DataFrame,
      approx5: DataFrame): DataFrame = {
    val hits = exact5.join(approx5, Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n"))
    probes.select(col("vec_id").as("probe_id")).distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n"), lit(0L)).as("n_hits"),
        (coalesce(col("n"), lit(0L)) / lit(5.0)).as("recall_at_5"))
      .orderBy(col("probe_id"))
  }

  /** q109: recall audit for the COMPRESSED path — [[annRecall]]'s
    * philosophy applied to q108's IVF-PQ: per probe,
    * |IVF-PQ top-5 ∩ exact cosine top-5| / 5. Quantization loss and cell
    * routing loss are measured TOGETHER, as deployed — recall stays a
    * measured property of the data shipped as a query, never a prose
    * claim. Same scale contract as q88: the audit join input is
    * |probes|·k rows. */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = gridProbes(emb)
    val exact5 = cosineTopKFrom(emb, probes, k = 5)
      .select(col("probe_id"), col("cand_id"))
    val approx5 = ivfPqAnnFrom(emb, probes, nlist = 16, nprobe = 4,
        m = 8, dsub = 8, nCodes = 16, k = 5)
      .select(col("probe_id"), col("cand_id"))
    recallAt5(probes, exact5, approx5)
  }

  /** q110: incremental IVF index refresh — the vector-domain dual of the
    * q79/q94 daily-ingest shape. The quantizer is FIXED (that is the
    * point of a refresh: no per-batch re-clustering — re-training is
    * q104's scheduled Lloyd job); the arriving batch (the q94 %7 split
    * convention) routes through the same broadcast centroids as the
    * standing corpus, and the output is per-cell occupancy: corpus
    * count, batch count, and the batch's share of the refreshed cell. A
    * cell whose batch share drifts far above its corpus share is the
    * distribution-shift signal a production vector store audits at every
    * append.
    *
    * Scale shape: one broadcast-centroid assignment scan + one agg with
    * nlist final groups (map-side partials carry it). A deployment reads
    * the standing side's counts from the inverted-list metadata instead
    * of re-assigning the corpus — the declared query recomputes both so
    * the whole result is hash-checkable from the raw table. */
  def ivfRefresh(spark: SparkSession, dir: String): DataFrame = {
    val en = Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
    val cent = en.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    Curation.assignmentsWith(en, cent)
      .select(col("cluster_id").as("cell"),
        (col("vec_id") % 7 === 0).cast("long").as("is_batch"))
      .groupBy(col("cell"))
      .agg(
        sum(lit(1L) - col("is_batch")).as("n_corpus"),
        sum(col("is_batch")).as("n_batch"))
      .withColumn("frac_new",
        trunc6(col("n_batch").cast("double") / (col("n_corpus") + col("n_batch"))))
      .orderBy(col("cell"))
  }

  /** Fixed random-hyperplane set for signed-random-projection LSH: 8
    * hyperplanes × 64 dims, seeded — the same constants are baked into the
    * native [[graft.functions.expressions.RpSignature]] kernel and the
    * oracle SQL. */
  val hyperplanes: IndexedSeq[IndexedSeq[Double]] =
    graft.functions.expressions.RpSignature.planes.toIndexedSeq.map(_.toIndexedSeq)

  /** 8-bit signed-random-projection signature: bit j = sign(v · h_j).
    * Vectors with equal signatures are "probably similar" — the classic
    * cosine-LSH bucket key. A native codegen expression: the unrolled
    * Column formulation was 8×64 = 512 element_at terms — a tree that
    * risks the JVM 64 KB generated-method limit as dims grow. The kernel
    * loop is constant code size at any dimensionality (bit-equivalence +
    * codegen asserted in ExpressionSpec). */
  def rpSignature(emb: Column): Column = call_function("rp_signature64", emb)

  /** Random-hyperplane LSH ANN: probes search only their signature bucket
    * (256 cells). The candidate set shrinks ~256x; equality join on the
    * signature — the second scale path next to [[annBucketed]]. */
  def rpLshAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    rpLshAnnFrom(emb, gridProbes(emb), kRank = 3)
  }

  /** [[rpLshAnn]] over an explicit probe set — the bounded-probe-budget
    * dual, same contract as [[cosineTopKFrom]]. */
  def rpLshAnnFrom(emb: DataFrame, probes: DataFrame, kRank: Int): DataFrame = {
    val cand = emb
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("sig", rpSignature(col("embedding")))
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"), col("sig").as("c_sig"))
    val p = probes
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("sig", rpSignature(col("embedding")))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"), col("sig"))
    probeTopK(cosinePairs(p, cand, col("sig") === col("c_sig")), kRank,
        col("cosine").desc, col("cand_id"))(
      col("probe_id"), col("sig"), longRank,
      col("cand_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** q119: multi-probe LSH (Lv et al. 2007) over the q58 RP-LSH index —
    * instead of growing the number of hash tables, each query ALSO
    * probes the buckets reached by flipping its `nFlip` lowest-|margin|
    * signature bits: the hyperplanes the query sits closest to are
    * exactly where its true neighbors most likely landed on the other
    * side. Recall approaches multi-table LSH at a fraction of the index
    * memory — the reason production LSH deployments multi-probe.
    *
    * Scale shape: IDENTICAL to q58's — the corpus side computes only its
    * one native `rp_signature64`; margins are per-row column math on the
    * probe sliver alone, the probe side explodes to (nFlip+1) cells per
    * probe and broadcasts into the same equality join on the signature.
    * A candidate's single signature matches at most one probed cell, so
    * no pair dedup is needed. q58's candidate set is a subset by
    * construction (the base cell is always probed) — recall can only
    * improve, spec-pinned. */
  def multiprobeLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    multiprobeLshFrom(emb, gridProbes(emb), nFlip = 2, kRank = 3)
  }

  /** [[multiprobeLsh]] over an explicit probe set. */
  def multiprobeLshFrom(emb: DataFrame, probes: DataFrame, nFlip: Int,
      kRank: Int): DataFrame = {
    val cand = emb
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("sig", rpSignature(col("embedding")))
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"), col("sig").as("c_sig"))
    // per-hyperplane margins, probe sliver only: the native rp_margin64
    // kernel — same planes and left-assoc fold as the signature kernel
    // and the oracle's literal sum chain (bit-identity pinned in
    // ExpressionSpec against the unrolled form it replaced)
    val dots = (0 until 8).map(j =>
      call_function("rp_margin64", col("embedding"), lit(j)).as(s"d$j"))
    // sort the 8 (|margin|, bit index) pairs — struct array_sort orders
    // by field position: margin asc, then bit index asc on ties, the
    // same (a, j) order the oracle's row_number uses
    val marg = array_sort(array((0 until 8).map(j =>
      struct(abs(col(s"d$j")).as("a"), lit(j).as("j"),
        lit(1L << j).as("bit"))): _*))
    val p = probes
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("sig", rpSignature(col("embedding")))
      .select(Seq(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"), col("sig")) ++ dots: _*)
      .withColumn("flips", slice(marg, 1, nFlip))
      .withColumn("pcells", concat(array(col("sig")),
        transform(col("flips"), f => col("sig").bitwiseXOR(f.getField("bit")))))
      .select(col("probe_id"), col("p_emb"), col("p_nrm"),
        explode(col("pcells")).as("pcell"))
    probeTopK(cosinePairs(p, cand, col("pcell") === col("c_sig")), kRank,
        col("cosine").desc, col("cand_id"))(
      col("probe_id"), longRank, col("cand_id"), col("c_sig").as("cell"),
      round(col("cosine"), 6).as("cosine"))
  }

  /** q102: IVF ANN — inverted-file approximate nearest neighbor, the
    * third scale path next to the sign-bucket (q41) and RP-LSH (q58)
    * quantizers, and the one real vector stores ship: a coarse
    * quantizer partitions the corpus into `nlist` cells, each vector is
    * indexed under its nearest cell, and a query probes only its
    * `nprobe` closest cells with exact cosine inside them. `nprobe` is
    * the measured recall/cost knob (nprobe = nlist degenerates to exact
    * search — pinned in SimilaritySpec).
    *
    * The coarse quantizer IS the kmeans family's E-step
    * ([[Curation.assignmentsK]], seed centroids = first `nlist`
    * vec_ids): one Lloyd refinement via q77's M-step turns the seeded
    * cells into trained IVF cells without touching this operator — the
    * cell build accepts any centroid set.
    *
    * Scale shape: centroids are `nlist` rows — broadcast to both the
    * cell build (one corpus scan, no corpus shuffle before the per-vector
    * top-1 window on a pruned (vec_id, cell, cos) sliver) and the probe
    * side (tiny by the fixed-probe-budget contract). The candidate join
    * is an equality join on cell id with the probe side broadcast —
    * per-probe work is |corpus| · nprobe / nlist, the IVF contract. */
  def ivfAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfAnnFrom(emb, gridProbes(emb), nlist = 16, nprobe = 4, k = 5)
  }

  /** [[ivfAnn]] over an explicit probe set — the bounded-probe-budget
    * dual, same contract as [[cosineTopKFrom]]. Seed centroids = first
    * `nlist` vec_ids; for trained cells pass your own centroid table to
    * [[ivfAnnWith]]. */
  def ivfAnnFrom(emb: DataFrame, probes: DataFrame, nlist: Int, nprobe: Int,
      k: Int): DataFrame =
    ivfAnnWith(emb, probes, seedCells(emb.withColumn("nrm", norm(col("embedding"))), nlist),
      nprobe, k)

  /** The seeded IVF quantizer (cell, cvec, cnrm): the first `nlist`
    * vec_ids of `en` (which carries `nrm`) — the q102 seeding convention. */
  private def seedCells(en: DataFrame, nlist: Int): DataFrame =
    en.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"), col("nrm").as("cnrm"))

  /** Seeded IVF candidates — the corpus assigned to its nearest seed cell
    * (the inverted lists), each probe routed to its `nprobe` nearest cells
    * ([[probeCells]]): (probe_id, vec_id, cell) for every corpus vector
    * in a probed cell, self-pairs dropped ([[notSelf]]). */
  private def ivfCandidates(emb: DataFrame, probes: DataFrame, nlist: Int,
      nprobe: Int): DataFrame = {
    val en = emb.withColumn("nrm", norm(col("embedding")))
    val cent = seedCells(en, nlist)
    val cells = Curation.assignmentsWith(en,
        cent.select(col("cell").as("cluster_id"), col("cvec"), col("cnrm")))
      .select(col("vec_id"), col("cluster_id").as("c_cell"))
    val pcells = probeCells(probes, cent, nprobe)
      .select(col("probe_id"), col("cell"))
    cells
      .join(broadcast(pcells), col("c_cell") === col("cell") && notSelf("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("cell"))
  }

  /** Probe → its top-`nprobe` cells by cosine against the broadcast
    * centroid table, ties to the smaller cell — THE routing definition:
    * every batch IVF entry point ([[ivfAnnWith]], [[ivfPqAnnFrom]],
    * [[ivfPqTrainedFrom]]) consumes it, and the streaming dual
    * ([[graft.streaming.StreamOps.ivfRouteStream]] — per-row array math
    * instead of a window, because streams cannot sort) is spec-pinned
    * equal to it, so the two paths cannot fork (the
    * [[graft.sources.Tables.tsReadPlan]] philosophy applied to routing).
    * Output keeps p_emb/p_nrm/cvec/cnrm/pcos/prn so callers project
    * what they need. */
  private[graft] def probeCells(probes: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame =
    probes
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))
      .crossJoin(broadcast(cent))
      .withColumn("pcos", cosine(col("p_emb"), col("cvec"), col("p_nrm"), col("cnrm")))
      .transform(topPerKey("probe_id", nprobe, "prn")(col("pcos").desc, col("cell")))

  /** IVF over an ARBITRARY centroid table (cell, cvec, cnrm) — the
    * trained-cells entry point: run q77's M-step over the seeded
    * assignment (or any clustering), feed the mean vectors back in, and
    * the cell build + probe routing are unchanged. The nprobe = nlist
    * exact-degeneracy holds for ANY centroid set (cells always
    * partition the corpus) — pinned for trained cells in
    * SimilaritySpec. */
  def ivfAnnWith(emb: DataFrame, probes: DataFrame, cent: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val cand = Curation.assignmentsWith(
        emb.withColumn("nrm", norm(col("embedding"))),
        cent.select(col("cell").as("cluster_id"), col("cvec"), col("cnrm")))
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"), col("cluster_id").as("c_cell"))
    val pcells = probeCells(probes, cent, nprobe)
      .select(col("probe_id"), col("p_emb"), col("p_nrm"), col("cell"))
    probeTopK(cosinePairs(pcells, cand, col("cell") === col("c_cell")), k,
        col("cosine").desc, col("cand_id"))(
      col("probe_id"), col("cell"), longRank,
      col("cand_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** One Lloyd step over the seeded cells: E-step assignment against the
    * first-`nlist` seed centroids ([[graft.operators.Curation.assignmentsWith]]),
    * M-step per-(cell, dim) mean using the repo's decimal-exact-sum rule
    * (floor to 1e-9, DECIMAL(28,9) sum, truncate the mean to 6 dp — q77's
    * arithmetic, so the trained vectors replay bit-identically in any
    * engine), reassembled into a (cell, cvec, cnrm) centroid table.
    * Means re-narrow to float (both engines' IEEE nearest) so the trained
    * table feeds the same codegen'd `vec_dot` kernel as the corpus.
    *
    * Scale shape: the E-step is the broadcast-centroid corpus scan, the
    * M-step is one agg shuffle with nlist×dim final groups regardless of
    * corpus size (map-side partial sums carry it), and the reassembled
    * table is nlist rows — broadcast-sized by construction. */
  def trainedCentroids(emb: DataFrame, nlist: Int): DataFrame = {
    val en = emb.withColumn("nrm", norm(col("embedding")))
    val seed = en.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    Curation.assignmentsWith(en, seed)
      .select(col("cluster_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(count(lit(1)).as("n"), decSum9(col("v").cast("double")).as("s"))
      .withColumn("cm", trunc6(col("s").cast("double") / 1e9 / col("n")))
      .groupBy(col("cluster_id"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, cm)))," +
          " s -> CAST(s.cm AS FLOAT))").as("cvec"))
      .select(col("cluster_id").as("cell"), col("cvec"))
      .withColumn("cnrm", norm(col("cvec")))
  }

  /** q104: IVF over TRAINED cells — [[ivfAnn]]'s exact shape with the
    * seed centroids replaced by one Lloyd refinement
    * ([[trainedCentroids]]), closing the loop VERDICT r10 asked for: the
    * trained path is now a declared, DuckDB-hash-gated query (the
    * deterministic seed → deterministic trained cells), not only a
    * spec pin. Every plan property q102 audited is unchanged — cells
    * always partition the corpus, per-probe work = corpus·nprobe/nlist
    * for ANY centroid set. */
  def ivfTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // staged like a deployment's trained quantizer: the E-step corpus
    // scan runs ONCE at training time; unstaged, the 16-row table's
    // build subtree would embed (and re-scan the corpus) under BOTH of
    // ivfAnnWith's broadcast uses — cell build and probe routing
    val cent = Materialize.stage(trainedCentroids(emb, nlist = 16))
    ivfAnnWith(emb, gridProbes(emb), cent, nprobe = 4, k = 5)
  }

  /** Squared L2 between subspace `s` (dims s·dsub+1 … (s+1)·dsub) of two
    * float vectors — the native `sub_l2` kernel's left-assoc double
    * accumulation, bit-identical to the unrolled
    * `(a₁-b₁)² + (a₂-b₂)² + …` Column chain it replaced (ExpressionSpec
    * pins the equivalence) and to the oracle's identical term chain. */
  private def subL2(a: Column, b: Column, s: Int, dsub: Int): Column =
    call_function("sub_l2", a, b, lit(s * dsub), lit(s * dsub), lit(dsub))

  /** Subspace-dispatched [[subL2]]: the runtime offset `sub·dsub`
    * replaces the former m-branch CASE (one unrolled chain per branch) —
    * same values including the CASE's null-on-out-of-range `sub`, via
    * the kernel's null-on-out-of-window rule. */
  private def pqDist(a: Column, b: Column, sub: Column, m: Int, dsub: Int): Column =
    call_function("sub_l2", a, b,
      (sub * dsub).cast("int"), (sub * dsub).cast("int"), lit(dsub))

  /** The pre-kernel unrolled formulations, kept ONLY as ExpressionSpec's
    * bit-identity references for `sub_l2` (the [[dotComposed]]
    * convention): the deterministic left-assoc term chain the oracle SQL
    * also emits. aOffTerms ≠ 0 with bOff = 0 reproduces [[subL2Seg]];
    * equal offsets reproduce [[subL2]]. */
  private[graft] def subL2Composed(a: Column, b: Column, s: Int, dsub: Int,
      segB: Boolean): Column =
    (0 until dsub).map { i =>
      val d = element_at(a, s * dsub + i + 1).cast("double") -
        element_at(b, (if (segB) 0 else s * dsub) + i + 1).cast("double")
      d * d
    }.reduce(_ + _)

  /** [[subL2Composed]]'s CASE-dispatched form — [[pqDist]]/[[pqDistSeg]]'s
    * bit-identity reference. */
  private[graft] def pqDistComposed(a: Column, b: Column, sub: Column, m: Int,
      dsub: Int, segB: Boolean): Column =
    (1 until m).foldLeft(when(sub === 0, subL2Composed(a, b, 0, dsub, segB))) {
      (acc, s) => acc.when(sub === s, subL2Composed(a, b, s, dsub, segB))
    }

  /** q106: product-quantization ANN (IVF-PQ's compression half) — m=8
    * subspaces of 8 dims, 16 codes per subspace seeded from the first 16
    * vec_ids (the q102 seeding convention), ADC scoring.
    *
    * This is the MEMORY-scale path 100 TB embedding search actually
    * runs: the full-precision corpus is touched exactly once (encode);
    * every query afterwards scans the code table — 8 small ints per
    * vector vs 64 floats, a 32× IO/memory cut — and scores candidates
    * with a per-probe lookup table of m×16 precomputed subspace
    * distances instead of any vector arithmetic. IVF (q102/q104) prunes
    * WHICH vectors a probe scores; PQ shrinks WHAT a scored vector
    * costs; a production index composes both. */
  def pqAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    pqAnnFrom(emb, gridProbes(emb), m = 8, dsub = 8, nCodes = 16, k = 5)
  }

  /** PQ codebook: the first `nCodes` vec_ids as full seed vectors (each
    * subspace reads its own dims — the q102 seeding convention). */
  private[graft] def pqCodebook(emb: DataFrame, nCodes: Int): DataFrame =
    emb.filter(col("vec_id") < nCodes)
      .select(col("vec_id").cast("int").as("code"), col("embedding").as("cvec"))

  /** PQ encode: argmin code per (vector, subspace) — min(struct)
    * partial-aggs map-side (NO window sort over the corpus), ties break
    * to the smaller code via the struct's field order. The output is the
    * compressed corpus representation: m small ints per vector.
    *
    * Shape: ONE row per (vector, codebook entry) carrying all m subspace
    * distances as columns, aggregated by m independent struct-mins in a
    * single groupBy — versus the naive per-subspace explode this divides
    * both the joined row count and the shuffled group count by m.
    * BASELINE.md §"Round-12 additions (q106 PQ / q108 IVF-PQ) at 10×
    * vectors": at sf1 (20k vectors) the q106 path took 10.5 s with the
    * exploded form and 3.49 s with this one. */
  private[graft] def pqCodes(emb: DataFrame, cb: DataFrame, m: Int, dsub: Int): DataFrame = {
    val dCols = (0 until m).map(s =>
      subL2(col("embedding"), col("cvec"), s, dsub).as(s"d$s"))
    val mins = (0 until m).map(s =>
      min(struct(col(s"d$s"), col("code"))).as(s"b$s"))
    emb
      .crossJoin(broadcast(cb))
      .select((col("vec_id") +: col("code") +: dCols): _*)
      .groupBy(col("vec_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("vec_id"),
        posexplode(array((0 until m).map(s => col(s"b$s.code")): _*))
          .as(Seq("sub", "code")))
  }

  /** Per-probe ADC lookup table: the probe's squared L2 to every
    * (subspace, code) codebook entry — probes×m×nCodes rows,
    * broadcast-sized by the fixed-probe-budget contract. */
  private[graft] def pqLut(probes: DataFrame, cb: DataFrame, m: Int, dsub: Int): DataFrame =
    probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        explode(sequence(lit(0), lit(m - 1))).as("l_sub"))
      .crossJoin(broadcast(cb))
      .withColumn("d", pqDist(col("p_emb"), col("cvec"), col("l_sub"), m, dsub))
      .select(col("probe_id"), col("l_sub"), col("code").as("l_code"), col("d"))

  /** [[pqAnn]] over explicit probes. Scale shape: the codebook (m·nCodes
    * full seed vectors) broadcasts to the encode scan — corpus×m explode,
    * per-(vector, subspace) argmin as a partial-aggregated struct-min;
    * ADC is one equality join of the COMPRESSED codes against the
    * broadcast LUT plus an exact regroup on (probe, vector) ([[adcSum]]),
    * so the m subspace terms add identically in any engine and at any
    * parallelism. */
  def pqAnnFrom(emb: DataFrame, probes: DataFrame, m: Int, dsub: Int,
      nCodes: Int, k: Int): DataFrame = {
    val cb = pqCodebook(emb, nCodes)
    val scored = pqCodes(emb, cb, m, dsub)
      .join(broadcast(pqLut(probes, cb, m, dsub)),
        col("sub") === col("l_sub") && col("code") === col("l_code") && notSelf("vec_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(adcSum(col("d")).as("adc"))
    probeTopK(scored, k, col("adc").asc, col("vec_id"))(
      col("probe_id"), longRank,
      col("vec_id").as("cand_id"), round(col("adc"), 6).as("adc"))
  }

  /** A candidate's ADC: Σ of its m subquantizer distances `d` through a
    * 1e9-scaled long accumulator. Exactly m terms per group (structurally
    * bounded, never corpus-global) with |d| < ~1e3 — scale·|group sum|
    * ≪ 2^53, so the long sum and its double cast are exact (the MoneySum
    * headroom rule; ADVICE r21). */
  private def adcSum(d: Column): Column =
    longSum9(d).cast("double") / 1e9

  /** q108: IVF-PQ — the two halves composed exactly as a production
    * vector index runs them (FAISS's IVFPQ architecture, re-expressed as
    * a dataflow): q102's cell routing decides WHICH vectors a probe
    * scores (corpus·nprobe/nlist candidates), q106's ADC decides what
    * each scored candidate COSTS (m code lookups against the compressed
    * table — the full-precision corpus is never touched after encode).
    *
    * Scale shape: centroids and the probe LUT broadcast; the candidate
    * restriction is one equality join on the cell id; the ADC join keys
    * on (probe, subspace, code) against the candidates' code rows; the
    * only corpus-scale shuffles are the encode/assign aggregations and
    * the (probe, vector) regroup — all partial-agg friendly. With
    * nprobe = nlist this degenerates to exactly [[pqAnnFrom]]'s full-ADC
    * ranking (cells partition the corpus) — spec-pinned, the PQ analogue
    * of q102's exact-degeneracy contract. */
  def ivfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfPqAnnFrom(emb, gridProbes(emb), nlist = 16, nprobe = 4,
      m = 8, dsub = 8, nCodes = 16, k = 5)
  }

  /** [[ivfPqAnn]] over explicit probes. */
  def ivfPqAnnFrom(emb: DataFrame, probes: DataFrame, nlist: Int, nprobe: Int,
      m: Int, dsub: Int, nCodes: Int, k: Int): DataFrame = {
    // ADC over candidates only: candidate rows pick up their m code rows,
    // each code row its precomputed probe distance
    val cb = pqCodebook(emb, nCodes)
    val scored = ivfCandidates(emb, probes, nlist, nprobe)
      .join(pqCodes(emb, cb, m, dsub), Seq("vec_id"))
      .join(broadcast(pqLut(probes, cb, m, dsub)
          .withColumnRenamed("probe_id", "l_probe")),
        col("probe_id") === col("l_probe") &&
          col("sub") === col("l_sub") && col("code") === col("l_code"))
      .groupBy(col("probe_id"), col("vec_id"), col("cell"))
      .agg(adcSum(col("d")).as("adc"))
    probeTopK(scored, k, col("adc").asc, col("vec_id"))(
      col("probe_id"), col("cell"), longRank,
      col("vec_id").as("cand_id"), round(col("adc"), 6).as("adc"))
  }

  /** Per-vector residual against its assigned cell — the FAISS IVF-PQ
    * convention: PQ encodes v − centroid(cell(v)), so the codes spend
    * their precision on the within-cell offset instead of re-describing
    * the coarse cell position the IVF half already knows. FLOAT
    * subtraction of FLOAT inputs: the exact difference of two float32s
    * fits a double, so DuckDB's double-subtract-then-narrow and Spark's
    * float `zip_with` round to the SAME float — the residual table
    * replays bit-identically in both engines. */
  private[graft] def residualsWith(emb: DataFrame, cent: DataFrame): DataFrame = {
    val en = emb.withColumn("nrm", norm(col("embedding")))
    Curation.assignmentsWith(en,
        cent.select(col("cell").as("cluster_id"), col("cvec"), col("cnrm")))
      .select(col("vec_id"), col("embedding"), col("cluster_id").as("cell"))
      .join(broadcast(cent.select(col("cell"), col("cvec"))), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("resid"))
  }

  /** Trained per-subspace residual codebook: seeds are the first
    * `nCodes` vectors' residuals (the q102/q106 seeding convention
    * carried into residual space — subspace s of seed c IS the seed
    * sub-codebook, so the E-step is exactly [[pqCodes]] over the
    * residual table), then one Lloyd refinement: M-step per
    * (sub, code, dim) with the repo's decimal-exact rule, re-narrowed to
    * float. Output: (sub, code, scvec) — one trained dsub-dim sub-vector
    * per surviving code; a (sub, code) cluster the E-step left empty is
    * dropped in both engines alike and the encode argmin runs over the
    * survivors.
    *
    * Scale shape: E-step = the broadcast-codebook corpus scan; M-step =
    * one agg shuffle with m·nCodes·dsub final groups regardless of
    * corpus size (map-side partials); the reassembled table is m·nCodes
    * rows — broadcast-sized by construction. */
  private[graft] def trainedSubCodebook(resid: DataFrame, m: Int, dsub: Int,
      nCodes: Int): DataFrame = {
    val rEmb = resid.select(col("vec_id"), col("resid").as("embedding"))
    // Seeds are the first nCodes vec_ids PRESENT in the training table
    // (top-k by id, not an id bound): a sliced training set with id gaps
    // — q127's stale codebook trains on vec_id % 2 = 0, seeding from ids
    // 0,2,…,30 — still yields exactly nCodes seeds by construction
    // (ADVICE r14: the former `seedCap` id bound silently under-seeded
    // when mis-sized, degrading recall with no signal). The top-k is a
    // TakeOrderedAndProject over nCodes rows — per-partition heaps, no
    // full sort — and on contiguous-id corpora it selects the identical
    // id set the oracle SQL's `vec_id < bound` predicates describe.
    val seedCb = rEmb.orderBy(col("vec_id")).limit(nCodes)
      .select(col("vec_id").cast("int").as("code"), col("embedding").as("cvec"))
    pqCodes(rEmb, seedCb, m, dsub)
      .join(rEmb, Seq("vec_id"))
      .select(col("sub"), col("code"),
        posexplode(slice(col("embedding"), col("sub") * dsub + 1, lit(dsub)))
          .as(Seq("i", "v")))
      .groupBy(col("sub"), col("code"), col("i"))
      .agg(count(lit(1)).as("n"), decSum9(col("v").cast("double")).as("s"))
      .withColumn("cm", trunc6(col("s").cast("double") / 1e9 / col("n")))
      .groupBy(col("sub"), col("code"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(i, cm)))," +
          " x -> CAST(x.cm AS FLOAT))").as("scvec"))
  }

  /** [[subL2]] against a dsub-dim SUB-codebook entry (`b` holds only its
    * own subspace's dims, so its window starts at 0) — same kernel, same
    * left-assoc accumulation. */
  private def subL2Seg(a: Column, b: Column, s: Int, dsub: Int): Column =
    call_function("sub_l2", a, b, lit(s * dsub), lit(0), lit(dsub))

  /** Subspace-dispatched [[subL2Seg]] — [[pqDist]]'s trained-codebook
    * counterpart (runtime `sub·dsub` window on `a`, window 0 on `b`). */
  private def pqDistSeg(a: Column, b: Column, sub: Column, m: Int, dsub: Int): Column =
    call_function("sub_l2", a, b, (sub * dsub).cast("int"), lit(0), lit(dsub))

  /** Encode against a per-subspace codebook (sub, code, scvec): argmin
    * code per (vector, subspace), partial-agg struct-min like
    * [[pqCodes]] — and since r13 in [[pqCodes]]'s GROUPED row shape:
    * the per-subspace table is pivoted to one broadcast row per code
    * index carrying all m subspace entries (`svs`, sub-ordered), so the
    * join fans out to corpus × nCodes rows each computing m dsub-term
    * distances instead of corpus × m·nCodes rows of one distance — the
    * same flops through m× fewer joined rows and one aggregation
    * instead of m (the exact restructure that took q106's encode
    * 5.4× → 2.1× at 10× vectors in r12; codes are value-identical, so
    * the q112 oracle binds unchanged). */
  private[graft] def pqCodesSeg(resid: DataFrame, tcb: DataFrame,
      m: Int, dsub: Int): DataFrame = {
    // keyed by SUBSPACE, not position: a (sub, code) cluster the E-step
    // left empty is dropped from tcb (the trained-codebook contract), so
    // a positional pivot would silently shift every later subspace. The
    // map lookup returns null for the missing entry and the null-safe
    // +∞ sentinel removes that code from that subspace's argmin — the
    // grouped layout reproducing exactly the per-(sub, code)-row
    // formulation's survivor semantics (spec-pinned on a collided-seed
    // corpus). Precondition (ADVICE r13): each subspace must keep ≥ 1
    // surviving code — guaranteed for any NONEMPTY training table,
    // because every training vector assigns some code in every subspace
    // and that (sub, code) cluster is then nonempty. If a whole subspace
    // were ever codeless, every code's sentinel distance would tie and
    // the struct-min would emit the lowest code where the per-row
    // formulation emitted no row.
    val wide = tcb.groupBy(col("code"))
      .agg(map_from_entries(collect_list(struct(col("sub"), col("scvec"))))
        .as("svm"))
    val dCols = (0 until m).map(s =>
      coalesce(subL2Seg(col("resid"), element_at(col("svm"), lit(s)), s, dsub),
        lit(Double.MaxValue)).as(s"d$s"))
    val mins = (0 until m).map(s =>
      min(struct(col(s"d$s"), col("code"))).as(s"b$s"))
    resid.select(col("vec_id"), col("resid"))
      .crossJoin(broadcast(wide))
      .select((col("vec_id") +: col("code") +: dCols): _*)
      .groupBy(col("vec_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("vec_id"),
        posexplode(array((0 until m).map(s => col(s"b$s.code")): _*))
          .as(Seq("sub", "code")))
  }

  /** q112: FULLY-trained IVF-PQ — q108's architecture with BOTH halves
    * trained, closing the FAISS-parity loop (VERDICT r12 stretch): the
    * coarse quantizer is q104's one-Lloyd-step centroid table, and the
    * PQ codebook is one Lloyd step over per-subspace RESIDUALS
    * ([[trainedSubCodebook]]) — vectors encode their offset from their
    * trained cell, the way FAISS's IndexIVFPQ trains by default. ADC
    * lookup tables are built per (probe, probed cell), because the
    * probe's residual is cell-specific.
    *
    * Scale shape: q108's exactly — centroids, codebook, and LUT
    * broadcast (LUT grows nprobe× vs q108: probes × nprobe × m × nCodes
    * rows — still probe-budget-sized); the corpus-scale passes are the
    * train/assign/encode aggregations, all map-side-partial friendly;
    * the scored regroup keys on (probe, vector). The training scans run
    * ONCE behind stage barriers, as a deployment's scheduled train job
    * would. */
  def ivfPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfPqTrainedFrom(emb, gridProbes(emb), nlist = 16, nprobe = 4,
      m = 8, dsub = 8, nCodes = 16, k = 5)
  }

  /** [[ivfPqTrained]] over explicit probes. */
  def ivfPqTrainedFrom(emb: DataFrame, probes: DataFrame, nlist: Int,
      nprobe: Int, m: Int, dsub: Int, nCodes: Int, k: Int): DataFrame = {
    // staged like a deployment's trained index artifacts: quantizer
    // (nlist rows), residual table (corpus-sized — the encode input and
    // inverted-list cell map), trained codebook (m·nCodes rows). Each is
    // consumed by 2+ downstream subtrees; unstaged, every use would
    // re-run its corpus scan.
    val cent = Materialize.stage(trainedCentroids(emb, nlist))
    val resid = Materialize.stage(residualsWith(emb, cent))
    val tcb = Materialize.stage(trainedSubCodebook(resid, m, dsub, nCodes))
    ivfPqScoreWith(probes, cent, resid, tcb, m, dsub, nprobe, k)
  }

  /** The residual-PQ IVF scoring engine over EXPLICIT index artifacts —
    * (cell, cvec, cnrm) quantizer, (vec_id, cell, resid) residual table,
    * (sub, code, scvec) codebook. [[ivfPqTrainedFrom]] trains and feeds
    * its own artifacts; q127's drift audit feeds the SAME engine two
    * different codebooks over shared cells/residuals, so the audited
    * ranking is exactly the deployed one. */
  private[graft] def ivfPqScoreWith(probes: DataFrame, cent: DataFrame,
      resid: DataFrame, tcb: DataFrame, m: Int, dsub: Int, nprobe: Int,
      k: Int): DataFrame = {
    val pcells = pqProbeRouting(probes, cent, nprobe)
    ivfPqScoreRouted(pcells, pqCellCandidates(pcells, resid), resid, tcb, m, dsub, k)
  }

  /** Probe → top-nprobe cells, carrying the CELL-SPECIFIC probe residual
    * for the ADC tables — the codebook-INDEPENDENT half of the IVF-PQ
    * score, split out (with [[pqCellCandidates]]) so q127's drift audit
    * stages it once across both codebook chains (VERDICT r14 #1a)
    * instead of re-running the routing window per chain. */
  private[graft] def pqProbeRouting(probes: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame =
    probeCells(probes, cent, nprobe)
      .select(col("probe_id"), col("cell"),
        zip_with(col("p_emb"), col("cvec"), (a, b) => a - b).as("p_resid"))

  /** The (probe_id, vec_id, cell) candidate set from a probe routing —
    * also codebook-independent; only the ADC LUT differs per codebook. */
  private[graft] def pqCellCandidates(pcells: DataFrame, resid: DataFrame): DataFrame =
    resid.select(col("vec_id"), col("cell"))
      .join(broadcast(pcells.select(col("probe_id"), col("cell"))), Seq("cell"))
      .filter(notSelf("vec_id"))

  /** The codebook-DEPENDENT half of [[ivfPqScoreWith]]: encode against
    * `tcb`, build the per-(probe, cell) ADC LUT, score the routed
    * candidates. `pcells`/`cand` come from [[pqProbeRouting]] /
    * [[pqCellCandidates]] (staged by callers reusing them). */
  private[graft] def ivfPqScoreRouted(pcells: DataFrame, cand: DataFrame,
      resid: DataFrame, tcb: DataFrame, m: Int, dsub: Int, k: Int): DataFrame = {
    val codes = pqCodesSeg(resid, tcb, m, dsub)
    val lut = pcells
      .crossJoin(broadcast(tcb))
      .withColumn("d", pqDistSeg(col("p_resid"), col("scvec"), col("sub"), m, dsub))
      .select(col("probe_id").as("l_probe"), col("cell").as("l_cell"),
        col("sub").as("l_sub"), col("code").as("l_code"), col("d"))
    val scored = cand
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut),
        col("probe_id") === col("l_probe") && col("cell") === col("l_cell") &&
          col("sub") === col("l_sub") && col("code") === col("l_code"))
      .groupBy(col("probe_id"), col("vec_id"), col("cell"))
      .agg(adcSum(col("d")).as("adc"))
    probeTopK(scored, k, col("adc").asc, col("vec_id"))(
      col("probe_id"), col("cell"), longRank,
      col("vec_id").as("cand_id"), round(col("adc"), 6).as("adc"))
  }

  /** BOTH codebooks' [[ivfPqScoreRouted]] rankings in ONE pass — q127's
    * fused engine. A score chain's corpus/candidate-scale stages are the
    * encode scan, the candidate regroup, and the ranking window; the
    * drift audit's two chains differ ONLY in broadcast-sized artifacts
    * (the per-code sub-vectors and the ADC LUT), so running them
    * separately scans the corpus twice to produce rows the audit
    * immediately re-aligns by (probe, vec). Here one scan computes both
    * codebooks' argmin codes (2m struct-mins in the one groupBy), one
    * candidate regroup sums both ADCs, and one window partition carries
    * both rank orders. Value-identical to two [[ivfPqScoreRouted]] runs
    * by construction — each codebook's distances, decimal sums, and
    * (adc, vec_id) tie-breaks never see the other codebook's columns —
    * and spec-pinned row-for-row against the unfused engine
    * (SimilaritySpec) so the fusion can never drift from the engine it
    * audits.
    *
    * The full-outer code join keeps a code surviving in only one
    * codebook: `element_at` on the missing side's null map → null → the
    * +∞ sentinel, exactly [[pqCodesSeg]]'s dropped-survivor semantics.
    *
    * Output: one row per scored candidate — (probe_id, vec_id, rank_a,
    * rank_b); consumers filter rank ≤ k per side. */
  private[graft] def ivfPqScoreRoutedPair(pcells: DataFrame, cand: DataFrame,
      resid: DataFrame, tcbA: DataFrame, tcbB: DataFrame,
      m: Int, dsub: Int): DataFrame = {
    def wideOf(tcb: DataFrame, as: String) = tcb.groupBy(col("code"))
      .agg(map_from_entries(collect_list(struct(col("sub"), col("scvec"))))
        .as(as))
    val wide2 = wideOf(tcbA, "svma").join(wideOf(tcbB, "svmb"),
      Seq("code"), "full_outer")
    def dCols(svm: String, p: String) = (0 until m).map(s =>
      coalesce(subL2Seg(col("resid"), element_at(col(svm), lit(s)), s, dsub),
        lit(Double.MaxValue)).as(s"$p$s"))
    def minsOf(p: String) = (0 until m).map(s =>
      min(struct(col(s"$p$s"), col("code"))).as(s"b$p$s"))
    val ms = minsOf("da") ++ minsOf("db")
    val codes2 = resid.select(col("vec_id"), col("resid"))
      .crossJoin(broadcast(wide2))
      .select((col("vec_id") +: col("code") +:
        (dCols("svma", "da") ++ dCols("svmb", "db"))): _*)
      .groupBy(col("vec_id"))
      .agg(ms.head, ms.tail: _*)
      .select(col("vec_id"),
        posexplode(array((0 until m).map(s =>
          struct(col(s"bda$s.code").as("ca"), col(s"bdb$s.code").as("cb"))): _*))
          .as(Seq("sub", "c")))
      .select(col("vec_id"), col("sub"),
        col("c.ca").as("code_a"), col("c.cb").as("code_b"))
    def lutOf(tcb: DataFrame, p: String) = pcells
      .crossJoin(broadcast(tcb))
      .withColumn(s"ld$p",
        pqDistSeg(col("p_resid"), col("scvec"), col("sub"), m, dsub))
      .select(col("probe_id").as(s"${p}_probe"), col("cell").as(s"${p}_cell"),
        col("sub").as(s"${p}_sub"), col("code").as(s"${p}_code"), col(s"ld$p"))
    val scored = cand
      .join(codes2, Seq("vec_id"))
      .join(broadcast(lutOf(tcbA, "a")),
        col("probe_id") === col("a_probe") && col("cell") === col("a_cell") &&
          col("sub") === col("a_sub") && col("code_a") === col("a_code"))
      .join(broadcast(lutOf(tcbB, "b")),
        col("probe_id") === col("b_probe") && col("cell") === col("b_cell") &&
          col("sub") === col("b_sub") && col("code_b") === col("b_code"))
      .groupBy(col("probe_id"), col("vec_id"), col("cell"))
      .agg(adcSum(col("lda")).as("adc_a"), adcSum(col("ldb")).as("adc_b"))
    val wa = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_a").asc, col("vec_id"))
    val wb = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_b").asc, col("vec_id"))
    scored
      .withColumn("rank_a", row_number().over(wa))
      .withColumn("rank_b", row_number().over(wb))
      .select(col("probe_id"), col("vec_id"), col("rank_a"), col("rank_b"))
  }

  /** q115: IVF-PQ with exact re-rank (FAISS's IndexRefineFlat pattern) —
    * the compressed index produces an ADC shortlist (kShort per probe),
    * then ONLY that sliver touches full-precision vectors for an exact
    * cosine re-rank to the final k. This is how a production index buys
    * back quantization loss without re-reading the corpus: at 100 TB the
    * full-precision table is consulted for probes×kShort rows (a
    * broadcast-join point lookup), never scanned.
    *
    * Scale shape: the shortlist (probes×kShort rows of (probe, cand)
    * ids) broadcasts into one equality join against the corpus — the
    * refine stage adds zero shuffles on top of [[ivfPqAnnFrom]]; probe
    * vectors ride a second broadcast. */
  def pqRefine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    pqRefineFrom(emb, gridProbes(emb), nlist = 16, nprobe = 4,
      m = 8, dsub = 8, nCodes = 16, kShort = 20, k = 5)
  }

  /** [[pqRefine]] over explicit probes. */
  def pqRefineFrom(emb: DataFrame, probes: DataFrame, nlist: Int, nprobe: Int,
      m: Int, dsub: Int, nCodes: Int, kShort: Int, k: Int): DataFrame = {
    val short = ivfPqAnnFrom(emb, probes, nlist, nprobe, m, dsub, nCodes, kShort)
      .select(col("probe_id"), col("cand_id"))
    val cand = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_nrm"))
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("p_emb"), norm(col("embedding")).as("p_nrm"))
    val pairs = broadcast(short)
      .join(cand, Seq("cand_id"))
      .join(broadcast(p), Seq("probe_id"))
      .withColumn("cosine", cosine(col("p_emb"), col("c_emb"), col("p_nrm"), col("c_nrm")))
    probeTopK(pairs, k, col("cosine").desc, col("cand_id"))(
      col("probe_id"), longRank, col("cand_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** q127: PQ codebook drift audit (VERDICT r13 #4) — the
    * retrain-scheduling signal a 100 TB vector deployment actually
    * needs: q112 trains its codebook ONCE, so as the corpus distribution
    * shifts, when has the codebook gone stale enough to retrain? The
    * audit composes q109's recall machinery with a STALE-vs-RETRAINED
    * codebook pair over one shared index: the coarse quantizer and
    * residual table are fixed (q108's seeded cells — the audit isolates
    * the PQ half), the stale codebook trains on the `vec_id % 2 = 0`
    * half (yesterday's corpus), the fresh one on the full corpus, and
    * BOTH rankings come from [[ivfPqScoreRoutedPair]] — the fused
    * formulation of the deployed [[ivfPqScoreWith]] engine, spec-pinned
    * row-identical to running it twice, so the audited ranking is
    * exactly the deployed one at half the corpus-scan cost. Output per
    * probe: exact-top-5 hits under each codebook and the drift
    * (fresh − stale recall) — aggregate drift above a threshold is the
    * "schedule a retrain" trigger.
    *
    * Scale shape: q112's exactly — two extra training scans (the stale
    * E/M-step over half the residual table) and a second broadcast
    * codebook; the shared encode/regroup/window pass costs one chain,
    * not two; the audit join inputs are |probes|·k rows per side.
    *
    * The artifacts that EXIST BEFORE the audit runs — the probe panel,
    * the deployed quantizer, the residual table, and the stale (deployed)
    * codebook — are standing ([[Materialize.shared]]); the audit's own
    * work (fresh retrain, exact ground truth, both score chains) stays
    * per-query. */
  def pqDriftAudit(spark: SparkSession, dir: String): DataFrame = {
    val (nlist, nprobe, m, dsub, nCodes) = (16, 4, 8, 8, 16)
    val emb = Tables.embeddings(spark, dir)
    // probes (4 consumers: exact ground truth, the output spine, both
    // score chains) and the quantizer (3) are staged like the other
    // index artifacts — unstaged, each use re-runs its corpus filter
    // scan (review finding r14)
    val probes = Materialize.shared("pqDriftProbes", emb)(gridProbes(emb))
    val cent = Materialize.shared("pqDriftCells", emb)(
      seedCells(emb.withColumn("nrm", norm(col("embedding"))), nlist))
    val resid = Materialize.shared("pqDriftResiduals", emb, cent)(residualsWith(emb, cent))
    val tcbFresh = Materialize.stage(trainedSubCodebook(resid, m, dsub, nCodes))
    // the stale codebook's training set is the even-id half playing
    // "yesterday's corpus"; trainedSubCodebook seeds from the first
    // nCodes ids PRESENT in the slice (0,2,…,2·nCodes−2 here)
    val tcbStale = Materialize.shared("pqDriftStaleCodebook", resid)(trainedSubCodebook(
      resid.filter(col("vec_id") % 2 === 0), m, dsub, nCodes))
    val exact5 = Materialize.stage(cosineTopKFrom(emb, probes, k = 5)
      .select(col("probe_id"), col("cand_id")))
    // the probe→cell routing and routed candidate set are codebook-
    // INDEPENDENT — staged once and shared by both chains (only the ADC
    // LUT and encode differ per codebook), VERDICT r14 #1a
    val pcells = Materialize.stage(pqProbeRouting(probes, cent, nprobe))
    val cand = Materialize.stage(pqCellCandidates(pcells, resid))
    // ... and the two chains themselves run FUSED: one encode scan, one
    // candidate regroup, one window pass carrying both codebooks' ranks
    // (spec-pinned value-identical to two ivfPqScoreRouted runs). Staged
    // because both hit counts filter the same ranked table.
    val ranked = Materialize.stage(ivfPqScoreRoutedPair(pcells, cand,
      resid, tcbFresh, tcbStale, m, dsub))
    def hitsWith(rankCol: String, as: String): DataFrame =
      exact5.join(
          ranked.filter(col(rankCol) <= 5)
            .select(col("probe_id"), col("vec_id").as("cand_id")),
          Seq("probe_id", "cand_id"))
        .groupBy(col("probe_id")).agg(count(lit(1)).as(as))
    probes.select(col("vec_id").as("probe_id")).distinct()
      .join(hitsWith("rank_a", "nf"), Seq("probe_id"), "left")
      .join(hitsWith("rank_b", "ns"), Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("nf"), lit(0L)).as("n_hits_fresh"),
        coalesce(col("ns"), lit(0L)).as("n_hits_stale"),
        (coalesce(col("nf"), lit(0L)) / lit(5.0)).as("recall_fresh"),
        (coalesce(col("ns"), lit(0L)) / lit(5.0)).as("recall_stale"),
        ((coalesce(col("nf"), lit(0L)) - coalesce(col("ns"), lit(0L))) / lit(5.0))
          .as("drift"))
      .orderBy(col("probe_id"))
  }

  /** q118: hard-negative mining for contrastive training — for each probe,
    * the top-k most-similar vectors carrying a DIFFERENT label. The
    * highest-cosine wrong-label neighbors are exactly the negatives a
    * contrastive objective learns most from (the standard dense-retriever
    * training-data op). Same scale shape as [[cosineTopKFrom]]: bounded
    * probe set broadcast against one corpus scan; the label inequality
    * rides the join condition so same-label rows never materialize. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = gridProbes(emb)
    val cand = emb.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_nrm"))
    val p = probes.select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
      col("embedding").as("p_emb"), norm(col("embedding")).as("p_nrm"))
    // the label inequality already excludes the self-pair
    val pairs = broadcast(p)
      .join(cand, col("probe_label") =!= col("cand_label"))
      .withColumn("cosine", cosine(col("p_emb"), col("c_emb"), col("p_nrm"), col("c_nrm")))
    probeTopK(pairs, 5, col("cosine").desc, col("cand_id"))(
      col("probe_id"), col("probe_label"), longRank,
      col("cand_id"), col("cand_label"), round(col("cosine"), 6).as("cosine"))
  }

  /** q120: scalar-quantization ANN (FAISS IndexScalarQuantizer, SQ8) —
    * the third compression geometry next to PQ (q106) and IVF-PQ
    * (q108/q112): each dimension is quantized INDEPENDENTLY to 8 bits
    * against its corpus [min, max] range, so a vector costs 64 bytes
    * instead of 256 — 4× memory cut with far better fidelity than PQ's
    * 32× — and scoring reconstructs v̂_i = min_i + (code_i+0.5)·Δ_i/256
    * and ranks by asymmetric L2 against the full-precision probe.
    *
    * Scale shape: the range table is ONE row (64 mins + 64 maxes, a
    * single corpus agg) broadcast to both encode and score; encode is
    * one map-only corpus pass; scoring is the bounded probe set
    * broadcast against one scan of the 4×-smaller code table. Degeneracy
    * contract: quantize∘reconstruct error is bounded by Δ_i/256 per
    * dimension, so top-1 agreement with exact search is high — measured
    * as a property, not assumed (spec pins the recall floor). */
  def sq8Ann(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    sq8AnnFrom(emb, gridProbes(emb), k = 5)
  }

  /** Per-dimension corpus range as ONE row of two 64-float arrays
    * (`mns`, `mxs` — floats, exact in both engines): the SQ8 "trained"
    * quantizer, in the shape the `sq8_codes`/`sq8_l2` kernels consume.
    * One native `vec_range` aggregate — the former 128 independent
    * min/max aggregates pushed the generated `doAggregateWithoutKey`
    * past Janino's 64KB method limit, silently dropping every
    * q120/q122/stream-index run to interpreted evaluation
    * ([[graft.functions.expressions.VecRangeAgg]]). */
  private[graft] def sq8Rng(emb: DataFrame): DataFrame =
    emb.agg(call_function("vec_range", col("embedding"), lit(64)).as("r"))
      .select(col("r.mns").as("mns"), col("r.mxs").as("mxs"))

  /** The SQ8 code vector — code_i = floor((v_i − mn_i)/Δ_i · 255),
    * Δ_i = mx_i − mn_i (degenerate Δ_i = 0 → code 0); the native
    * `sq8_codes` kernel, bit-identical to the unrolled per-dimension
    * chain it replaced ([[sq8CodeColsComposed]], ExpressionSpec-pinned)
    * and to the oracle, so codes are integer-identical. Shared node:
    * the batch encode ([[sq8Codes]]) and the streaming scorer
    * ([[graft.streaming.StreamOps.sq8ScoreStream]]) both apply exactly
    * this expression, so the two paths cannot drift. Requires
    * `embedding` + the range row's `mns`/`mxs` arrays in scope. */
  private[graft] def sq8Code: Column =
    call_function("sq8_codes", col("embedding"), col("mns"), col("mxs"))

  /** SQ8 encode: one map-only corpus pass against the broadcast range
    * row, emitting (cand_id, codes) — 64 small ints per vector, the 4×
    * storage cut; the range arrays stay OUT of the code table (they
    * re-broadcast at score time) so the compression survives. */
  private[graft] def sq8Codes(emb: DataFrame, rng: DataFrame): DataFrame =
    emb.crossJoin(broadcast(rng))
      .select(col("vec_id").as("cand_id"), sq8Code.as("codes"))

  /** Asymmetric SQ8 distance: full-precision probe (`p_emb`) vs the
    * reconstruction v̂_i = mn_i + (c_i+0.5)·Δ_i/256 — the native
    * `sq8_l2` kernel's left-assoc double accumulation, bit-identical to
    * the unrolled 64-term chain it replaced ([[sq8DistComposed]]) and
    * to the oracle. Shared with the streaming scorer like [[sq8Code]].
    * Requires `p_emb`, `codes`, and the range arrays in scope. */
  private[graft] def sq8Dist: Column =
    call_function("sq8_l2", col("p_emb"), col("codes"), col("mns"), col("mxs"))

  /** The pre-kernel unrolled formulations, kept ONLY as ExpressionSpec's
    * bit-identity references for `sq8_codes`/`sq8_l2` (the
    * [[subL2Composed]] convention): the deterministic per-dimension
    * CASE/floor chain and left-assoc reconstruction term chain the
    * oracle SQL also emits. Read mn/mx from the packed range arrays so
    * reference and kernel run against the same inputs. */
  private[graft] def sq8CodeColsComposed: Column = {
    def mn(i: Int) = element_at(col("mns"), i + 1).cast("double")
    def delta(i: Int) = element_at(col("mxs"), i + 1).cast("double") - mn(i)
    array((0 until 64).map { i =>
      val v = element_at(col("embedding"), i + 1).cast("double")
      when(delta(i) === 0.0, lit(0L))
        .otherwise(floor((v - mn(i)) / delta(i) * 255.0).cast("long"))
    }: _*)
  }

  /** [[sq8Dist]]'s unrolled reference (expects `codes` in scope). */
  private[graft] def sq8DistComposed: Column = {
    def mn(i: Int) = element_at(col("mns"), i + 1).cast("double")
    def delta(i: Int) = element_at(col("mxs"), i + 1).cast("double") - mn(i)
    (0 until 64).map { i =>
      val rec = mn(i) + (element_at(col("codes"), i + 1) + 0.5) * delta(i) / 256.0
      val d = element_at(col("p_emb"), i + 1).cast("double") - rec
      d * d
    }.reduce(_ + _)
  }

  /** [[sq8Ann]] over explicit probes. */
  def sq8AnnFrom(emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val rng = sq8Rng(emb)
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val pairs = sq8Codes(emb, rng)
      .join(broadcast(p), notSelf("cand_id"))
      .crossJoin(broadcast(rng))
      .withColumn("sqdist", sq8Dist)
    probeTopK(pairs, k, col("sqdist").asc, col("cand_id"))(
      col("probe_id"), longRank, col("cand_id"), round(col("sqdist"), 6).as("sqdist"))
  }

  /** q122: IVF-SQ8 (FAISS IndexIVFScalarQuantizer) — q102's cell routing
    * composed with q120's scalar-quantized storage: the coarse quantizer
    * decides WHICH vectors a probe scores (corpus·nprobe/nlist), the SQ8
    * codes decide what each costs (64 bytes + a reconstruction, no
    * full-precision read). Completes the FAISS composed-index family
    * next to IVF-PQ (q108/q112) and refine (q115).
    *
    * Scale shape: centroids, probe cells, and the one-row range table
    * broadcast; the candidate restriction is one equality join on the
    * cell id against the code table; the only corpus-scale work is the
    * assignment window and the encode pass. nprobe = nlist degenerates
    * to exactly [[sq8AnnFrom]]'s full ranking (cells partition the
    * corpus) — spec-pinned, the SQ analogue of q108's contract. */
  def ivfSq8Ann(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfSq8AnnFrom(emb, gridProbes(emb), nlist = 16, nprobe = 4, k = 5)
  }

  /** [[ivfSq8Ann]] over explicit probes. */
  def ivfSq8AnnFrom(emb: DataFrame, probes: DataFrame, nlist: Int,
      nprobe: Int, k: Int): DataFrame = {
    val rng = sq8Rng(emb)
    val p = probes.select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    val pairs = ivfCandidates(emb, probes, nlist, nprobe)
      .join(sq8Codes(emb, rng), col("vec_id") === col("cand_id"))
      .join(broadcast(p), col("probe_id") === col("p_id"))
      .crossJoin(broadcast(rng))
      .withColumn("sqdist", sq8Dist)
    probeTopK(pairs, k, col("sqdist").asc, col("cand_id"))(
      col("probe_id"), col("cell"), longRank,
      col("cand_id"), round(col("sqdist"), 6).as("sqdist"))
  }

  /** q124: contrastive triplet mining — for each anchor, the hardest
    * POSITIVE (highest-cosine same-label neighbor) and the hardest
    * NEGATIVE (highest-cosine different-label neighbor, q118's top-1)
    * plus their margin: the (anchor, positive, negative) manifest a
    * triplet/InfoNCE training run consumes, with margin ≤ 0 marking the
    * pairs the current embedding gets wrong — the examples such a run
    * learns most from. Anchors whose label has no second member carry no
    * positive and are dropped (inner-join semantics, oracle-mirrored).
    *
    * Scale shape: ONE probe-broadcast corpus scan feeds both per-class
    * argmax windows; everything downstream is probe-budget-sized. */
  def tripletMining(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = gridProbes(emb)
    val cand = emb.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_nrm"))
    val p = probes.select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
      col("embedding").as("p_emb"), norm(col("embedding")).as("p_nrm"))
    val pairs = cosinePairs(p, cand)
    def top1(side: DataFrame, idAs: String, cosAs: String): DataFrame =
      side.transform(topPerKey("probe_id", 1, "rn")(col("cosine").desc, col("cand_id")))
        .select(col("probe_id"), col("cand_id").as(idAs), col("cosine").as(cosAs))
    val pos = top1(pairs.filter(col("probe_label") === col("cand_label")),
      "pos_id", "pos_raw")
    val neg = top1(pairs.filter(col("probe_label") =!= col("cand_label")),
      "neg_id", "neg_raw")
    pos.join(neg, Seq("probe_id"))
      .join(broadcast(p.select(col("probe_id"), col("probe_label"))), Seq("probe_id"))
      .select(col("probe_id").as("anchor_id"), col("probe_label"),
        col("pos_id"), round(col("pos_raw"), 6).as("pos_cos"),
        col("neg_id"), round(col("neg_raw"), 6).as("neg_cos"),
        round(col("pos_raw") - col("neg_raw"), 6).as("margin"))
      .orderBy(col("anchor_id"))
  }

  /** Per-label embedding statistics — vector aggregation sanity surface.
    * Averages use the repo's decimal-exact-sum rule (floor to 1e-9,
    * DECIMAL sum, truncate to 6 dp): a plain `avg` over irrational
    * norms is accumulation-order-dependent and can round differently in
    * each engine when a group mean lands on a 1e-6 boundary. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("c0", element_at(col("embedding"), 1).cast("double"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        decSum9(col("nrm")).as("nrm_s"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"),
        decSum9(col("c0")).as("c0_s"))
      .select(col("label"), col("n_vectors"),
        trunc6(col("nrm_s").cast("double") / 1e9 / col("n_vectors")).as("avg_norm"),
        col("min_norm"), col("max_norm"),
        trunc6(col("c0_s").cast("double") / 1e9 / col("n_vectors")).as("avg_c0"))
      .orderBy(col("label"))

  /** q147: label-centroid similarity matrix — the cosine between every
    * pair of per-label mean vectors. This is the class-confusability /
    * source-redundancy audit an embedding-based router or SemDeDup pass
    * reads first: two labels whose centroids sit at cosine ≈ 1 will
    * never be separated by centroid routing, and their corpora are
    * candidates for merging. Per-dim means use the decimal-exact-sum
    * rule, then floor to INTEGER micro-units (1e-6) so the pairwise
    * dot/norm sums are exact LONG arithmetic — order-independent across
    * engines by construction, no float summation anywhere.
    *
    * Scale shape: one posexplode scan → (label, dim) partials; the
    * pairwise stage joins two (labels × 64)-row tables — label-count
    * sized, never corpus-sized. */
  def labelCentroidSim(spark: SparkSession, dir: String): DataFrame =
    labelCentroidSimFrom(Tables.embeddings(spark, dir))

  /** [[labelCentroidSim]] over any (label, embedding) frame. */
  private[graft] def labelCentroidSimFrom(emb: DataFrame): DataFrame = {
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), decSum9(col("v").cast("double")).as("s"))
      .select(col("label"), col("dim"),
        floor(col("s").cast("double") / 1e9 / col("n") * 1e6)
          .cast("long").as("mi"))
    val a = cent.select(col("label").as("l1"), col("dim"), col("mi").as("m1"))
    val b = cent.select(col("label").as("l2"), col("dim"), col("mi").as("m2"))
    a.join(b, Seq("dim"))
      .filter(col("l1") < col("l2"))
      .groupBy(col("l1"), col("l2"))
      .agg(
        sum(col("m1") * col("m2")).as("dot"),
        sum(col("m1") * col("m1")).as("n1"),
        sum(col("m2") * col("m2")).as("n2"))
      .select(col("l1").cast("long").as("l1"), col("l2").cast("long").as("l2"),
        round(col("dot") / (sqrt(col("n1")) * sqrt(col("n2"))), 6).as("cosine"))
      .orderBy(col("l1"), col("l2"))
  }

  /** q148: ANN ranking-quality audit — q88's recall philosophy extended
    * to ORDER: per probe, the sign-bucketed ANN's top-10 scored against
    * the exact cosine top-10 as the relevant set, reporting hits,
    * recall@10, MRR (reciprocal rank of the first relevant result) and
    * nDCG@10. Recall alone hides rank inversions that matter when the
    * consumer truncates further downstream; MRR/nDCG are the standard
    * ranking metrics shipped as a query, re-measured whenever the
    * embedding model or corpus mix changes. DCG gains are the fixed
    * 1/log2(rank+1) table floored to integer 1e-9 units (q75's
    * ln-flooring precedent), so every per-probe sum is exact LONG
    * arithmetic.
    *
    * Scale shape: composes the two existing plans; the audit join input
    * is |probes|·k rows, never the corpus (q88's contract, capped probe
    * grid declared / fixed budget via the `From`). */
  def rankQuality(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    rankQualityFrom(emb, gridProbes(emb))
  }

  /** [[rankQuality]] over an explicit probe set. */
  def rankQualityFrom(emb: DataFrame, probes: DataFrame): DataFrame = {
    val exact = cosineTopKFrom(emb, probes, k = 10)
      .select(col("probe_id"), col("cand_id"))
    val ann = annBucketedFrom(emb, probes, k = 10)
      .select(col("probe_id"), col("rank"), col("cand_id"))
    // integer 1e-9 DCG weight of a hit at `rank`
    def w9(rank: Column): Column =
      floor(lit(1e9) / (log(rank + 1.0) / log(lit(2.0)))).cast("long")
    val hits = ann.join(exact, Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("rank")).as("first_rank"),
        sum(w9(col("rank"))).as("dcg9"))
    // ideal DCG = the same weights packed at ranks 1..n_hits
    val wt = broadcast(probes.sparkSession.range(1, 11).toDF("i")
      .select(col("i"), w9(col("i")).as("iw9")))
    val scored = hits.join(wt, col("i") <= col("n_hits"))
      .groupBy(col("probe_id"), col("n_hits"), col("first_rank"), col("dcg9"))
      .agg(sum(col("iw9")).as("idcg9"))
    probes.select(col("vec_id").as("probe_id")).distinct()
      .join(scored, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        trunc6(coalesce(col("n_hits"), lit(0L)) * 1.0 / 10).as("recall_at_10"),
        coalesce(trunc6(lit(1.0) / col("first_rank")), lit(0.0)).as("mrr"),
        coalesce(trunc6(col("dcg9") * 1.0 / col("idcg9")), lit(0.0)).as("ndcg"))
      .orderBy(col("probe_id"))
  }

  /** q140: per-DIMENSION embedding health audit — mean, variance and
    * value envelope of every coordinate across the corpus. This is the
    * collapsed-dimension / anisotropy check an embedding pipeline runs
    * before trusting cosine geometry: a dimension whose variance ≈ 0
    * carries no signal (dead unit), one whose |mean| dwarfs its spread
    * drags every cosine toward a common hub direction. Sums follow the
    * repo's decimal-exact rule (floor to 1e-9 → DECIMAL sum →
    * truncate), so the 64-row report replays bit-identically in DuckDB
    * regardless of accumulation order; variance is computed from the
    * truncated first/second moments through one shared expression.
    *
    * Scale shape: one corpus scan, posexplode to (dim, value) with
    * map-side partial aggregation onto 64 keys — output is
    * dimensionality-sized, never corpus-sized. At 100 TB the 64-key
    * shuffle carries only partial sums per task. */
  def dimensionStats(spark: SparkSession, dir: String): DataFrame =
    dimensionStatsFrom(Tables.embeddings(spark, dir))

  /** [[dimensionStats]] over any (embedding) frame — the deployment /
    * fixture entry point. */
  private[graft] def dimensionStatsFrom(emb: DataFrame): DataFrame = {
    val s1 = col("s1").cast("double") / 1e9 / col("n")
    val s2 = col("s2").cast("double") / 1e9 / col("n")
    emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vd", col("v").cast("double"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        decSum9(col("vd")).as("s1"),
        decSum9(col("vd") * col("vd")).as("s2"),
        trunc6(min(col("vd"))).as("min_v"),
        trunc6(max(col("vd"))).as("max_v"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        trunc6(s1).as("mean_v"),
        trunc6(s2 - s1 * s1).as("var_v"),
        col("min_v"), col("max_v"))
      .orderBy(col("dim"))
  }
}
