package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MoneySum.{longSum9, trunc6}
import graft.sources.Tables

/** Lexical + hybrid retrieval over `documents` — the search side of a
  * training-data pipeline (mining in-domain documents, building retrieval
  * training sets, query-based corpus audits).
  *
  * - [[bm25Search]] (q116): Okapi BM25 "more-like-this" — each probe
  *   document's top TF-IDF terms form its query, scored with the
  *   Lucene-style BM25 formula over the corpus term-frequency table.
  * - [[rrfFusion]] (q117): reciprocal-rank fusion of the BM25 ranking
  *   with the exact-cosine embedding ranking ([[Similarity.cosineTopKFrom]])
  *   — the standard hybrid-search combiner (Cormack et al. 2009), with
  *   the per-list contribution 1/(60+rank) carried as a floored
  *   integer-scaled term so the fused score is exact in any engine.
  *
  * Scale shape: the term-frequency/doc-length tables are one explode +
  * one hash shuffle each (map-side partial agg); the probe query-term
  * table is probes×nTerms rows and BROADCASTS into the scoring join, so
  * scoring touches only candidate docs sharing a query term — an
  * inverted-index probe, never a corpus cross product. Corpus constants
  * (N, avgdl) ride the repo's 1-row broadcast-crossJoin convention.
  */
object Retrieval {

  /** Okapi BM25 parameters (the universal defaults). */
  val K1 = 1.2
  val B = 0.75
  /** RRF rank-shift constant (Cormack et al.'s k=60). */
  val RrfK = 60

  /** The declared queries' probe set: every 97th document capped to the
    * first [[Similarity.ProbeCap]] ids (the embeddings grid's convention
    * in the doc-id space) — a fixed probe BUDGET at any corpus size, not
    * a corpus share (VERDICT r13 #1). The predicate is
    * [[Similarity.probeFilter]] — the one Scala source of truth the 27
    * oracle-mirrored predicates track. Deployments pass a bounded probe
    * set to the `*From` variants. */
  private def gridDocProbes(docs: DataFrame): DataFrame =
    docs.filter(Similarity.probeFilter(col("doc_id")))

  /** The BM25 "index": per-(doc, term) frequency with the doc length
    * alongside — (doc_id, tok_h, tf, dl). Term identity is the
    * xxhash64 FINGERPRINT of the token, not the string — the
    * [[Dedup.shingleFps]]/[[Curation.tokHashes]] identity move applied
    * to the retrieval family: the corpus-scale tf aggregation, the df
    * aggregation, and the scoring join all shuffle/probe 8-byte keys
    * instead of token strings (the string never surfaces in q116/q117
    * output; the probe-side query terms re-derive it from the probes'
    * own bounded text, [[queryTerms]]). The DuckDB oracle keeps
    * aggregating by the raw string, so the hash is never mirrored —
    * only its equality classes, which match the string classes exactly
    * unless two vocabulary tokens collide in 64 bits (P ≈ vocab²/2⁶⁴;
    * the FIRST symptom would be an engine-vs-oracle divergence on
    * q116/q117, the [[Dedup.shingleFps]] triage note).
    *
    * Built from ONE tokenize explode ([[Curation.tokenTable]], the
    * shared definition) and ONE tf aggregation; doc length is Σtf
    * re-aggregated from tf (never a second corpus pass). Staged
    * ([[Materialize.stage]]) because three consumers read it — the df
    * aggregation, the corpus-constants row, and the scoring scan —
    * which would otherwise each re-explode the corpus. */
  private[graft] def bm25Index(docs: DataFrame): DataFrame = {
    import Materialize.Stageable
    val tf = Curation.tokenTable(docs)
      .select(col("doc_id"), xxhash64(col("token")).as("tok_h"))
      .groupBy(col("doc_id"), col("tok_h")).agg(count(lit(1)).as("tf"))
      .staged
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    tf.join(dl, Seq("doc_id")).staged
  }

  /** [[bm25Index]] as a standing artifact ([[Materialize.shared]]): the
    * (doc_id, tok_h, tf, dl) index IS the lexical inverted-index
    * statistics a deployment serves to every search query — here two
    * declared queries (q116, q117's BM25 list) plus the streaming
    * query-index build each re-ran the corpus tokenize + tf aggregation
    * per query. All four columns are exact longs, so the parquet
    * round-trip is bit-identical and consumers aggregate / join with no
    * row-order dependence. */
  private[graft] def bm25IndexShared(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // hybrid, the [[Curation.spanTable]] rationale: the BUILD is
    // standing (shared parquet), but each query re-stages the scan —
    // bm25From reads the index three times per plan (df agg, corpus
    // constants, the scoring scan)
    Materialize.stage(Materialize.shared("bm25Index", docs)(bm25Index(docs)))
  }

  /** q116: BM25 more-like-this search — rides the session-standing
    * index ([[bm25IndexShared]]). */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bm25From(docs, gridDocProbes(docs), nTerms = 3, k = 10,
      idxOpt = Some(bm25IndexShared(spark, dir)))
  }

  /** The per-term BM25 score, idf(df) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * with the Lucene idf ln(1 + (N−df+0.5)/(df+0.5)) — ONE shared
    * expression used by both the batch scorer and the streaming scorer
    * ([[graft.streaming.StreamOps.bm25ScoreStream]]), so the two can
    * never drift; with identical inputs the doubles are bit-equal. */
  private[graft] def termScore(tf: Column, df: Column, dl: Column,
      nDocs: Column, avgdl: Column): Column =
    log(lit(1.0) + (nDocs - df + 0.5) / (df + 0.5)) *
      (tf * (K1 + 1.0) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl.cast("double") / avgdl)))

  /** Corpus constants the BM25 formula closes over: document count and
    * mean document length — one row. */
  private def corpusConsts(docs: DataFrame, idx: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(idx.agg(sum(col("tf")).as("tot_dl")))
      .select(col("n_docs"),
        (col("tot_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))

  /** Probe query terms (probe_id, token, tok_h, df): q65's tfidf
    * ranking — same scoring, same string tie-break — over probe docs,
    * carrying df forward so the scoring join never touches the
    * vocabulary table again. The probe tf is re-derived from the
    * probes' OWN text with PER-ROW column math (the
    * [[graft.streaming.StreamOps.bm25ScoreStream]] `size(filter(...))`
    * formulation over the same [[Dedup.toks]] tokenizer, so it equals
    * the index's tf row for the same doc, shuffle-free): the hash-keyed
    * index no longer carries token strings, and the tie-break plus the
    * streaming query index need them — probes are a bounded budget, so
    * the per-row distinct×scan cost is cap-sized. The probe sliver
    * broadcasts against the vocabulary-sized df aggregation (8-byte
    * join keys). */
  private[graft] def queryTerms(idx: DataFrame, consts: DataFrame,
      probes: DataFrame, nTerms: Int): DataFrame = {
    val dfT = idx.groupBy(col("tok_h")).agg(count(lit(1)).as("df"))
    val tfPairs = transform(
      array_distinct(Dedup.toks),
      t => struct(t.as("token"),
        size(filter(Dedup.toks, x => x === t)).cast("long").as("tf")))
    val probeTf = probes
      .select(col("doc_id").as("probe_id"), explode(tfPairs).as("p"))
      .select(col("probe_id"), col("p.token").as("token"),
        xxhash64(col("p.token")).as("tok_h"), col("p.tf").as("tf"))
    dfT
      .join(broadcast(probeTf), Seq("tok_h"))
      .crossJoin(broadcast(consts.select(col("n_docs"))))
      .withColumn("tfidf",
        trunc6(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)))
      .select(col("probe_id"), col("token"), col("tok_h"), col("df"), col("tfidf"))
      .transform(Similarity.topPerKey("probe_id", nTerms, "rn")(col("tfidf").desc, col("token")))
      .select(col("probe_id"), col("token"), col("tok_h"), col("df"))
  }

  /** The query side as ONE broadcastable row — (qterms: sorted array of
    * (probe_id, token, df) structs, n_docs, avgdl) — the static index of
    * [[graft.streaming.StreamOps.bm25ScoreStream]], refreshed by a
    * scheduled batch job exactly like the bloom/span/IVF stream indexes.
    * Corpus statistics are FROZEN into the row (the standard
    * between-refreshes approximation a production lexical index makes). */
  def bm25QueryIndex(spark: SparkSession, dir: String, nTerms: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = bm25IndexShared(spark, dir)
    val consts = corpusConsts(docs, idx)
    queryTerms(idx, consts, gridDocProbes(docs), nTerms)
      .agg(array_sort(collect_list(struct(col("probe_id"), col("token"),
        col("df")))).as("qterms"))
      .crossJoin(consts)
  }

  /** [[bm25Search]] over explicit probe documents: the probe's `nTerms`
    * top-TF-IDF terms (q65's scoring, q65's tie-break) become the query;
    * every corpus document sharing a term is scored
    * Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with the Lucene
    * idf ln(1 + (N−df+0.5)/(df+0.5)); top-k per probe. Per-term scores
    * sum as floored 1e-9 units in a long (at most `nTerms` terms per
    * pair) so term order can never perturb the ranking across engines. */
  def bm25From(docs: DataFrame, probes: DataFrame, nTerms: Int, k: Int,
      idxOpt: Option[DataFrame] = None): DataFrame = {
    // idxOpt: a pre-built [[bm25Index]]-shaped table (the declared
    // queries pass the session-standing one); None builds per-call.
    val idx = idxOpt.getOrElse(bm25Index(docs))
    val consts = corpusConsts(docs, idx)
    val qt = queryTerms(idx, consts, probes, nTerms)
    // score candidates sharing a query term: one scan of the staged
    // index against the broadcast query terms — an inverted-index probe
    val term = idx
      .withColumnRenamed("doc_id", "cand_id")
      .join(broadcast(qt.select(col("probe_id"), col("tok_h"), col("df"))),
        Seq("tok_h"))
      .filter(Similarity.notSelf("cand_id"))
      .crossJoin(broadcast(consts))
      .withColumn("term_score", termScore(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("avgdl")))
    val scored = term
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        (longSum9(col("term_score")).cast("double") / 1e9)
          .as("score"))
    Similarity.probeTopK(scored, k, col("score").desc, col("cand_id"))(
      col("probe_id"), Similarity.longRank, col("cand_id"), col("n_terms"),
      round(col("score"), 6).as("score"))
  }

  /** q117: hybrid retrieval — reciprocal-rank fusion of the BM25 list
    * (lexical, over `documents`) with the exact-cosine list (dense, over
    * `embeddings`, doc_id ≡ vec_id) on the shared %97 probe grid.
    * Each list contributes floor(1e9/(RrfK+rank)) — an INTEGER-scaled
    * reciprocal, so the fused score is exact arithmetic in both engines
    * (no float summation anywhere). A document missing from one list
    * contributes 0 from it (the standard RRF convention); null ranks are
    * reported as such. Top-5 per probe by fused score. Both input
    * rankings are bounded (20 per probe; vec probes are the probe
    * documents' ids), so the fuse join is probes×20-sized — driver-bench
    * and 100 TB identical. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val probes = gridDocProbes(docs)
    val bm = bm25From(docs, probes, nTerms = 3, k = 20,
        idxOpt = Some(bm25IndexShared(spark, dir)))
      .select(col("probe_id"), col("cand_id"), col("rank").as("bm25_rank"))
    val vecProbes = emb.join(
      probes.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    val cos = Similarity.cosineTopKFrom(emb, vecProbes, k = 20)
      .select(col("probe_id"), col("cand_id"), col("rank").as("cos_rank"))
    val contrib = (r: Column) =>
      coalesce(floor(lit(1e9) / (lit(RrfK) + r)).cast("long"), lit(0L))
    val fused = bm.join(cos, Seq("probe_id", "cand_id"), "full_outer")
      .withColumn("rrf_scaled",
        contrib(col("bm25_rank")) + contrib(col("cos_rank")))
    Similarity.probeTopK(fused, 5, col("rrf_scaled").desc, col("cand_id"))(
      col("probe_id"), Similarity.longRank,
      col("cand_id"), col("bm25_rank"), col("cos_rank"), col("rrf_scaled"))
  }
}
