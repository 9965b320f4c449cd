package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Hashing
import graft.operators.Materialize.Stageable
import graft.sources.Tables

/** Text-analysis operators over `documents` — the training-data-pipeline
  * surface (language ID, quality scoring, token counting, fingerprinting).
  *
  * All tokenization is `split` + higher-order array functions (codegen'd
  * builtins); per-document work is embarrassingly parallel, and the only
  * shuffles are the final small aggregations. At 100 TB the explode-based
  * queries (word count, lang ID) do one hash shuffle on the token/doc key
  * with map-side partial aggregation.
  */
object Text {

  /** THE shared whitespace tokenizer ([[Dedup.toks]]) — delegated, not
    * re-defined, so text stats can never disagree with dedup/curation on
    * what a token is. */
  private def toks = Dedup.toks

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "data")

  /** Language-marker lexicon for the n-gram/lexicon language-ID heuristic. */
  val lexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "is" -> "en", "and" -> "en",
    "der" -> "de", "und" -> "de", "nicht" -> "de",
    "le" -> "fr", "et" -> "fr", "est" -> "fr",
    "el" -> "es", "y" -> "es", "es" -> "es")

  /** Corpus word frequencies, top 100. */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(100)

  /** Per-document quality features + a composite score (length, token
    * shape, stopword density, punctuation) — the classic pre-training
    * quality filter, all in builtin expressions. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stops = array(stopwords.map(lit): _*)
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("sum_len",
        aggregate(transform(col("toks"), t => length(t)), lit(0L), (acc, x) => acc + x.cast("long")))
      // n_tokens = 0 guard (empty/whitespace-only doc): emit null, not
      // the IEEE NaN a double 0/0 produces — NaN poisons downstream
      // threshold filters and hashes differently from DuckDB's result
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          round(col("sum_len").cast("double") / col("n_tokens"), 6)))
      .withColumn("stop_hits",
        size(filter(col("toks"), t => array_contains(stops, t))).cast("long"))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0,
          round(col("stop_hits").cast("double") / col("n_tokens"), 6)))
      .withColumn("punct_count",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
      .withColumn("quality", when(col("n_tokens") > 0, round(
        lit(0.5) * (col("stop_hits").cast("double") / col("n_tokens")) +
          lit(0.3) / (lit(1.0) + abs(col("sum_len").cast("double") / col("n_tokens") - lit(5.0))) +
          lit(0.2) * least(col("n_tokens").cast("double") / lit(50.0), lit(1.0)), 6)))
      .select("doc_id", "n_tokens", "avg_token_len", "stop_ratio", "punct_count", "quality")
      .orderBy("doc_id")
  }

  /** Lexicon-based language ID: argmax of marker-word hits per document,
    * reported as a (true lang × predicted lang) confusion census. Docs with
    * zero hits predict 'und'. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val lex = lexicon.toDF("marker", "cand_lang")
    val hits = docs
      .select(col("doc_id"), explode(toks).as("token"))
      .join(broadcast(lex), col("token") === col("marker"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("cand_lang"))
    val pred = hits
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred0"))
    docs.join(pred, Seq("doc_id"), "left")
      .withColumn("pred_lang", coalesce(col("pred0"), lit("und")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Batched-BPE training schedule: [[BpeRounds]] learning rounds, each
    * counting adjacent-symbol pair frequencies over the CURRENT
    * vocabulary segmentation and merging that round's top
    * [[BpeMergesPerRound]] pairs at once — 64 declared merges
    * (VERDICT r15 #6 replaced the regex proxy). Batching K merges per
    * count is the standard fast-trainer approximation of
    * one-merge-per-recount BPE; selection order (weight desc, pair asc)
    * and application order are total, so both engines learn and apply
    * the identical table — the oracle re-derives it through the same
    * CTE chain (Oracles.bpeCtes). */
  val BpeRounds = 4
  val BpeMergesPerRound = 16

  /** Initial BPE segmentation of a token: one space-separated symbol
    * per character, space-padded — 'hello' → ' h e l l o '. */
  private def segInit(tok: Column): Column =
    concat(lit(" "), regexp_replace(tok, "(.)", "$1 "))

  /** Apply ranked merges in order: each merge (a b → ab) is ONE literal
    * space-bounded replace. Left-to-right non-overlapping scan — verified
    * bit-identical between the JVM and DuckDB (a run of equal symbols
    * merges every other pair per pass in BOTH engines); single-pass-per-
    * rule application is the documented approximation of exhaustive
    * per-rule iteration (only runs of ≥3 identical symbols differ, and
    * they differ identically in both engines). */
  private def applyMerges(seg: Column, pats: Seq[String]): Column =
    pats.foldLeft(seg)((c, p) =>
      replace(c, lit(" " + p + " "), lit(" " + p.replaceAll(" ", "") + " ")))

  /** Learn the merge table over a staged (tok, wcount, seg) vocabulary.
    * Each round's pair aggregation runs on WORD TYPES weighted by corpus
    * frequency (standard BPE training practice), so every job here is
    * vocabulary-sized — Zipf-bounded, ≪ the token stream at any corpus
    * scale — and each collect is a merge-table-sized codebook collect
    * (the q112 Lloyd-training precedent), never a corpus collect. */
  private[graft] def bpeMergeTable(vocab0: DataFrame): Seq[String] = {
    val merges = Seq.newBuilder[String]
    var cur = vocab0
    for (_ <- 0 until BpeRounds) {
      val pairs = cur
        .select(col("wcount"), split(trim(col("seg")), " ").as("sy"))
        .select(col("wcount"),
          explode(when(size(col("sy")) >= 2,
            transform(sequence(lit(1), size(col("sy")) - 1),
              i => concat(element_at(col("sy"), i), lit(" "),
                element_at(col("sy"), i + 1))))).as("p"))
        .groupBy(col("p")).agg(sum(col("wcount")).as("w"))
        .orderBy(col("w").desc, col("p").asc)
        .limit(BpeMergesPerRound)
        .collect().map(_.getString(0)).toSeq
      merges ++= pairs
      cur = cur.withColumn("seg", applyMerges(col("seg"), pairs))
    }
    merges.result()
  }

  /** The trained tokenizer as a table: per word type, its subword count
    * under the corpus-learned merge table — (tok, n_sym). The learning
    * loop ([[bpeMergeTable]] — vocabulary-sized jobs + merge-table-sized
    * collects) runs HERE, once per build. */
  private[graft] def bpeSymTableFrom(docs: DataFrame): DataFrame = {
    val vocab0 = Materialize.stage(
      docs.select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("wcount"))
        .withColumn("seg", segInit(col("tok"))))
    vocab0
      .withColumn("seg", applyMerges(col("seg"), bpeMergeTable(vocab0)))
      .select(col("tok"),
        size(split(trim(col("seg")), " ")).cast("long").as("n_sym"))
  }

  /** [[bpeSymTableFrom]] as a SESSION-STANDING artifact keyed on the
    * corpus dir ([[Materialize.shared]], the qualityGate/bm25-index
    * precedent, r22): a trained tokenizer is learned ONCE per corpus and
    * applied everywhere — yet q32 and q138 each re-ran the vocabulary
    * build plus the 4-round merge learning (driver-collect round trips
    * included) per query. (tok, n_sym) round-trips parquet exactly
    * (string + long) and the consumers join/aggregate — no row-order
    * dependence. A fresh session (the bench's isolated pass) still pays
    * the full training loop. */
  private[graft] def bpeSymShared(spark: SparkSession, dir: String): DataFrame =
    Materialize.shared(spark, s"bpeSymTable:$dir")(
      bpeSymTableFrom(Tables.documents(spark, dir)))

  /** Per-document BPE token counts under the corpus-learned merge
    * table. Scale shape: the token stream explodes twice (vocabulary
    * build, application join) with map-side combine both times; the
    * segmented vocabulary BROADCASTS into the application join, so the
    * corpus-scale side never shuffles on the token key. `nSymOpt`
    * injects a pre-trained [[bpeSymTableFrom]]-shaped tokenizer (the
    * declared queries pass the session-standing one); None trains
    * per-call. */
  private[graft] def bpeDocCounts(docs: DataFrame,
      nSymOpt: Option[DataFrame] = None): DataFrame = {
    val tokTable = docs.select(col("doc_id"), explode(toks).as("tok"))
    val nSym = nSymOpt.getOrElse(bpeSymTableFrom(docs))
    tokTable.join(broadcast(nSym), "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_sym")).as("n_bpe"))
  }

  /** q32: whitespace vs real subword-BPE tokenization census per
    * document — the merge table is learned from THIS corpus and applied
    * per word type, so chars_per_token is the actual fertility of the
    * learned tokenizer, not a regex stand-in. */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs
      .withColumn("n_ws_tokens", size(toks).cast("long"))
      .join(bpeDocCounts(docs, Some(bpeSymShared(spark, dir))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ws_tokens"),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe_tokens"),
        when(col("n_bpe") > 0,
          floor(col("n_chars") * 1e6 / col("n_bpe")) / 1e6).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprints: a polynomial rolling hash over token hashes
    * (order-sensitive) plus a SHA-256 content fingerprint (order plus
    * exact bytes). Both reproducible in any engine. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("hs", transform(toks, t => Hashing.h32p(t)))
      .withColumn("rolling_fp",
        aggregate(col("hs"), lit(0L), (acc, x) => (acc * Hashing.B + x) % Hashing.P))
      .withColumn("sha_fp", substring(sha2(col("text"), 256), 1, 16))
      .select("doc_id", "rolling_fp", "sha_fp")
      .orderBy("doc_id")

  /** TF-IDF: top-5 highest-scoring tokens per document (probe subset) —
    * the term-weighting primitive behind rare-token filters and sparse
    * document vectors. Smooth idf = ln((N+1)/(df+1)) + 1.
    *
    * Scale shape: tf is one explode + hash shuffle on (doc_id, token)
    * with map-side combine; df is a second shuffle on token. The df/idf
    * table is vocabulary-sized, so the tf⋈idf join shuffles on token —
    * at 100 TB the vocabulary (Zipf) still fits a broadcast after a
    * min-df filter, which is the standard shortcut; the shuffle join is
    * the no-assumptions default. The final top-k per doc plans a
    * WindowGroupLimit (per-partition heaps), not a global sort. */
  /** q86: Zipf vocabulary census — per language: distinct vocabulary
    * size, total token count, and the fitted log-log slope of the top-100
    * rank-frequency curve (Zipf's law predicts ≈ −1 for natural text;
    * large deviations flag TEMPLATED or machine-generated sources — a
    * corpus-level quality signal the per-document gates can't see).
    *
    * Determinism: the least-squares sums over (ln rank, ln freq) run as
    * floor-truncated DECIMAL(28,9) accumulations — order-independent
    * exact arithmetic, the q75/q77 defense — because a double sum over a
    * shuffled top-100 is not cross-engine stable.
    *
    * Scale shape: one token-count shuffle with map-side combine, a
    * per-lang top-100 window (WindowGroupLimit bounds state), then a
    * 100-row-per-lang closed-form regression — no iteration. */
  def zipfCensus(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => floor(c * 1e9).cast("decimal(28,9)")
    // Materialized once: the vocab totals and the top-100 window both
    // re-read it, and the explode+agg behind it is the dominant cost
    // (Materialize.stage).
    val freq = Tables.documents(spark, dir)
      .select(col("lang"), explode(toks).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("f"))
      .staged
    val vocab = freq.groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(col("f")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("f").desc, col("token"))
    val top = freq
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 100)
      .withColumn("x", dec(log(col("rank"))))
      .withColumn("y", dec(log(col("f"))))
      .withColumn("xy", dec(log(col("rank")) * log(col("f"))))
      .withColumn("xx", dec(log(col("rank")) * log(col("rank"))))
    // The DECIMAL sums are exactly equal cross-engine; cast to double and
    // unscale BEFORE the slope arithmetic (decimal division scale/rounding
    // rules differ between engines, identical-double arithmetic does not).
    val d = (name: String) => col(name).cast("double") / 1e9
    val fit = top.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"))
      .withColumn("slope",
        floor((col("n") * d("sxy") - d("sx") * d("sy")) /
          (col("n") * d("sxx") - d("sx") * d("sx")) * 1e6) / 1e6)
      .select(col("lang"), col("slope").as("zipf_slope"))
    vocab.join(fit, Seq("lang"))
      .select(col("lang"), col("vocab_size"), col("n_tokens"), col("zipf_slope"))
      .orderBy(col("lang"))
  }

  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), explode(toks).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // the corpus-scale shuffle is the df aggregation (a distinct on
    // (token, doc) then a count per token): key it by the token's
    // xxhash64 fingerprint — 8-byte shuffle keys instead of strings,
    // the [[graft.operators.Retrieval.bm25Index]] identity move; the
    // oracle keeps the raw string, equality classes match unless two
    // vocabulary tokens collide in 64 bits. The output token string
    // rides the (probe-bounded: doc_id < 50 pushes to the scan) tf side.
    val df = tok.select(xxhash64(col("token")).as("tok_h"), col("doc_id"))
      .groupBy(col("tok_h"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("tok_h", xxhash64(col("token")))
      .join(df, "tok_h")
      .crossJoin(broadcast(n)) // 1-row scalar subquery shape
      // floor-truncation, not round(): Spark rounds the decimal repr,
      // DuckDB the binary value — they diverge on bare-5 boundaries
      // (Oracles.scala determinism rules)
      .withColumn("tfidf",
        floor(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0) * 1e6) / 1e6)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored
      .filter(col("doc_id") < 50)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select("doc_id", "rn", "token", "tf", "df", "tfidf")
      .orderBy("doc_id", "rn")
  }

  /** q138: tokenizer fertility census — per language: document/token
    * volumes, raw characters emitted per token (the fertility number a
    * multilingual pipeline budgets context length with: a language whose
    * tokens carry fewer characters "costs" more tokens for the same
    * text), mean token length, and language-level type/token ratio
    * (vocabulary richness). On a byte-transparent tokenizer over this
    * ASCII corpus chars = bytes; on real multilingual data the same
    * query over `octet_length` is the bytes-per-token variant. Token
    * definition is THE shared [[toks]], so fertility can never disagree
    * with dedup/packing on what a token is.
    *
    * Scale shape: one docs-grain agg (no explode) + one token-explode
    * agg with map-side partials, both keyed by the 5-value language —
    * the tiny per-lang tables broadcast-join. The countDistinct is per
    * lang over the token vocabulary (≪ token stream); at 100 TB it is
    * the one shuffle and is bounded by vocabulary, not corpus. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    tokenFertilityFrom(Tables.documents(spark, dir),
      Some(bpeSymShared(spark, dir)))

  /** [[tokenFertility]] over any (lang, text, n_chars) frame — the
    * injectable shape TextSpec's zero-token-language fixture runs on.
    * `nSymOpt` as in [[bpeDocCounts]]. */
  private[graft] def tokenFertilityFrom(docs: DataFrame,
      nSymOpt: Option[DataFrame] = None): DataFrame = {
    val perDoc = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val tok = docs.select(col("lang"), explode(toks).as("token"))
    val perTok = tok.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_vocab"),
        sum(length(col("token"))).cast("long").as("sum_tok_len"))
    // subword fertility under the corpus-learned BPE merge table
    // (VERDICT r15 #6): the context-length number a multilingual
    // pipeline actually budgets with — chars per SUBWORD token of the
    // real learned tokenizer, next to the whitespace-token columns
    val perBpe = docs.select(col("lang"), col("doc_id"))
      .join(bpeDocCounts(docs, nSymOpt), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("n_bpe")).as("bpe_toks"))
    // LEFT join from the per-doc census (ADVICE r15): a language whose
    // documents all tokenize to zero tokens must still report its
    // n_docs/n_chars volume — the inner join silently dropped it. Token
    // counts coalesce to 0 and the per-token ratios go null-safe (null,
    // not a division blow-up, when a language has no tokens).
    perDoc.join(broadcast(perTok), Seq("lang"), "left")
      .join(broadcast(perBpe), Seq("lang"), "left")
      .select(
        col("lang"), col("n_docs"), col("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_vocab"), lit(0L)).as("n_vocab"),
        when(col("n_tokens") > 0,
          floor(col("n_chars") * 1e6 / col("n_tokens")) / 1e6).as("chars_per_token"),
        when(col("n_tokens") > 0,
          floor(col("sum_tok_len") * 1e6 / col("n_tokens")) / 1e6).as("mean_tok_len"),
        when(col("n_tokens") > 0,
          floor(col("n_vocab") * 1e6 / col("n_tokens")) / 1e6).as("ttr"),
        coalesce(col("bpe_toks"), lit(0L)).as("bpe_tokens"),
        when(col("bpe_toks") > 0,
          floor(col("n_chars") * 1e6 / col("bpe_toks")) / 1e6).as("chars_per_bpe_token"))
      .orderBy(col("lang"))
  }
}
