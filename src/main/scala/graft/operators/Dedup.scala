package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.operators.Materialize.Stageable
import graft.sources.Tables

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash-LSH, and SimHash (SURVEY.md §2 Table B ★ rows).
  *
  * Scale design:
  *  - Exact dedup is one hash-groupBy on the normalized fingerprint.
  *  - The exact Jaccard self-join is the CORRECTNESS baseline; it is
  *    quadratic in the worst case and exists to validate the LSH path.
  *  - MinHash-LSH is the 100 TB path: signatures are one explode +
  *    16-way min aggregation (single shuffle on doc_id), banding turns
  *    the all-pairs problem into equality joins on (band, signature)
  *    buckets — candidates only where a band collides, then the exact
  *    Jaccard check runs on candidates alone. Skewed buckets (boilerplate
  *    banding together) are capped at scale via [[lshNearDupCapped]].
  *  - SimHash gives a constant-width bit fingerprint; near-dup pairs are
  *    Hamming-distance filters, again only within candidate subsets.
  */
object Dedup {

  /** Whitespace tokenization of `text` — THE tokenizer every dedup /
    * curation / streaming operator shares; one definition so they can
    * never silently disagree on what a token is. */
  private[graft] def toks = filter(split(col("text"), " "), t => length(t) > 0)

  /** 3-token shingles over a `toks` column (docs shorter than 3 tokens
    * drop out) — shared for the same reason as [[toks]]: the stream-side
    * band index and the batch LSH only match if shingling is identical. */
  private[graft] def shingleCol: Column =
    transform(
      sequence(lit(1), size(col("toks")) - 2),
      i => array_join(slice(col("toks"), i, lit(3)), " "))

  /** 3-token shingle FINGERPRINTS of a (toks, tokh) row — the span-family
    * identity move ([[Curation.spanHashes]]) applied to the shingle
    * family: identity is xxhash64 over the shingle's 3 token hashes, not
    * the joined shingle string. Consumers use it ONLY for equality
    * classes (distinct / df-window / equality self-join); the DuckDB
    * oracle keeps partitioning and joining by the raw shingle string, so
    * the hash is never mirrored — only its equality classes, which match
    * the string classes exactly unless two distinct shingles collide in
    * 64 bits (P ≈ shingles²/2⁶⁴: zero at test scale; at 10¹² shingles a
    * rare collision merges two equality classes). NOTE the FIRST symptom
    * of a collision is an engine-vs-oracle divergence in the correctness
    * harness (the oracle's string classes stay split where the engine's
    * hash classes merged) — a hash-mismatch on q35/q37/q80/q114-family
    * queries at very large corpora should be triaged against this before
    * anything else; the dedup-semantics effect itself is benign (a pair
    * scored a hair more similar, same trade as the span family). Escape
    * hatch before corpora where shingles²/2⁶⁴ becomes observable: switch
    * the fingerprint to a 2×64-bit struct (two independent xxhash64
    * seeds), which the same consumers accept as an equality key
    * unchanged. vs the string form this removes the per-shingle
    * string construction AND shrinks every downstream shuffle key from a
    * ~3-token string to 8 bytes. NOT used where the hash VALUE must be
    * cross-engine reproducible (MinHash banding — [[hashedDocTable]]
    * keeps the sha256-derived [[Hashing.h32p]] there, because band
    * collisions depend on the permuted hash values themselves, which the
    * oracle must recompute bit-identically). */
  private[graft] def shingleFps: Column =
    transform(
      sequence(lit(0), (size(col("toks")) - 3).cast("int")),
      i => xxhash64(
        element_at(col("tokh"), i + 1),
        element_at(col("tokh"), i + 2),
        element_at(col("tokh"), i + 3)))

  /** Canonical exact-dedup fingerprint: normalize (lower, collapse
    * whitespace, trim) → SHA-256 — shared by batch dedup, the curation
    * funnel, incremental dedup, and the streaming dedup stage. */
  private[graft] def textFp: Column =
    sha2(trim(lower(regexp_replace(col("text"), "\\s+", " "))), 256)

  /** Exact dedup: normalize (lower, collapse whitespace, trim) → SHA-256 →
    * keep the smallest doc_id per fingerprint. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExactFrom(Tables.documents(spark, dir))

  /** [[dedupExact]] over any (doc_id, text) frame — the injectable shape
    * PropertySpec's idempotence property (SURVEY.md §5.3) runs on. */
  def dedupExactFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", textFp)
      .groupBy(col("fp"))
      .agg(
        min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))

  /** Document-frequency cap for [[jaccardNearDup]]'s shingle join: a
    * shingle shared by more than this many documents is boilerplate — it
    * carries no near-dup signal (any J≥0.6 pair shares plenty of rarer
    * shingles) but contributes O(df²/2) joined rows in a SINGLE task.
    * Sized at ~3× the observed max df across SFs (25 at sf0.1) so results
    * are unchanged on this corpus while the worst task stays ≤ 64²/2 rows
    * per hot shingle at any scale. Declared in the oracle SQL too, so the
    * hash contract includes the cap. */
  val ShingleDfCap = 64

  /** Exact 3-shingle Jaccard near-dup pairs (threshold 0.6) via a
    * distinct-shingle equality self-join — the brute-force baseline.
    *
    * Since r20 the DECLARED query rides the session-standing
    * [[hashedDocTable]], whose `fps` column carries exactly the sorted
    * distinct shingle-fingerprint set [[jaccardPairs]] builds in-query —
    * same xxhash64 space, same df-cap window, same join tail
    * ([[jaccardOverShingleSets]] is ONE definition for both), so the
    * output is row-identical (DedupSpec pins it) and the oracle is
    * untouched. The standing path skips the tokenize scan AND the
    * distinct shuffle (`explode(fps)` is already per-doc distinct).
    * [[jaccardPairs]] remains the direct single-pass formulation for
    * callers holding a non-standard frame (skew spec, ad-hoc corpora).
    *
    * Formulation note (measured at sf0.1): the hashed-array + broadcast
    * pair-merge formulation that wins for char 4-grams
    * ([[chargramNearDup]], dense vocabulary, df²/2 join explosion) was
    * implemented and benchmarked here too — SLOWER (3.9 s vs 2.2 s): word
    * 3-shingles are a sparse vocabulary, so per-shingle document frequency
    * is tiny, the equality join never explodes, and the extra per-row
    * hash/array work plus a repartition is pure overhead. Pick the
    * formulation by vocabulary density, not by habit. */
  def jaccardNearDup(spark: SparkSession, dir: String): DataFrame =
    jaccardOverShingleSets(
      hashedDocTable(spark, dir)
        .select(col("doc_id"), explode(col("fps")).as("s")),
      0.6, ShingleDfCap)

  /** Core of [[jaccardNearDup]], parameterized for the skew spec: Jaccard
    * over the set of shingles whose document frequency is ≤ dfCap. The df
    * filter is one window count over the same shuffle key as the join, and
    * it bounds the self-join's worst task at dfCap²/2 rows per shingle —
    * the skew guard a 100 TB corpus (viral boilerplate) needs.
    * (Measured alternative at sf0.1: hot-shingle census + broadcast
    * anti-join needs a SECOND materialization barrier and came out ~1.5×
    * slower than folding the filter into the single checkpointed pass.) */
  def jaccardPairs(docs: DataFrame, threshold: Double, dfCap: Int): DataFrame = {
    // Two-exchange shape kept deliberately: a single up-front
    // repartition(s) (so the distinct and the df window share one
    // exchange) was measured SLOWER (3.0 s vs 2.45 s, isolated
    // single-query runs at sf0.1; full-suite BENCH_LOCAL figures differ
    // by methodology — ~3.1-3.6 s single-shot with 90 queries sharing
    // the JVM, ~2.0 s as the round-7 median-of-3, which picks warm
    // runs) — the distinct's map-side partial aggregate dedups repeated
    // in-document shingles before its shuffle, and a raw repartition
    // ships the full exploded volume instead.
    // Shingle identity is the [[shingleFps]] fingerprint (8-byte shuffle
    // keys, no per-shingle string construction); the oracle keeps the raw
    // string — equality-classes-only, see the shingleFps scaladoc.
    jaccardOverShingleSets(
      docs
        .withColumn("toks", toks)
        .filter(size(col("toks")) >= 3)
        .withColumn("tokh", Curation.tokHashes)
        .select(col("doc_id"), explode(shingleFps).as("s"))
        .distinct(),
      threshold, dfCap)
  }

  /** The shared Jaccard tail over a DISTINCT (doc_id, s) shingle-set
    * frame: df-cap window → set sizes → equality self-join → Jaccard
    * threshold. ONE definition for the in-query pipeline
    * ([[jaccardPairs]]) and the standing-table path ([[jaccardNearDup]])
    * so the two formulations can never drift. */
  private def jaccardOverShingleSets(ds0: DataFrame, threshold: Double,
                                     dfCap: Int): DataFrame = {
    // Materialized once (Materialize.stage): feeds three branches
    // (sizes ×2 via join, self-join).
    val ds = ds0
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= dfCap)
      .select("doc_id", "s")
      .staged
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = ds.as("a")
      .join(ds.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("n1") + col("n2") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "common", "n1", "n2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** MinHash signatures: K=16 universal-hash minima over shingle hashes,
    * computed entirely PER ROW — the shingle array maps to its hash array
    * once (one sha256 per shingle), then each permutation is an
    * arithmetic transform + array_min over it. ZERO shuffle: the
    * signature is available inline on the ingest scan (and therefore on
    * a stream), where the old explode + groupBy(doc_id) shape shuffled
    * one row per shingle — |tokens|-scale traffic at 100 TB. min() over
    * the same multiset ⇒ values identical to the exploded formulation
    * (and to the oracle's). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signatureDf(spark, dir).orderBy(col("doc_id"))

  /** Per-row signature table (doc_id, mh00..mh15): the shingle array maps
    * to its hash array, then the native `minhash_sig16` kernel computes
    * all 16 minima in one codegen'd pass (the 16-×-transform HOF
    * formulation measured 1.5× slower than even the explode+groupBy
    * shuffle — interpreted lambda dispatch per element per permutation). */
  private def signatureDf(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .withColumn("sig", call_function("minhash_sig16",
        transform(shingleCol, s => Hashing.h32p(s))))
    val mins = (0 until Hashing.K).map(i =>
      element_at(col("sig"), i + 1).as(f"mh$i%02d"))
    sigs.select(col("doc_id") +: mins: _*)
  }

  /** MinHash-LSH near-dup pairs: band the signatures (4 bands × 4 rows),
    * equality-join on (band, band-signature) to get candidates, then
    * exact-Jaccard-verify candidates at threshold 0.6.
    *
    * Per-row formulation (round 4; replaces the exploded-shingle-table
    * variant): each document carries ONE sorted distinct shingle-hash
    * array, and both derived quantities read that column — the signature
    * via the native `minhash_sig16` kernel and the exact verify via
    * `sorted_intersect_count`. The corpus therefore never explodes to
    * |shingles| rows and never shuffles before the banding join (the old
    * shape paid a distinct + a groupBy over the exploded table, then a
    * |shingles|-row equality join for the verify — measured 2.7 s vs
    * 1.3 s here at sf0.1, and the win compounds through q80/q82/q87
    * which all recompute this pipeline). Candidates are tiny, so both
    * verify joins broadcast the candidate side — the array table streams
    * through without moving.
    *
    * Jaccard is computed over the 32-bit hashed shingle space (standard
    * MinHash practice — a within-pair hash collision perturbs both
    * engines identically because the oracle hashes the same way; see
    * Oracles.lshPairCtes). */
  /** The per-doc hash-array table (doc_id, hs, n, sig) THE shared LSH
    * input: one materialization feeds every consumer (banding + both
    * verify sides), so the sha256-per-shingle pipeline runs once. ONE
    * definition for q37/q80/q82/q87's pipeline, the capped variant, and
    * the q121 audit — they can never disagree on what a document's hash
    * set is.
    *
    * Standing ([[Materialize.shared]]): ten-plus declared queries (q37,
    * q80, q82, q87, q121, q123, q133, q134, q137, q145, …) each start
    * from tokenize→shingle→minhash, so one build serves them all — each
    * consumer's own banding/verify still plans per-query off the scan. */
  private[graft] def hashedDocTable(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Materialize.shared("lshHashTable", docs)(hashedDocTableFrom(docs))
  }

  /** The [[hashedDocTable]] pipeline itself, un-staged — the build body
    * of the shared cell (and the direct path for callers holding a
    * non-standard document frame). */
  private[graft] def hashedDocTableFrom(docsRaw: DataFrame): DataFrame =
    docsRaw
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .withColumn("tokh", Curation.tokHashes)
      .withColumn("hs",
        array_sort(array_distinct(transform(shingleCol, s => Hashing.h32p(s)))))
      .withColumn("sig", call_function("minhash_sig16", col("hs")))
      // fps: the xxhash64 shingle-fingerprint SET (q35's space — distinct
      // from the sha256-derived 32-bit `hs` the MinHash/verify side needs
      // for oracle reproducibility), carried so the exact-Jaccard
      // baseline rides the same standing build as its scale path
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n"),
        col("sig"), array_sort(array_distinct(shingleFps)).as("fps"))

  /** Banding candidate pairs (d1 < d2) over a [[hashedDocTable]] —
    * optionally skipping (band, sig) buckets holding more than
    * `bucketCap` documents (the [[lshNearDupCapped]] skew guard; the
    * occupancy count rides the join's own shuffle key). */
  private[graft] def bandCandidates(docs: DataFrame,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    val bandStructs = (0 until Hashing.Bands).map { bnd =>
      val cols = (0 until Hashing.RowsPerBand)
        .map(r => element_at(col("sig"), bnd * Hashing.RowsPerBand + r + 1))
      struct(lit(bnd).as("band"), concat_ws(",", cols: _*).as("sig"))
    }
    val banded0 = docs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val banded =
      if (bucketCap == Int.MaxValue) banded0
      else banded0
        .withColumn("occ",
          count(lit(1)).over(Window.partitionBy(col("band"), col("sig"))))
        .filter(col("occ") <= bucketCap)
        .drop("occ")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** q37 — and THE verified pair table every pair consumer starts from.
    *
    * SESSION-STANDING since r22 ([[Materialize.shared]], extending the
    * r19/r20 hashedDocTable/spanTable precedent one derivation up):
    * ten declared queries (q37, q80, q82, q87, q123, q133, q134, q135,
    * q137, q145, the q132 lexical side) each consumed
    * `lshNearDup(spark, dir)` and re-ran banding + exact verify per
    * query on top of the already-standing hash table. The verified pair
    * table IS the deployment artifact [[graft.operators.Curation.pairTable]]
    * / persistPairTable describe (one dedup batch refreshes it; graph,
    * cluster, leakage and weighting queries consume it), so one build
    * per session is the deployment cadence, not a bench trick — a fresh
    * session (the bench's isolated pass) still measures the full
    * build. Pairs are deterministic, and d1/d2/jaccard round-trip
    * parquet bit-exactly; the orderBy is re-applied on read because a
    * parquet stage does not preserve order. */
  def lshNearDup(spark: SparkSession, dir: String): DataFrame =
    Materialize.shared("lshPairTable", hashedDocTable(spark, dir))(
      lshNearDupBuild(spark, dir)).orderBy("d1", "d2")

  /** The pair-table build pipeline itself, un-staged — the body of the
    * shared cell, exposed so PlanGuardSpec can keep pinning the BUILD's
    * join shape (verify sides broadcast) now that the consumer plan is a
    * parquet read. */
  private[graft] def lshNearDupBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = hashedDocTable(spark, dir)
    lshVerify(bandCandidates(docs), docs)
  }

  /** Exact-Jaccard verify of an LSH candidate set against the per-doc
    * hash-array table — shared by [[lshNearDup]] and [[lshNearDupCapped]]. */
  private def lshVerify(cands: DataFrame, docs: DataFrame): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("d1"), col("hs").as("h1"), col("n").as("n1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("hs").as("h2"), col("n").as("n2")), "d2")
      .withColumn("common", expr("sorted_intersect_count(h1, h2)"))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("n1") + col("n2") - col("common")), 6))
      .filter(col("jaccard") >= 0.6)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")

  /** Band-bucket occupancy cap for [[lshNearDupCapped]]: a (band,
    * signature) bucket holding more documents than this is boilerplate
    * banding together — its pairs are either re-found through the other
    * bands or are exactly the viral near-identical content a dedup pass
    * handles via exact dedup (q34) first. Sized ~4× the observed max
    * bucket across SFs (10 at sf0.1), so results are unchanged on this
    * corpus while any one bucket's candidate fan-out stays ≤ cap²/2 at
    * any scale — the header's former "salted or capped at real scale"
    * note as code (DedupSpec pins both the equality and the bound). */
  val BandBucketCap = 40

  /** [[lshNearDup]] with the deployment skew guard: candidate GENERATION
    * skips (band, sig) buckets holding more than `bucketCap` documents —
    * the occupancy count is one window over the same (band, sig) key the
    * join shuffles on, so the guard rides the existing exchange. Verify
    * is identical; output equals [[lshNearDup]] whenever no bucket
    * exceeds the cap (the declared corpus case), and is a subset
    * otherwise. */
  def lshNearDupCapped(spark: SparkSession, dir: String,
                       bucketCap: Int = BandBucketCap): DataFrame = {
    val docs = hashedDocTable(spark, dir)
    lshVerify(bandCandidates(docs, bucketCap), docs)
  }

  /** q121: LSH pair-recall audit — the dedup-family analogue of the ANN
    * recall audits (q88/q109): which exact near-dup pairs does the
    * 4-band×4-row MinHash banding actually catch? The exact baseline
    * blocks on shared hashed shingles with df ≤ [[ShingleDfCap]] (q35's
    * blocking semantics moved to the hashed domain) and verifies with
    * the SAME full-array jaccard the LSH verify uses — both sides judge
    * a pair identically, so `caught` isolates the banding's behavior:
    * the measured value of the theoretical S-curve on THIS corpus,
    * shipped as a hash-gated query instead of a theory note.
    *
    * Scale shape: one staged hash-array table feeds the banding (q37's
    * shape), the blocked exact self-join (worst task ≤ dfCap²/2 rows per
    * shingle — the q35 guard), and the SINGLE verify pass; the final
    * audit join is the verified exact pairs against the raw band
    * candidate set (both ≪ corpus). */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = hashedDocTable(spark, dir)
    // exact side: df-blocked shared-shingle candidates, verified ONCE.
    // STAGED (r22, guide §2.4): the blocking self-join references this
    // frame on both sides, and the r21 plan recomputed the full
    // explode + df-window sort per side (the exact side's dominant
    // cost); one stage computes it once and both join sides read the
    // materialized (already df-filtered, smaller) table. A
    // census+bucket-collect_list+pair-explode reformulation (the
    // dupHitsTwoPhase shape at pair grain) was ALSO measured here and
    // came out 0.9 s SLOWER at sf0.1 (3.46 vs 2.54 s in-suite) — the
    // interpreted nested-transform pair explode and the extra census
    // exchange cost more than the window sort they replace.
    val ds = docs.select(col("doc_id"), explode(col("hs")).as("hp"))
    val blocked = ds
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("hp"))))
      .filter(col("df") <= ShingleDfCap)
      .select("doc_id", "hp")
      .staged
    val exact = lshVerify(
      blocked.as("a")
        .join(blocked.as("b"),
          col("a.hp") === col("b.hp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct(),
      docs)
    // ONE verify pass (VERDICT r17 task #3): the audit reports exact-
    // verified pairs only, and every output pair already carries
    // jaccard ≥ 0.6 — so a band candidate that WOULD pass the LSH
    // verify is, restricted to this output, exactly a band candidate
    // that IS an exact pair. `caught` therefore needs only MEMBERSHIP
    // in the unverified banding candidate set; the second lshVerify the
    // old shape ran over the band candidates recomputed a jaccard the
    // exact side had already proven. Output is hash-identical.
    exact
      .join(bandCandidates(docs).withColumn("c", lit(true)),
        Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"), col("jaccard"),
        coalesce(col("c"), lit(false)).as("caught"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Character 4-gram Jaccard near-dup pairs (threshold 0.5) — the
    * character-level dual of the word-shingle variant; robust to
    * whitespace/tokenization differences. Same distinct-gram equality
    * self-join shape; the char-gram explode is an expr-level transform
    * (substring over a position sequence).
    *
    * Formulation note (both measured at sf0.1): the gram-equality
    * self-join explodes on this corpus's tiny vocabulary — every common
    * gram contributes df²/2 joined rows before the (d1,d2) re-aggregation
    * (15.3 s). Holding each doc's distinct grams as ONE array row and
    * computing `array_intersect` per candidate pair bounds the work at
    * exactly |pairs| row operations with no gram shuffle at all — the
    * probe side broadcasts, so the scan side never moves. Document-
    * frequency prefix filtering was also measured: SLOWER here (19 s) —
    * dense "rare" grams pay an extra verify join for little pruning. On
    * any corpus the MinHash-LSH path ([[lshNearDup]]) is the true scale
    * answer; this is the exact baseline. */
  def chargramNearDup(spark: SparkSession, dir: String): DataFrame = {
    val nPart = spark.sparkContext.defaultParallelism
    val grams = Tables.documents(spark, dir)
      .filter(col("doc_id") < 1000)
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"),
        array_sort(array_distinct(expr(
          "transform(sequence(1, length(text) - 3), i -> xxhash64(substring(text, i, 4)))"))).as("g"))
      .withColumn("n", size(col("g")).cast("long"))
    val a = grams.select(col("doc_id").as("d1"), col("g").as("g1"), col("n").as("n1"))
      // the documents scan is one small file = one partition; spread the
      // streamed side so the pair loop uses every core
      .repartition(nPart)
    val b = grams.select(col("doc_id").as("d2"), col("g").as("g2"), col("n").as("n2"))
    a.join(broadcast(b), col("d1") < col("d2"))
      .withColumn("common", expr("sorted_intersect_count(g1, g2)"))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("n1") + col("n2") - col("common")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** Bounded probe range for the exact PAIRWISE detectors (q39 simhash
    * pairs, q61 embedding cosine pairs) and therefore for the q132
    * cross-modal audit population that joins them — the all-pairs exact
    * check is the correctness baseline, so its population is a fixed
    * declared budget, not corpus-sized (the [[Similarity.ProbeCap]]
    * philosophy at pair grain). ONE named constant (ADVICE r15):
    * interpolated into the q39/q61/q132 oracles so the operator and the
    * oracle can never drift apart. */
  val PairProbeBound = 300L

  /** Embedding-cosine near-dup pairs (the vector-space dedup method):
    * all pairs within a bounded probe range above a cosine threshold. At
    * scale the pair space is pruned by the ANN bucket join first
    * (Similarity.annBucketed / rpLshAnn); this is the exact check. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    // Feeds both join sides; materialized once (Materialize.stage).
    val emb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < PairProbeBound)
      .withColumn("nrm", Similarity.norm(col("embedding")))
      .staged
    emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        Similarity.cosine(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")))
      .filter(round(col("cosine"), 6) >= 0.35)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("v1"), col("v2"))
  }

  /** 32-bit SimHash fingerprints from token hashes (repeats weighted). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val th = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("token"))
      .withColumn("h", Hashing.h32(col("token")))
    val bitSums = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"s$b"))
    val combined = (0 until 32)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    th.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), combined.as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ 6 within a bounded probe
    * subset (the full-scale variant bands simhash bits exactly like
    * MinHash-LSH). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhash(spark, dir).filter(col("doc_id") < PairProbeBound)
    sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .orderBy(col("d1"), col("d2"))
  }

  /** q132: cross-modal dup-agreement audit (VERDICT r14 #3) — do the
    * LEXICAL near-dup detector ([[lshNearDup]], MinHash-LSH + exact
    * Jaccard ≥ 0.6) and the EMBEDDING near-dup detector
    * ([[embeddingNearDup]], pairwise cosine) flag the same pairs? The
    * audit joins the two verified pair tables on the pair key and
    * sweeps the embedding cosine cut: per threshold, both pair counts,
    * the overlap, precision/recall of the embedding method against the
    * lexical pairs as reference (which read inverted are recall/
    * precision of the lexical method against the embedding pairs — both
    * directions from two columns), and the smallest disagreeing pair
    * each way as a deterministic inspection sample. This is the
    * multimodal-consistency check a curation pipeline runs before
    * trusting one modality's dedup to stand in for the other, and it
    * completes the audit family (q88/q109/q121/q127).
    *
    * Id spaces: on this corpus `vec_id` i is document i's embedding, so
    * the pair keys align directly; the lexical side is restricted to
    * [[embeddingNearDup]]'s bounded probe range so both detectors judge
    * the same population. A deployment passes its own two pair tables
    * to [[crossModalAgreementFrom]] with whatever id mapping joins
    * them.
    *
    * Scale shape: both inputs are blocked, verified PAIR tables (≪
    * corpus — each already bounded by its own blocking structure), the
    * audit is one full-outer equi-join on the pair key, and the
    * threshold sweep is a 4-row broadcast against that join's output —
    * flat at any corpus scale: BASELINE.md §"Round-15 additions
    * (q132–q143 + declared-k q83) at 10×", row `crossmodal_audit_staged`
    * (this audit over pre-staged pair tables), 0.45 s at sf0.1 and 0.52 s
    * at sf1, 1.2×. The `crossmodal_audit` row's 5.0× is the in-query
    * build of both pair tables, not the audit. */
  def crossModalAgreement(spark: SparkSession, dir: String): DataFrame =
    crossModalAgreementFrom(
      lshNearDup(spark, dir)
        .filter(col("d1") < PairProbeBound && col("d2") < PairProbeBound),
      embeddingNearDup(spark, dir))

  /** [[crossModalAgreement]] over explicit pair tables: `lexPairs`
    * carries (d1, d2), `embPairs` (v1, v2, cosine) with cosine already
    * rounded to the 1e-6 grid; the two id spaces must join directly. */
  def crossModalAgreementFrom(lexPairs: DataFrame, embPairs: DataFrame): DataFrame = {
    val lex = lexPairs.select(col("d1").as("a"), col("d2").as("b"),
      lit(true).as("in_lex"))
    val emb = embPairs.select(col("v1").as("a"), col("v2").as("b"), col("cosine"))
    val joined = lex.join(emb, Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        coalesce(col("in_lex"), lit(false)).as("in_lex"), col("cosine"))
    // zero-padded pair label so string MIN is numeric pair order
    val pairKey = concat(lpad(col("a").cast("string"), 6, "0"), lit("-"),
      lpad(col("b").cast("string"), 6, "0"))
    val thresholds = explode(array(Seq(0.35, 0.5, 0.65, 0.8).map(lit): _*))
    val inEmb = col("cosine") >= col("thr") // null cosine → null → false in agg
    joined
      .crossJoin(broadcast(joined.sparkSession.range(1)
        .select(thresholds.as("thr"))))
      .groupBy(col("thr"))
      .agg(
        sum(when(col("in_lex"), 1L).otherwise(0L)).as("n_lex"),
        sum(when(inEmb, 1L).otherwise(0L)).as("n_emb"),
        sum(when(col("in_lex") && inEmb, 1L).otherwise(0L)).as("n_both"),
        min(when(inEmb && !col("in_lex"), pairKey)).as("min_emb_only_pair"),
        min(when(col("in_lex") && (col("cosine").isNull || col("cosine") < col("thr")),
          pairKey)).as("min_lex_only_pair"))
      .select(col("thr"), col("n_lex"), col("n_emb"), col("n_both"),
        when(col("n_emb") > 0, floor(col("n_both") * 1e6 / col("n_emb")) / 1e6)
          .as("emb_precision"),
        when(col("n_lex") > 0, floor(col("n_both") * 1e6 / col("n_lex")) / 1e6)
          .as("emb_recall"),
        col("min_emb_only_pair"), col("min_lex_only_pair"))
      .orderBy(col("thr"))
  }
}
