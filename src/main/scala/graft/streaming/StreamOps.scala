package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.LocalFs
import graft.functions.MoneySum.trunc6
import graft.operators.Dedup
import graft.sources.Tables

/** Structured Streaming surface (SURVEY.md §2 Table B "Streaming", §7.7).
  *
  * The reference is a batch cron job, so streaming is an extension: the
  * same event-time semantics declared batch-first in operators.Events are
  * expressed here against unbounded sources — identical logical plans,
  * swapped source/sink. Watermarks bound state; windowed aggregation state
  * is per (window × key) and sessionization state is per active user, both
  * O(active keys), not O(stream length) — the property that matters when
  * the stream is 100 TB/day.
  */
object StreamOps {

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)

  case class SessionState(start: Long, last: Long, n: Long, sum: Double)

  case class SessionOut(user_id: Long, session_start: Long, n_events: Long,
                        sum_value: Double)

  /** Unbounded file source over the events layout: new parquet files in
    * `dir` are discovered and processed incrementally. The timestamp unit
    * is sniffed from an existing footer via the SAME [[Tables.tsReadPlan]]
    * the batch reader uses — one definition of the conversion, so the two
    * paths cannot fork (VERDICT r11 item 5). An empty directory defaults
    * to native µs, the encoding Spark itself writes. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val (readSchema, finish) = Tables.tsReadPlan(spark, dir, Tables.eventsSchema, Seq("ts"))
    finish(spark.readStream.schema(readSchema).parquet(dir))
  }

  /** Tumbling 10-minute windowed counts with a 1-hour watermark: late rows
    * beyond the watermark are dropped, finalized windows are emitted once
    * (Append mode) and their state evicted. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Gap-based session windows (30-minute inactivity) via
    * flatMapGroupsWithState — the custom-state streaming dual of
    * operators.Events.sessionize, matching its output for EVERY
    * in-watermark arrival order.
    *
    * State is the per-user set of OPEN sessions, not just the latest:
    * with a watermark delay longer than the gap, an in-watermark
    * straggler can open an earlier session that a later straggler must
    * merge into (or that a middle event must BRIDGE with the current
    * one) — single-session state either rewinds the current session
    * across a genuine >gap silence or freezes stragglers into premature
    * singletons; both diverge from the batch dual. A session closes only
    * when the event-time watermark passes `last + gap` (no admissible
    * event can extend or bridge it anymore), which makes emission
    * decisions watermark-driven exactly like the built-in windowed
    * aggregation. State is O(open sessions per user) — bounded by
    * watermark-delay/gap, independent of stream length.
    *
    * STATE-FORMAT BREAK (round 8): the state type changed from
    * `GroupState[SessionState]` to `GroupState[Seq[SessionState]]` when
    * multi-open-session merge landed. A query restarted from a checkpoint
    * written by the single-session version fails state deserialization
    * rather than migrating — discard existing sessionization checkpoints
    * when upgrading across that boundary (the windowed/dedup stages use
    * builtin state formats and are unaffected). */
  def sessionizeStream(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000

    def fn(userId: Long, batch: Iterator[Ev],
           state: GroupState[Seq[SessionState]]): Iterator[SessionOut] = {
      var sessions = state.getOption.getOrElse(Seq.empty)
      val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.foreach { e =>
        val t = e.ts.getTime
        // merge with every session whose interval is within the gap of t;
        // one event can bridge two previously-separate sessions
        val (overlap, rest) = sessions.partition(s =>
          t - s.last <= gapMs && s.start - t <= gapMs)
        val merged = overlap.foldLeft(SessionState(t, t, 1, e.value)) { (acc, s) =>
          SessionState(math.min(acc.start, s.start), math.max(acc.last, s.last),
            acc.n + s.n, acc.sum + s.sum)
        }
        sessions = merged +: rest
      }
      // close sessions the watermark has passed — no in-watermark event
      // can reach within the gap of their last activity anymore
      val wm = state.getCurrentWatermarkMs()
      val (closed, open) = sessions.partition(_.last + gapMs <= wm)
      if (open.isEmpty) state.remove()
      else {
        state.update(open)
        state.setTimeoutTimestamp(open.map(_.last).min + gapMs)
      }
      closed.sortBy(_.start)
        .map(s => SessionOut(userId, s.start / 1000, s.n, s.sum)).iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Gap-based session windows on Spark's NATIVE `session_window` +
    * `withWatermark` (r19) — engine-managed session state (gap
    * extension, window merge, watermark expiry) instead of
    * [[sessionizeStream]]'s explicit flatMapGroupsWithState machine.
    * In Append mode a session emits exactly once, when the event-time
    * watermark passes its end (last event + gap) — the same closure
    * rule the custom machine applies — and its state is evicted, so
    * state stays O(open sessions), independent of stream length.
    * Output schema matches the batch q22 row minus the global
    * session_seq (a per-user ordinal over ALL sessions is only
    * assignable once no earlier session can still close).
    *
    * The same expression runs in BATCH over the same frame (Spark
    * evaluates `session_window` in both modes), which is what the spec
    * pins row-equal to the stream and to q22's window-function
    * formulation. Boundary semantics: `session_window` merges a new
    * event whose window start EQUALS the open session's end (inclusive
    * merge), the same call q22's `diff > gap` test makes on an
    * exact-1800 s follower — pinned by the spec's synthetic boundary
    * event so an engine version changing the comparison surfaces as a
    * test failure, not a silent batch-vs-stream fork. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        floor(min(col("ts").cast("double"))).cast("long").as("session_start"),
        count(lit(1)).as("n_events"),
        round(graft.functions.MoneySum.sumAsDouble(col("value"), 1e2), 2).as("sum_value"),
        floor(max(col("ts").cast("double")) - min(col("ts").cast("double"))).cast("long")
          .as("duration_s"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("sum_value"), col("duration_s"))

  /** [[sessionWindowAgg]] with the streaming watermark — the
    * engine-managed dual of [[sessionizeStream]]. */
  def sessionWindowStream(events: DataFrame): DataFrame =
    sessionWindowAgg(events.withWatermark("ts", "1 hour"))

  /** Stream-static join: enrich the event stream with a static dimension
    * (broadcast to every microbatch — the static side is planned once and
    * reused; no stream-side state). */
  def enrichedStream(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col("user_id") === col("c_custkey"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("UNKNOWN")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("segment"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("segment"), col("n_events"))

  /** Stream-stream interval join: the streaming dual of the batch
    * range/as-of family (Temporal.rangeJoin / asofJoinTolerance) — two
    * live event streams joined on key with a bounded time band (here:
    * purchases attributed to every same-user click at or before them and
    * within `bandSec`). Emits the full in-band pair set; a last-touch
    * selection on top is a per-key agg consumers add as needed (the
    * batch q107 shape).
    *
    * BOTH sides are watermarked and the join condition bounds each side's
    * event time by the other's — the two facts Spark's state cleanup
    * needs: a buffered click is dropped once the purchase-side watermark
    * passes click.ts + band, a buffered purchase once the click side
    * passes purchase.ts. State is O(in-flight band), not O(stream). */
  def intervalJoinStream(clicks: DataFrame, purchases: DataFrame,
                         bandSec: Int = 3600): DataFrame = {
    val l = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("l_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val r = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("r_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    l.join(r, col("l_user") === col("r_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $bandSec seconds"))
      .select(col("purchase_id"), col("click_id"), col("r_user").as("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** A streamed document: payload text + its arrival event time. */
  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Streaming exact dedup — the streaming dual of Dedup.dedupExact and
    * the core LLM-pipeline streaming op: drop re-occurrences of a
    * normalized document fingerprint inside the dedup horizon.
    * dropDuplicatesWithinWatermark keeps ONE state entry per distinct
    * fingerprint and evicts it once event time passes the watermark, so
    * state is bounded by (dedup horizon × distinct-rate), not stream
    * length — at 100 TB/day the horizon is the operating knob. Exact
    * dedup beyond the horizon (or fuzzy dedup) runs as the batch
    * Dedup.* jobs over the deduped sink. */
  def dedupStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", Dedup.textFp)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming decontamination — the streaming dual of
    * Curation.decontaminate: drop in-flight documents sharing ≥ minShared
    * distinct 3-token shingles with ANY SINGLE eval/benchmark document
    * (`evalDocs` is one shingle set per eval doc — the same
    * per-(doc, eval-doc) threshold the batch operator's groupBy applies;
    * pooling all eval grams into one set would over-drop docs that share
    * one shingle each with two different eval docs).
    *
    * The eval set is benchmark data — static, MB-scale — so it ships to
    * executors as a literal array-of-arrays and the check is a per-row
    * `transform` + `array_intersect` max: completely STATELESS (no
    * watermark, no streaming state, no shuffle), which is the property
    * that lets this run inline on a 100 TB/day ingest stream. */
  def decontaminateStream(docs: DataFrame, evalDocs: Seq[Seq[String]],
                          minShared: Int = 2): DataFrame = {
    if (evalDocs.isEmpty) return docs
    val evalArr = typedLit(evalDocs.map(_.toArray).toArray)
    docs
      .withColumn("toks", Dedup.toks)
      .withColumn("grams",
        when(size(col("toks")) >= 3, array_distinct(Dedup.shingleCol))
        .otherwise(typedLit(Array.empty[String])))
      .withColumn("n_shared",
        array_max(transform(evalArr, ev => size(array_intersect(col("grams"), ev)))))
      .filter(col("n_shared") < minShared)
      .drop("toks", "grams", "n_shared")
  }

  /** The q66 feature set computed STATELESSLY per row — the batch gate
    * gets the token histogram from explode + groupBy; a streaming
    * groupBy would need state, so the histogram max comes from a
    * per-row higher-order-function pass: O(tokens × distinct) per
    * document, bounded by document length, entirely in codegen. ONE
    * definition shared by the rule gate ([[gateStream]]) and the
    * learned gate ([[mlScoreStream]]) so the two can never drift
    * (review finding r14). */
  private def perRowGateFeatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", Dedup.toks)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("n_distinct",
        size(array_distinct(col("toks"))).cast("long"))
      .withColumn("max_tok",
        array_max(transform(array_distinct(col("toks")),
          t => size(filter(col("toks"), x => x === t)))).cast("long"))

  /** Streaming quality gate — the streaming dual of Curation.qualityGate:
    * the same Gopher-style keep rules (≥ 30 tokens, type-token ratio
    * ≥ 0.45, top-token ratio ≤ 0.15, identical 6-dp floor semantics)
    * computed STATELESSLY per row ([[perRowGateFeatures]]), so the gate
    * runs inline on the ingest stream with no state store and no
    * shuffle. */
  def gateStream(docs: DataFrame): DataFrame =
    perRowGateFeatures(docs)
      .withColumn("keep",
        col("n_tokens") >= 30 &&
        trunc6(col("n_distinct") * lit(1.0) / col("n_tokens")) >= 0.45 &&
        trunc6(col("max_tok") * lit(1.0) / col("n_tokens")) <= 0.15)
      .drop("toks", "n_distinct", "max_tok")

  /** Streaming model-based quality scoring — q125's learned filter at
    * ingest rate, next to [[gateStream]]'s rule gate: the q66 feature
    * set is computed STATELESSLY per row (gateStream's
    * higher-order-function histogram plus the per-row length fold) and
    * the broadcast one-row weight table scores it through the SHARED
    * [[graft.operators.Curation.mlScoreCol]] logistic — identical
    * floored features through an identical expression, so replayed
    * corpus docs score exactly the batch q125 row (StreamingSpec pin).
    * No state store, no shuffle; a deployment drops rows under a score
    * threshold inline. */
  def mlScoreStream(docs: DataFrame, weights: DataFrame): DataFrame = {
    import graft.operators.Curation
    perRowGateFeatures(docs)
      .withColumn("sum_len", aggregate(
        transform(col("toks"), t => length(t).cast("long")),
        lit(0L), (a, x) => a + x))
      .withColumn("ttr", trunc6(col("n_distinct") * lit(1.0) / col("n_tokens")))
      .withColumn("top_ratio", trunc6(col("max_tok") * lit(1.0) / col("n_tokens")))
      .withColumn("mean_tok_len", trunc6(col("sum_len") * lit(1.0) / col("n_tokens")))
      .crossJoin(broadcast(weights))
      .withColumn("ml_score", Curation.mlScoreCol)
      .select(col("doc_id"), col("n_tokens"), col("ttr"), col("top_ratio"),
        col("mean_tok_len"), col("ml_score"),
        (col("ml_score") >= 0.5).as("keep_ml"))
  }

  /** Streaming within-document self-repetition — q130 at ingest rate,
    * and the one span-family member that needs NO corpus index at all:
    * self-repetition is a property of the document alone, so the whole
    * verdict is per-row column math over the SAME shared
    * [[graft.operators.Curation.spanHashes]] fingerprints — count each
    * span's occurrences within its own hash array, union the flagged
    * spans' covered positions, ratio. O(spans²) per row, bounded by
    * document length (the gateStream histogram precedent), zero
    * shuffle, zero state, zero broadcast. StreamingSpec pins replayed
    * corpus docs row-for-row equal to batch q130 (docs shorter than
    * SpanW carry no spans and are dropped on both sides). */
  def selfRepeatStream(docs: DataFrame): DataFrame = {
    import graft.operators.Curation.{SpanW, spanHashes, tokHashes}
    docs
      .withColumn("toks", Dedup.toks)
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= SpanW)
      .withColumn("tokh", tokHashes)
      .withColumn("hs", spanHashes)
      .withColumn("flagged",
        filter(sequence(lit(0), size(col("hs")) - 1), i =>
          size(filter(col("hs"), x => x === element_at(col("hs"), i + 1))) >= 2))
      .withColumn("covered", array_distinct(flatten(
        transform(col("flagged"), i => sequence(i, i + (SpanW - 1))))))
      .select(
        col("doc_id"), col("n").as("n_tokens"),
        size(col("flagged")).cast("long").as("n_self_spans"),
        size(col("covered")).cast("long").as("n_covered"),
        (floor(size(col("covered")) / col("n") * 1e6) / 1e6).as("self_ratio"))
  }

  /** Streaming within-document n-gram repetition — q143 at ingest rate,
    * the second index-free span-family member after [[selfRepeatStream]]:
    * top_frac/dup_frac for n ∈ {2,3,4} are properties of the document
    * alone, computed by the native `ngram_rep` kernel per row inside
    * whole-stage codegen. The column program IS batch q143's
    * ([[graft.operators.Curation.ngramRepVerdict]] — one shared
    * definition, the spanVerdict convention) minus only the presentation
    * sort a continuous sink has no notion of. Zero shuffle, zero state,
    * zero broadcast: the admission decision ("is this document
    * degenerate repetition?") lands before any corpus-index gate needs
    * to run, completing the within-doc-quality gate family at ingest
    * rate. StreamingSpec pins replayed corpus docs row-for-row equal to
    * batch q143. */
  def ngramRepStream(docs: DataFrame): DataFrame =
    graft.operators.Curation.ngramRepVerdict(docs)

  /** Streaming near-dup candidate flagging — the streaming dual of the
    * LSH banding join: each in-flight document computes its MinHash
    * signature PER ROW with the native `minhash_sig16` kernel (zero
    * shuffle, no state) and its 4 band keys; a stream-static join against
    * the corpus's band index flags documents that land in an occupied
    * bucket. Flagged docs are candidates, not verdicts — the exact
    * verify runs in the batch layer, so the stream stays stateless and
    * the only stream-side cost is the signature computation.
    *
    * At 100 TB the band index is the corpus's (band, sig) → any-doc
    * projection — far smaller than the corpus and broadcast-joinable;
    * refreshing it is a batch job, which is exactly the
    * lambda-architecture split real near-dup pipelines use.
    *
    * Output is one row per (doc, matching band) — a candidate FEED, not
    * a per-doc verdict: collapsing to per-doc would need streaming state
    * (dropDuplicates over an unbounded key set), and the batch verify
    * consuming this feed dedups anyway. */
  def nearDupCandidatesStream(docs: DataFrame, bandIndex: DataFrame): DataFrame = {
    val shingles = when(size(col("toks")) >= 3, Dedup.shingleCol)
      .otherwise(typedLit(Array.empty[String]))
    val sig = call_function("minhash_sig16",
      transform(shingles, s => graft.functions.Hashing.h32p(s)))
    val bandStructs = (0 until graft.functions.Hashing.Bands).map { bnd =>
      val cols = (0 until graft.functions.Hashing.RowsPerBand)
        .map(r => element_at(col("sig"), bnd * graft.functions.Hashing.RowsPerBand + r + 1))
      struct(lit(bnd).as("band"), concat_ws(",", cols: _*).as("band_sig"))
    }
    docs
      .withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .withColumn("sig", sig)
      .withColumn("bs", explode(array(bandStructs: _*)))
      .select(col("doc_id"), col("ts"),
        col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
      .join(broadcast(bandIndex), Seq("band", "band_sig"), "left_semi")
  }

  /** The corpus fingerprint Bloom sketch as `nShards` (shard, bloom)
    * rows for stream-static use — one batch pass over the corpus's
    * distinct fingerprints
    * ([[graft.operators.Curation.bloomWordsSharded]]), refreshed like
    * [[corpusBandIndex]]. One shard is one array; more shards lift the
    * single-array ceiling when the corpus index outgrows it. */
  def corpusBloom(spark: SparkSession, dir: String, nShards: Int): DataFrame =
    graft.operators.Curation.bloomWordsSharded(
      Tables.documents(spark, dir).select(Dedup.textFp.as("fp")).distinct(), nShards)

  /** Streaming exact-dup screening against the CORPUS — the stream-side
    * half of q94's lambda split (dedupStream handles the stream's OWN
    * horizon; this asks "have we ever ingested this document before?").
    * Each in-flight document joins its owning shard's corpus-sized sketch
    * ([[corpusBloom]] built with the same `nShards`; KBs–MBs, ~28 bits
    * per indexed fingerprint) by a stream-static broadcast join on the
    * routing hash and tests its fingerprint in pure column math:
    * STATELESS, no shuffle, no state store, which is what lets it run
    * inline on a 100 TB/day stream where the real corpus index could
    * never be joined per microbatch. `maybe_dup = false` is DEFINITIVE
    * (bloom negatives never lie) — those docs are admitted immediately;
    * `true` rows are candidates the batch layer verifies exactly, same
    * split as [[nearDupCandidatesStream]]. */
  def bloomGateStream(docs: DataFrame, shards: DataFrame, nShards: Int): DataFrame =
    docs
      .withColumn("fp", Dedup.textFp)
      .withColumn("shard", graft.operators.Curation.bloomShardCol(nShards))
      .join(broadcast(shards), Seq("shard"))
      .withColumn("maybe_dup", graft.operators.Curation.bloomHit)
      .drop("shard", "bloom")

  /** A streamed ANN query: id + embedding (the probe stream's shape). */
  case class Probe(vec_id: Long, embedding: Seq[Float])

  /** A metadata-bearing document arrival (the columns the drift monitor
    * bins on). */
  case class DocMeta(doc_id: Long, ts: java.sql.Timestamp, text: String,
      lang: String, n_chars: Long)

  /** The IVF centroid table as ONE broadcastable row (`cells`: sorted
    * array of (cell, cvec, cnrm) structs) — the static side of
    * [[ivfRouteStream]], refreshed by a scheduled batch job exactly like
    * [[corpusBloom]]/[[corpusSpanIndex]]; q110's refresh census audits
    * the SAME fixed quantizer (first-`nlist` seeds), so the streaming
    * router and the occupancy monitor read one index definition. */
  def corpusIvfIndex(spark: SparkSession, dir: String, nlist: Int): DataFrame = {
    import graft.operators.Similarity
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
      .withColumn("cnrm", Similarity.norm(col("cvec")))
      .agg(array_sort(collect_list(struct(col("cell"), col("cvec"),
        col("cnrm")))).as("cells"))
  }

  /** Streaming IVF probe routing — the ANN surface's streaming dual: each
    * arriving query vector routes to its top-`nprobe` cells against the
    * broadcast one-row centroid index in PURE per-row array math
    * (transform → explicit-comparator array_sort → slice → posexplode):
    * STATELESS, no shuffle, no state store — the window/row_number
    * routing the batch path uses is illegal on a stream and would
    * shuffle anyway; nlist is broadcast-sized so the per-row sort is
    * O(nlist log nlist) column work. Emits (vec_id, prn, cell, pcos) ==
    * [[graft.operators.Similarity.probeCells]]'s routing — StreamingSpec
    * pins batch = stream equality, so a downstream scorer reads exactly
    * the inverted lists the batch index would read. The explicit
    * comparator mirrors the batch (pcos DESC, cell ASC) order including
    * ties; identical float inputs and the identical `vec_dot` chain make
    * the doubles — and therefore the routing — bit-equal. */
  def ivfRouteStream(probes: DataFrame, index: DataFrame, nprobe: Int): DataFrame = {
    import graft.operators.Similarity
    val scoredCells = transform(col("cells"), c =>
      struct(
        Similarity.cosine(col("embedding"), c.getField("cvec"), col("p_nrm"),
          c.getField("cnrm")).as("pcos"),
        c.getField("cell").as("cell")))
    val ranked = array_sort(scoredCells, (l, r) =>
      when(l.getField("pcos") > r.getField("pcos"), lit(-1))
        .when(l.getField("pcos") < r.getField("pcos"), lit(1))
        .otherwise(when(l.getField("cell") < r.getField("cell"), lit(-1))
          .when(l.getField("cell") > r.getField("cell"), lit(1))
          .otherwise(lit(0))))
    probes
      .withColumn("p_nrm", Similarity.norm(col("embedding")))
      .crossJoin(broadcast(index))
      .withColumn("routed", slice(ranked, 1, nprobe))
      .select(col("vec_id"), posexplode(col("routed")).as(Seq("p0", "rc")))
      .select(col("vec_id"), (col("p0") + 1).cast("long").as("prn"),
        col("rc.cell").as("cell"), col("rc.pcos").as("pcos"))
  }

  /** The corpus's duplicated-span index as `nShards` (shard, bloom,
    * span_idx) rows ([[graft.operators.Curation.spanIndexSharded]]): each
    * shard's Bloom sketch plus its exact sorted hash array, refreshed by
    * a batch job like [[corpusBandIndex]]/[[corpusBloom]]. Indexing the
    * ≥2-occurrence spans (not all spans) keeps the gates' semantics
    * aligned with batch q95: a corpus document replayed through a gate
    * reports exactly its batch keep_ratio (its own occ-1 spans don't
    * self-flag). [[spanGateStream]] broadcasts the whole index into every
    * row, so it takes `nShards = 1` and the dup-span index must fit a
    * broadcast (the same bound as the two-phase marker's broadcast set);
    * beyond that, [[spanGateStreamSharded]] routes each span to its
    * owning shard's row — same exact semantics, no one-row ceiling. */
  def corpusSpanIndex(spark: SparkSession, dir: String, nShards: Int): DataFrame =
    graft.operators.Curation.spanIndexSharded(
      graft.operators.Curation.dupSpanIndex(spark, dir), nShards)

  /** Streaming span-contamination gate — the stream-side q95
    * (spanDedup): each in-flight document fingerprints its sliding
    * [[graft.operators.Curation.SpanW]]-token spans with the SAME shared
    * definition the batch family uses, tests every span hash against the
    * broadcast one-shard duplicated-span index ([[corpusSpanIndex]] with
    * `nShards = 1`) in pure column math (inside a `transform` lambda —
    * no UDF, no shuffle, no state store), and reports the batch q95
    * row: n_dup_spans, n_covered, keep_ratio. A deployment drops rows
    * under a keep_ratio threshold at ingest rate and routes the rest on.
    *
    * The membership test is q94's bloom-then-verify split applied PER
    * ROW: the sketch test runs first and `AND` short-circuits, so the
    * overwhelmingly-negative spans never touch the exact array, and only
    * the sketch's candidate sliver (true dups + ≈ 3e-4 false positives)
    * pays the exact probe — binary search over the sorted index
    * (`sorted_array_contains`,
    * [[graft.functions.expressions.SortedArrayContains]]), log-cost in
    * the index size where `array_contains` would scan it — which makes
    * the gate's output
    * EXACTLY the batch q95 semantics (StreamingSpec pins doc-for-doc
    * equality), not an approximation. Stateless for the same reason as
    * [[bloomGateStream]]; docs shorter than SpanW tokens carry no spans
    * and pass with keep_ratio 1. */
  def spanGateStream(docs: DataFrame, spanIndex: DataFrame): DataFrame = {
    import graft.operators.Curation.{SpanW, bloomHitSql, spanHashes, spanVerdict, tokHashes}
    spanVerdict(docs
      .withColumn("toks", Dedup.toks)
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("tokh", tokHashes)
      .crossJoin(broadcast(spanIndex))
      .withColumn("span_hashes",
        when(col("n") >= SpanW, spanHashes)
          .otherwise(typedLit(Array.empty[String])))
      .withColumn("dup_flags",
        expr("transform(span_hashes, sh -> " +
          s"(${bloomHitSql("sh")}) AND sorted_array_contains(span_idx, sh))"))
      .drop("toks", "tokh", "shard", "bloom", "span_idx", "span_hashes"))
  }

  /** [[spanGateStream]] past the one-row index ceiling: against a
    * [[corpusSpanIndex]] of `nShards` rows, runs the SHARDED batch core
    * ([[graft.operators.Curation.spanGateSharded]]) on each microbatch
    * via foreachBatch. A per-row formulation can't shard — one document's
    * spans route to MANY shards, so attaching every shard's arrays to
    * every row would rebuild the one-row regime — but inside the bounded
    * microbatch the core's explode → shard equi-join → regroup is plain
    * batch Spark: cross-batch state is ZERO (no state store, exactly-once
    * via the checkpoint like any foreachBatch sink), and the verdict is
    * doc-for-doc the batch q95 row (StreamingSpec pins parity against
    * both [[spanGateStream]] and batch spanDedup). `sink` receives each
    * microbatch's verdict frame. */
  def spanGateStreamSharded(docs: DataFrame, shardIdx: DataFrame, nShards: Int)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(graft.operators.Curation.spanGateSharded(batch.toDF(), shardIdx, nShards))
      }
      .start()

  /** Streaming BM25 relevance scoring — the retrieval family's streaming
    * dual (q116's gate shape): each arriving document is scored against
    * the FIXED query-term set of the broadcast one-row
    * [[graft.operators.Retrieval.bm25QueryIndex]] (probe query terms +
    * frozen corpus statistics), emitting the batch q116 row
    * (probe_id, cand_id, n_terms, score) for every query the document
    * matches. A deployment uses this as topical routing/mining at ingest
    * rate: keep or tag documents relevant to standing queries.
    *
    * STATELESS, no shuffle, no state store: tokenize, per-query-term tf
    * (`size(filter(toks, …))`), the SHARED
    * [[graft.operators.Retrieval.termScore]] expression per matched
    * term, and a per-row fold over each probe's matched terms — the
    * per-term scores enter the fold as the same floor(·1e9) integers the
    * batch scorer feeds its decimal sum, so stream and batch scores are
    * equal EXACTLY, not approximately (StreamingSpec pins row-for-row
    * equality on replayed corpus docs). Documents sharing no query term
    * emit nothing, matching the batch inner join. */
  def bm25ScoreStream(docs: DataFrame, queryIndex: DataFrame): DataFrame = {
    import graft.operators.Retrieval
    val hits = filter(
      transform(col("qterms"), q =>
        struct(
          q.getField("probe_id").as("probe_id"),
          size(filter(col("toks"), t => t === q.getField("token")))
            .cast("long").as("tf"),
          q.getField("df").as("df"))),
      h => h.getField("tf") > 0 && h.getField("probe_id") =!= col("doc_id"))
    val scored = transform(col("hits"), h =>
      struct(
        h.getField("probe_id").as("probe_id"),
        floor(Retrieval.termScore(h.getField("tf"), h.getField("df"),
          col("dl"), col("n_docs"), col("avgdl")) * 1e9)
          .cast("long").as("s9")))
    val perProbe = transform(col("pids"), p =>
      struct(
        p.as("probe_id"),
        size(filter(col("scored"), s => s.getField("probe_id") === p))
          .cast("long").as("n_terms"),
        aggregate(filter(col("scored"), s => s.getField("probe_id") === p),
          lit(0L), (acc, s) => acc + s.getField("s9")).as("s9sum")))
    docs
      .withColumn("toks", Dedup.toks)
      .withColumn("dl", size(col("toks")).cast("long"))
      .crossJoin(broadcast(queryIndex))
      .withColumn("hits", hits)
      .withColumn("scored", scored)
      .withColumn("pids", array_distinct(transform(col("scored"),
        s => s.getField("probe_id"))))
      .select(col("doc_id").as("cand_id"), explode(perProbe).as("pp"))
      .select(col("pp.probe_id").as("probe_id"), col("cand_id"),
        col("pp.n_terms").as("n_terms"),
        round(col("pp.s9sum").cast("double") / 1e9, 6).as("score"))
  }

  /** The SQ8 ANN scorer's static side as ONE broadcastable row: the
    * per-dimension range arrays (the "trained" scalar quantizer,
    * [[graft.operators.Similarity.sq8Rng]]) plus the standing probe set
    * as a sorted array of (probe_id, p_emb) structs — refreshed by a
    * scheduled batch job exactly like [[corpusBloom]]/[[corpusIvfIndex]].
    * Codes-free on purpose: the stream side encodes each ARRIVING vector
    * itself, so the index stays probe-budget-sized however large the
    * corpus grows. */
  def corpusSq8Index(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    Similarity.sq8Rng(emb).crossJoin(
      Similarity.gridProbes(emb)
        .agg(array_sort(collect_list(struct(
          col("vec_id").as("probe_id"), col("embedding").as("p_emb"))))
          .as("probes")))
  }

  /** Streaming SQ8 ANN scoring — the compressed-storage tier's streaming
    * dual (q120's gate shape), completing the stream family next to the
    * bloom/span/IVF-routing/BM25 gates: each arriving vector is SQ8-
    * ENCODED against the broadcast range row with the SAME native
    * `sq8_codes` kernel the batch encode uses
    * ([[graft.operators.Similarity.sq8Code]]), then scored against
    * every standing probe by the SAME `sq8_l2` reconstruction kernel
    * ([[graft.operators.Similarity.sq8Dist]]) — identical float inputs
    * through identical expression nodes, so the stream's distances are
    * bit-equal to the batch scorer's (StreamingSpec re-ranks replayed
    * corpus vectors and pins row-for-row equality with `sq8AnnFrom`).
    *
    * STATELESS: one broadcast crossJoin, per-row column math, an explode
    * over the probe array — no shuffle, no state store, no window (the
    * batch top-k is a downstream consumer's regroup; a deployment
    * typically gates on a distance threshold at ingest rate instead).
    * Emits (probe_id, cand_id, sqdist) at full precision. */
  def sq8ScoreStream(vecs: DataFrame, index: DataFrame): DataFrame = {
    import graft.operators.Similarity
    vecs.select(col("vec_id").as("cand_id"), col("embedding"))
      .crossJoin(broadcast(index))
      .select(col("cand_id"), col("probes"), col("mns"), col("mxs"),
        Similarity.sq8Code.as("codes"))
      .withColumn("p", explode(col("probes")))
      .withColumn("probe_id", col("p.probe_id"))
      .withColumn("p_emb", col("p.p_emb"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sqdist", Similarity.sq8Dist)
      .select(col("probe_id"), col("cand_id"), col("sqdist"))
  }

  /** The DSIR scorer's static side as ONE broadcastable row: the dense
    * 1024-entry array of integer-scaled log-likelihood ratios
    * (floor(llr·1e9), indexed by feature bucket), built from the SAME
    * [[graft.operators.Curation.dsirFeats]]/`dsirLrParts` definitions
    * as batch q128 — refreshed by a scheduled batch job like every
    * other stream index here. Buckets absent from the corpus
    * distributions carry the pure smoothing ratio
    * ln(1/(n_t+B)) − ln(1/(n_r+B)) (the c=0 case of the shared
    * formula), so a NOVEL stream document still scores; replayed corpus
    * documents never hit that branch, which is what makes the batch
    * equality pin exact. */
  def corpusDsirIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val docs = Tables.documents(spark, dir)
    val target = Curation.qualityGateShared(spark, dir)
      .filter(col("keep")).select(col("doc_id"))
    val feats = graft.operators.Materialize.stage(Curation.dsirFeats(docs))
    val (lr, nR, nT) = Curation.dsirLrParts(feats, target)
    val B = Curation.DsirBuckets
    // the 1024-probe element_at over a 1024-entry map is a one-time
    // index-build cost (the q94 densify lesson applied BEFORE the
    // per-row path, not in it)
    lr.agg(map_from_entries(collect_list(struct(col("b"),
        floor(col("llr") * 1e9).cast("long")))).as("m"))
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nT))
      .select(transform(sequence(lit(0L), lit(B - 1)), b =>
        coalesce(element_at(col("m"), b),
          floor((log(lit(1.0) / (col("n_t") + B)) -
            log(lit(1.0) / (col("n_r") + B))) * 1e9).cast("long")))
        .as("llr9"))
  }

  /** Streaming DSIR scoring — q128's importance weight at ingest rate:
    * each arriving document's hashed trigram buckets index the broadcast
    * dense llr9 array and fold to the integer-scaled log weight in pure
    * per-row column math — STATELESS, no shuffle, no state store. Emits
    * (doc_id, n_feats, log_w) with exactly the batch selector's
    * arithmetic (integer fold → /1e9 → 1e-6 floor), so replayed corpus
    * docs score identically row for row (StreamingSpec pin). The
    * selection itself stays a batch concern (top-k needs the
    * population); a deployment gates on a log_w threshold here instead. */
  def dsirScoreStream(docs: DataFrame, index: DataFrame): DataFrame = {
    import graft.operators.Curation
    val B = Curation.DsirBuckets
    docs
      .withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .withColumn("grams", Dedup.shingleCol)
      .crossJoin(broadcast(index))
      .withColumn("s9", aggregate(
        transform(col("grams"), g => element_at(col("llr9"),
          (graft.functions.Hashing.h32(g) % B).cast("int") + 1)),
        lit(0L), (acc, v) => acc + v))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_feats"),
        (floor(col("s9").cast("double") / 1e9 * 1e6) / 1e6).as("log_w"))
  }

  /** The corpus's duplicated-frame index as ONE broadcastable row: the
    * sorted long array of ≥2-occurrence frame hashes — the static side
    * of [[frameGateStream]], refreshed by a batch job like
    * [[corpusSpanIndex]]. Indexing only the DUPLICATED frames keeps the
    * gate's semantics aligned with batch q131 (a replayed corpus asset
    * reports exactly its batch row). */
  def corpusFrameIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.frameRows(Tables.documents(spark, dir))
      .groupBy(col("fhash")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .agg(sort_array(collect_list(col("fhash"))).as("frame_idx"))
  }

  /** Streaming frame-dedup gate — q131 at ingest rate (the media-asset
    * admission check an image/video pipeline runs before paying decode
    * + embedding costs on a mirrored clip): each arriving payload
    * fingerprints its frames with the SAME shared
    * [[graft.operators.Multimodal.frameRows]] definition (as per-row
    * array math) and binary-searches each hash against the broadcast
    * dup-frame index (`sorted_array_contains` — log-cost in the index).
    * No Bloom prefilter, unlike the span gate: a payload carries
    * ~len/256 frames (single digits), not ~len span hashes, so the
    * per-row probe count is already tiny. STATELESS; emits the batch
    * q131 row (n_frames, n_dup_frames, dup_ratio) — StreamingSpec pins
    * replayed corpus assets doc-for-doc.
    *
    * Known divergence for NOVEL assets (ADVICE r14 — the
    * [[dsirScoreStream]] n_feats convention): the gate tests arriving
    * frames against the CORPUS dup-frame index only, so a novel payload
    * whose frames repeat within itself (a looping clip), or two
    * identical frames landing in one microbatch, reports zero dup
    * frames — where batch q131 run on a corpus CONTAINING that asset
    * would flag them. The batch-equality pin therefore holds exactly
    * for replayed corpus assets; an admission deployment that must
    * catch looping clips adds an intra-payload self-dup term (count
    * frame hashes repeated within `text`'s own frame list — pure
    * per-row array math, no state) alongside the corpus probe. */
  def frameGateStream(docs: DataFrame, frameIndex: DataFrame): DataFrame = {
    import graft.functions.Hashing
    docs
      .withColumn("nc", length(col("text")).cast("long"))
      .withColumn("n_frames", greatest(ceil(col("nc") / 256.0), lit(1L)))
      .crossJoin(broadcast(frameIndex))
      .withColumn("n_dup_frames",
        size(filter(
          transform(sequence(lit(0L), col("n_frames") - 1), i =>
            Hashing.h32(col("text").substr((i * 256 + 1).cast("int"), lit(256)))),
          h => call_function("sorted_array_contains", col("frame_idx"), h)))
          .cast("long"))
      .select(col("doc_id"), col("n_frames"), col("n_dup_frames"),
        (floor(col("n_dup_frames") / col("n_frames") * 1e6) / 1e6).as("dup_ratio"))
  }

  /** The semantic-decontamination gate's static side as ONE
    * broadcastable row: the eval suite's (eval_id, e_emb, e_nrm)
    * structs, norms precomputed by the SAME [[Similarity.norm]] chain
    * the batch query uses — refreshed whenever the eval suite changes
    * (rarely). The declared eval set is q136's capped probe grid. */
  def corpusEvalIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    Similarity.gridProbes(Tables.embeddings(spark, dir))
      .agg(collect_list(struct(col("vec_id").as("eval_id"),
        col("embedding").as("e_emb"),
        Similarity.norm(col("embedding")).as("e_nrm"))).as("evals"))
  }

  /** Streaming semantic-decontamination gate — q136 at ingest rate: each
    * arriving vector's cosine against every broadcast eval vector through
    * the SAME dot/norm expression chain and the SAME rounded-threshold
    * predicate as the batch query, so replayed corpus vectors flag
    * identically row for row (StreamingSpec pin). STATELESS: one
    * broadcast crossJoin, an explode over the eval array, per-row column
    * math — no shuffle, no state store. Emits the flagged
    * (vec_id, eval_id, cosine) evidence rows; an admission deployment
    * anti-joins its payload on the flagged ids. */
  def semanticGateStream(vecs: DataFrame, evalIndex: DataFrame): DataFrame = {
    import graft.operators.{Curation, Similarity}
    vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(evalIndex))
      .withColumn("nrm", Similarity.norm(col("embedding")))
      .withColumn("ev", explode(col("evals")))
      .filter(col("vec_id") =!= col("ev.eval_id"))
      .withColumn("cosine",
        round(Similarity.cosine(col("embedding"), col("ev.e_emb"), col("nrm"),
          col("ev.e_nrm")), 6))
      .filter(col("cosine") >= Curation.SemDecontamTau)
      .select(col("vec_id"), col("ev.eval_id").as("eval_id"), col("cosine"))
  }

  /** The drift monitor's static side: q139's reference half binned and
    * counted by the SHARED [[graft.operators.Curation.driftBinned]]
    * projection, with the per-feature bin-universe size and reference
    * total attached — a bins-sized table (tens of rows), broadcast.
    * Refreshed when the reference snapshot rolls, like every other
    * stream index here. */
  def corpusDriftRef(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val ref = Curation.driftBinned(
        Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0))
      .groupBy(col("feature"), col("bin"))
      .agg(count(lit(1)).as("c_ref"))
    val wF = org.apache.spark.sql.expressions.Window.partitionBy(col("feature"))
    ref
      .withColumn("k_ref", count(lit(1)).over(wF))
      .withColumn("n_ref", sum(col("c_ref")).over(wF))
  }

  /** Streaming drift monitor — q139's candidate side at ingest rate:
    * arriving documents bin through the SHARED
    * [[graft.operators.Curation.driftBinned]] projection and aggregate
    * to per-window (feature, bin) counts, each joined (broadcast,
    * stateless per row) with the reference snapshot's count for that
    * bin. The emitted (window_start, feature, bin, c_cand, c_ref,
    * k_ref, n_ref) rows are the PSI's raw terms — k_ref/n_ref arrive
    * per FEATURE, so they are present even on candidate-only bins (the
    * drifting case). The finalize — summing (p−q)·ln(p/q) over the
    * UNION bin universe (batch q139's convention) — is
    * [[driftPsiFinalize]], one bins-sized batch projection over the
    * sink, because PSI is only defined once a window closes. Replayed
    * corpus odd-half rows through one window reproduce batch q139's
    * candidate bin counts row for row AND its finalized psi values to
    * the last decimal (StreamingSpec pins, including a
    * reference-absent bin's non-null k_ref/n_ref).
    *
    * State is the windowed count aggregation only — O(windows ×
    * bins ≤ 30), watermark-evicted; the monitoring family's dual next
    * to the 11 admission gates. */
  def driftBinsStream(docs: DataFrame, refBins: DataFrame): DataFrame = {
    import graft.operators.Curation
    // k_ref/n_ref are per-FEATURE constants, so they join by feature —
    // NOT by (feature, bin): a candidate-only bin (a value the reference
    // never saw — exactly the drifting case the monitor exists to catch)
    // has no (feature, bin) row in the snapshot, and the original
    // one-join formulation left its k_ref/n_ref NULL, breaking the
    // documented finalize precisely when drift was happening (review
    // finding r15). c_ref coalesces to 0 for such bins; k_ref/n_ref
    // coalesce only against an EMPTY reference snapshot.
    val perFeature = refBins
      .select(col("feature"), col("k_ref"), col("n_ref")).distinct()
    Curation.driftBinned(docs.select(col("ts"), col("text"),
        col("n_chars"), col("lang")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("feature"), col("bin"))
      .agg(count(lit(1)).as("c_cand"))
      .join(broadcast(refBins.select(col("feature"), col("bin"), col("c_ref"))),
        Seq("feature", "bin"), "left")
      .join(broadcast(perFeature), Seq("feature"), "left")
      .select(col("window.start").as("window_start"), col("feature"),
        col("bin"), col("c_cand"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("k_ref"), lit(0L)).as("k_ref"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"))
  }

  /** The monitor's ALARM value: finalize [[driftBinsStream]]'s emitted
    * per-window bin terms into per-(window, feature) PSI — run as a
    * bins-sized batch projection over the sink (foreachBatch or the
    * sink table), because PSI is only defined once a window closes
    * (VERDICT r15 #7: the harness previously saw only the raw terms).
    * The bin universe is the UNION of the window's candidate bins and
    * the reference snapshot's (ref-only bins join back in with
    * c_cand = 0), and the smoothing + decimal-exact summation is THE
    * shared [[graft.operators.Curation.psiFromGrid]] tail, so a
    * one-window replay of batch q139's candidate half reproduces its
    * psi values to the last decimal (StreamingSpec pin). */
  def driftPsiFinalize(binRows: DataFrame, refBins: DataFrame): DataFrame = {
    import graft.operators.Curation
    val wins = binRows.select(col("window_start")).distinct()
    val refGrid = wins.crossJoin(
        broadcast(refBins.select(col("feature"), col("bin"), col("c_ref"))))
      .withColumn("c_cand", lit(0L))
    val grid = binRows
      .select(col("window_start"), col("feature"), col("bin"),
        col("c_cand"), col("c_ref"))
      .unionByName(refGrid.select(col("window_start"), col("feature"),
        col("bin"), col("c_cand"), col("c_ref")))
      .groupBy(col("window_start"), col("feature"), col("bin"))
      .agg(sum(col("c_cand")).as("c_cand"), max(col("c_ref")).as("c_ref"))
    Curation.psiFromGrid(grid, Seq("window_start", "feature"))
  }

  /** Static corpus band index (band, band_sig) for the stream-static
    * near-dup join — built by one batch pass over the corpus. */
  def corpusBandIndex(spark: SparkSession, dir: String): DataFrame = {
    val sigs = graft.operators.Dedup.minhashSignatures(spark, dir)
    val bandStructs = (0 until graft.functions.Hashing.Bands).map { bnd =>
      val cols = (0 until graft.functions.Hashing.RowsPerBand)
        .map(r => col(f"mh${bnd * graft.functions.Hashing.RowsPerBand + r}%02d"))
      struct(lit(bnd).as("band"), concat_ws(",", cols: _*).as("band_sig"))
    }
    sigs.withColumn("bs", explode(array(bandStructs: _*)))
      .select(col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
      .distinct()
  }

  /** Stream the windowed aggregation to a partitioned parquet sink with
    * checkpointing — the streaming dual of Ingest.writeCube.
    * Drains whatever the source currently has, then STOPS the query
    * (leaving it running would leak the query thread and keep the
    * checkpoint locked against any later run); a continuous deployment
    * calls `.start()` itself and manages the query handle. */
  def writeWindowed(df: DataFrame, outPath: String, checkpoint: String): Unit = {
    val q = LocalFs.writeStream(df)
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}
