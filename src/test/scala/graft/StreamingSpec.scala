package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ev

class StreamingSpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("windowed counts aggregate by 10-minute event-time windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Ev(1, ts(1), 10, "click", 1.0),
        Ev(2, ts(2), 10, "click", 2.0),
        Ev(3, ts(11), 10, "view", 3.0))
      q.processAllAvailable()
      // advance watermark past the first windows so they finalize
      input.addData(Ev(4, ts(200), 10, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      val byKey = rows.map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1)) -> r.getLong(2)).toMap
      assert(byKey((0L, "click")) == 2L)
      assert(byKey((10L, "view")) == 1L)
    } finally q.stop()
  }

  test("stream-stream interval join emits exactly the in-band pairs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    // stage BOTH sides before the first trigger: each side's input is
    // admitted against the GLOBAL watermark, so a click processed in an
    // earlier batch than its purchases could legitimately advance the
    // watermark past a same-batch sibling — deterministic staging pins
    // the semantics, not trigger timing
    // starts at ts(1), not ts(0): a row exactly at the initial watermark
    // (epoch 0) is filtered as late — same edge the batch sessionize
    // spec documents
    clicks.addData(
      Ev(1, ts(1), 1, "click", 0.0),
      Ev(2, ts(30), 1, "click", 0.0),
      Ev(3, ts(200), 2, "click", 0.0))
    purchases.addData(
      Ev(10, ts(45), 1, "purchase", 0.0),  // 44/15 min after clicks 1/2
      Ev(11, ts(90), 1, "purchase", 0.0),  // 89 min after 1 (out), 60 after 2 (edge, in)
      Ev(12, ts(100), 2, "purchase", 0.0)) // user 2's only click is LATER
    val q = StreamOps.intervalJoinStream(clicks.toDF(), purchases.toDF(), 3600)
      .writeStream.format("memory").queryName("ivj_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("ivj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 1L), (10L, 2L), (11L, 2L)),
        s"interval join pairs diverged: $got")
      // the join buffers both sides — state operator present and bounded
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("watermark bounds state: finalized windows evicted, late rows dropped") {
    // the 100 TB guard for unbounded streams — aggregation state must not
    // grow with stream length, and data older than the watermark must not
    // resurrect an already-emitted window
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wm_state_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 30 distinct 10-minute windows, then jump event time far ahead so
      // the 1-hour watermark passes all of them
      input.addData((0 until 30).map(i => Ev(i, ts(i * 10L), 10, "click", 1.0)): _*)
      q.processAllAvailable()
      input.addData(Ev(100, ts(1000), 10, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(101, ts(1001), 10, "click", 1.0))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows < 10, s"state kept growing: $stateRows rows for 30 closed windows")
      // a row behind the watermark is dropped — window 0 was emitted once
      // with n_events=1 and must not reappear or change
      input.addData(Ev(102, ts(5), 10, "click", 99.0))
      q.processAllAvailable()
      input.addData(Ev(103, ts(1002), 10, "click", 1.0))
      q.processAllAvailable()
      val w0 = spark.table("wm_state_out").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
      assert(w0.length == 1 && w0.head.getLong(2) == 1L,
        s"late row resurrected window 0: ${w0.mkString(";")}")
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap and timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 4 min apart (one session), then 40-min gap → new
      // session. Starts at ts(1), not ts(0): an event exactly at the
      // initial watermark (epoch 0) is dropped as late.
      input.addData(
        Ev(1, ts(1), 1, "click", 1.0),
        Ev(2, ts(5), 1, "click", 2.0),
        Ev(3, ts(45), 1, "view", 3.0))
      q.processAllAvailable()
      // push watermark far ahead so the open session times out
      input.addData(Ev(9, ts(500), 2, "click", 0.5))
      q.processAllAvailable()
      input.addData(Ev(10, ts(900), 2, "click", 0.5))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // first session: events 1+2, epoch start 60s, sum 3.0
      assert(rows.contains((1L, 60L, 2L, 3.0)))
      // second session: event 3 alone
      assert(rows.contains((1L, 45L * 60, 1L, 3.0)))
    } finally q.stop()
  }

  test("sessionization absorbs an out-of-order event without rewinding state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sess_ooo_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: on-time event at min 60
      input.addData(Ev(1, ts(60), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: in-watermark LATE event at min 40 — merges (20min <= gap)
      // and must extend start DOWN without rewinding last
      input.addData(Ev(2, ts(40), 1, "click", 2.0))
      q.processAllAvailable()
      // batch 3: min 80 — 20min after last activity (min 60), so it is
      // the SAME session; a rewound last=40 would falsely split here
      input.addData(Ev(3, ts(80), 1, "click", 4.0))
      q.processAllAvailable()
      input.addData(Ev(9, ts(500), 2, "click", 0.5)) // advance watermark
      q.processAllAvailable()
      input.addData(Ev(10, ts(900), 2, "click", 0.5)) // fire the timeout
      q.processAllAvailable()
      val rows = spark.table("sess_ooo_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(rows.contains((1L, 40L * 60, 3L, 7.0)),
        s"expected ONE session (start 40min, 3 events, sum 7.0), got ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("sessionization emits a straggler beyond the gap as its own session") {
    // an in-watermark event that PRECEDES the open session's start by more
    // than the gap must not be absorbed (that would rewind session_start
    // across a >gap silence); the batch dual emits two sessions there
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sess_straggler_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: on-time event at min 100 opens a session
      input.addData(Ev(1, ts(100), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: straggler at min 60 — inside the 1 h watermark (40 min
      // late) but 40 min > 30 min gap BEFORE the open session's start →
      // its own immediately-emitted session; open state untouched
      input.addData(Ev(2, ts(60), 1, "click", 2.0))
      q.processAllAvailable()
      // batch 3: min 120 — 20 min after last activity, SAME open session
      input.addData(Ev(3, ts(120), 1, "click", 4.0))
      q.processAllAvailable()
      input.addData(Ev(9, ts(500), 2, "click", 0.5)) // advance watermark
      q.processAllAvailable()
      input.addData(Ev(10, ts(900), 2, "click", 0.5)) // fire the timeout
      q.processAllAvailable()
      val rows = spark.table("sess_straggler_out").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set((60L * 60, 1L, 2.0), (100L * 60, 2L, 5.0)),
        s"expected straggler session + unrewound main session, got $rows")
    } finally q.stop()
  }

  test("sessionization merges multiple stragglers into one earlier session") {
    // two in-watermark stragglers 2 min apart, both >gap before the open
    // session: the batch dual merges them into ONE earlier session —
    // single-session state would emit two frozen singletons
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sess_multi_straggler_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Ev(1, ts(100), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(2, ts(60), 1, "click", 2.0)) // straggler, new early session
      q.processAllAvailable()
      input.addData(Ev(3, ts(62), 1, "click", 3.0)) // must MERGE into it
      q.processAllAvailable()
      input.addData(Ev(4, ts(120), 1, "click", 4.0)) // extends the main session
      q.processAllAvailable()
      input.addData(Ev(9, ts(500), 2, "click", 0.5)) // advance watermark
      q.processAllAvailable()
      input.addData(Ev(10, ts(900), 2, "click", 0.5)) // fire the timeout
      q.processAllAvailable()
      val rows = spark.table("sess_multi_straggler_out").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set((60L * 60, 2L, 5.0), (100L * 60, 2L, 5.0)),
        s"expected merged straggler session + main session, got $rows")
    } finally q.stop()
  }

  test("sessionization matches the batch gap rule on randomized out-of-order delivery") {
    // model-based check of the multi-session state machine: random event
    // times, delivered in a random order whose displacement is bounded
    // below the watermark delay (so nothing is ever dropped), must
    // produce EXACTLY the sessions the batch gap-split rule computes.
    // Values are 0.25-multiples so double sums are order-exact.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val events = for {
      u <- 1 to 5; i <- 1 to 30
    } yield Ev(u * 1000L + i, ts(1 + rnd.nextInt(180)), u, "e", 0.25 * rnd.nextInt(8))
    // displacement key: ts + jitter < watermark delay keeps every event
    // admissible at its delivery time (jitter precomputed — a random key
    // inside sortBy would change between comparisons)
    val delivery = events
      .map(e => (e, e.ts.getTime + rnd.nextInt(50) * 60000L))
      .sortBy(_._2).map(_._1)
    val model: Set[(Long, Long, Long, Double)] = events.groupBy(_.user_id).toSeq.flatMap {
      case (u, evs) =>
        val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
        val sessions = sorted.foldLeft(List.empty[List[Ev]]) {
          case (cur :: done, e)
            if e.ts.getTime - cur.head.ts.getTime <= 30 * 60000L =>
            (e :: cur) :: done
          case (acc, e) => List(e) :: acc
        }
        sessions.map { s =>
          (u, s.last.ts.getTime / 1000, s.size.toLong, s.map(_.value).sum)
        }
    }.toSet
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sess_model_out")
      .outputMode(OutputMode.Append).start()
    try {
      delivery.grouped(7).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
      input.addData(Ev(999901, ts(600), 99, "e", 0.0)) // advance watermark
      q.processAllAvailable()
      input.addData(Ev(999902, ts(1200), 99, "e", 0.0)) // fire timeouts
      q.processAllAvailable()
      val streamed = spark.table("sess_model_out").collect()
        .filter(_.getLong(0) != 99L)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == model,
        s"streaming diverged from the batch gap rule:\n  extra=${streamed -- model}\n  missing=${model -- streamed}")
    } finally q.stop()
  }

  test("stream-static join enriches events with the customer dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val dim = graft.sources.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment")
    val q = StreamOps.enrichedStream(input.toDF(), dim)
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      input.addData(
        Ev(1, ts(1), 1, "click", 1.0),      // custkey 1 exists
        Ev(2, ts(2), 999999, "view", 2.0))  // no such customer → UNKNOWN
      q.processAllAvailable()
      input.addData(Ev(3, ts(300), 1, "click", 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("enriched_out").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(rows.getOrElse("UNKNOWN", 0L) == 1L)
      assert(rows.filter(_._1 != "UNKNOWN").values.sum == 1L)
    } finally q.stop()
  }

  test("streaming decontamination drops docs sharing >=2 eval shingles, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    // eval doc "a b c d e" → shingles {a b c, b c d, c d e}; a second
    // eval doc contributes {m n o}
    val evalDocs = Seq(Seq("a b c", "b c d", "c d e"), Seq("m n o"))
    val input = MemoryStream[Doc]
    val stream = StreamOps.decontaminateStream(input.toDF(), evalDocs)
    // stateless check: the plan needs no watermark/state store
    val q = stream.writeStream.format("memory").queryName("decontam_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(1, ts(1), "a b c d x"),   // shares {a b c, b c d} with doc A → dropped
        Doc(2, ts(2), "a b c x y"),   // shares {a b c} = 1 → kept
        Doc(3, ts(3), "p q r s t"),   // shares 0 → kept
        Doc(4, ts(4), "x y"),         // too short for shingles → kept
        // one shingle with EACH of two eval docs: the per-eval-doc
        // threshold (batch semantics) keeps it; a pooled union would
        // wrongly count 2 and drop it
        Doc(5, ts(5), "a b c z m n o"))
      q.processAllAvailable()
      val ids = spark.table("decontam_out").collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 3L, 4L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("streaming quality gate agrees with the batch gate on real corpus docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    import graft.operators.Curation
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    // feed the first 100 real documents through the stream
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamOps.gateStream(input.toDF())
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("gate_out")
        .select(col("doc_id"), col("keep")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val batch = Curation.qualityGate(spark, sfDir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("keep")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == batch, s"streaming gate diverged from batch gate")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming span gate agrees with batch q95 keep_ratio on corpus docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    import graft.operators.Curation
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    // replay the whole sf0.001 corpus through the gate against the
    // corpus's own duplicated-span index: per-doc keep_ratio must match
    // batch spanDedup EXACTLY — the gate's bloom sketch only
    // short-circuits; flagged spans verify against the exact array, so
    // sketch false positives cannot leak into the output (the first cut
    // of this test, sketch-only, diverged on exactly 5 docs = the fpp)
    val bloom = StreamOps.corpusSpanIndex(spark, sfDir, 1)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamOps.spanGateStream(input.toDF(), bloom)
      .writeStream.format("memory").queryName("span_gate_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("span_gate_out")
        .filter(col("n") >= Curation.SpanW)
        .select(col("doc_id"), col("n_dup_spans"), col("n_covered"), col("keep_ratio"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val batch = Curation.spanDedup(spark, sfDir)
        .select(col("doc_id"), col("n_dup_spans"), col("n_covered"), col("keep_ratio"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch, "streaming span gate diverged from batch q95")
      // a doc shorter than SpanW passes with keep_ratio 1 and no spans
      input.addData(Doc(999999, ts(2), "too short"))
      q.processAllAvailable()
      val short = spark.table("span_gate_out")
        .filter(col("doc_id") === 999999).collect().head
      assert(short.getAs[Long]("n_dup_spans") == 0L)
      assert(short.getAs[Double]("keep_ratio") == 1.0)
    } finally q.stop()
  }

  test("composed streaming funnel: gate -> decontaminate -> dedup in one query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    import org.apache.spark.sql.functions.col
    val evalDocs = Seq(Seq("a b c", "b c d"))
    val input = MemoryStream[Doc]
    // all four curation stages compose into ONE streaming plan: three
    // stateless stages (gate, span gate, decontaminate) + the single
    // watermark-bounded dedup state store
    val spanIdx = StreamOps.corpusSpanIndex(spark, sfDir, 1)
    val funnel = StreamOps.dedupStream(
      StreamOps.decontaminateStream(
        StreamOps.spanGateStream(
          StreamOps.gateStream(input.toDF()).filter(col("keep")).drop("keep", "n_tokens"),
          spanIdx)
          .filter(col("keep_ratio") >= 0.5)
          .drop("n", "n_dup_spans", "n_covered", "keep_ratio"),
        evalDocs))
    val q = funnel.writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    try {
      val good = (1 to 40).map(i => s"tok$i").mkString(" ") // passes the gate
      // a doc that is >50% covered by corpus-duplicated spans: build it
      // from a real duplicated span if the tiny corpus has one
      input.addData(
        Doc(1, ts(1), good),                         // kept
        Doc(2, ts(2), good),                         // exact dup of 1 → dropped
        Doc(3, ts(3), "a b c d " + good),            // contaminated → dropped
        Doc(4, ts(4), "x y"))                        // fails gate → dropped
      q.processAllAvailable()
      val ids = spark.table("funnel_out").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L), s"got $ids")
    } finally q.stop()
  }

  test("streaming near-dup candidates: corpus docs flag, novel docs don't") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val index = StreamOps.corpusBandIndex(spark, sfDir)
    // a verbatim corpus document must collide with its own band keys; a
    // novel token sequence must not
    val corpusText = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0).select("text").collect()(0).getString(0)
    val input = MemoryStream[Doc]
    val q = StreamOps.nearDupCandidatesStream(input.toDF(), index)
      .writeStream.format("memory").queryName("cand_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(9001, ts(1), corpusText),
        Doc(9002, ts(2), "zz yy xx ww vv uu tt ss rr qq pp oo"))
      q.processAllAvailable()
      val flagged = spark.table("cand_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(flagged == Set(9001L), s"got $flagged")
    } finally q.stop()
  }

  test("streaming bloom gate: corpus docs flag as candidates, novel docs pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    val bloom = StreamOps.corpusBloom(spark, sfDir, 1)
    val corpusText = graft.sources.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0)
      .select("text").collect()(0).getString(0)
    val input = MemoryStream[Doc]
    val q = StreamOps.bloomGateStream(input.toDF(), bloom, 1)
      .writeStream.format("memory").queryName("bloom_gate_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(9001, ts(1), corpusText),  // verbatim corpus doc → must flag
        Doc(9002, ts(2), "zz yy xx ww vv uu tt ss rr qq pp oo"))
      q.processAllAvailable()
      val byId = spark.table("bloom_gate_out").collect()
        .map(r => r.getLong(0) -> r.getAs[Boolean]("maybe_dup")).toMap
      assert(byId(9001L), "corpus doc missed the sketch (false negative)")
      assert(!byId(9002L), "novel doc flagged (would waste a verify)")
      // stateless: no state store rows in the progress metrics
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("sharded streaming bloom gate matches the single-sketch gate's guarantees") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    val shards = StreamOps.corpusBloom(spark, sfDir, 4)
    val corpusText = graft.sources.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1)
      .select("text").collect()(0).getString(0)
    val input = MemoryStream[Doc]
    val q = StreamOps.bloomGateStream(input.toDF(), shards, 4)
      .writeStream.format("memory").queryName("bloom_gate_sharded_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(9001, ts(1), corpusText),  // verbatim corpus doc → must flag
        Doc(9002, ts(2), "zz yy xx ww vv uu tt ss rr qq pp oo"))
      q.processAllAvailable()
      val byId = spark.table("bloom_gate_sharded_out").collect()
        .map(r => r.getLong(0) -> r.getAs[Boolean]("maybe_dup")).toMap
      assert(byId.size == 2, "shard join dropped or duplicated a row")
      assert(byId(9001L), "corpus doc missed the sharded sketch (false negative)")
      assert(!byId(9002L), "novel doc flagged (would waste a verify)")
      assert(q.lastProgress.stateOperators.isEmpty) // still stateless
    } finally q.stop()
  }

  test("sharded gate with empty shards annotates every probe row") {
    // regression for the r9 empty-shard fix: the gate inner-joins on the
    // shard id, so a sketch missing rows for unpopulated shards silently
    // DROPS every in-flight doc routed there — data loss, not a flag.
    // Build a sketch where most of the 8 shards hold no corpus key and
    // assert every input row comes out the other side, annotated.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    import org.apache.spark.sql.functions.col
    val nShards = 8
    val corpusTexts = Seq("the quick brown fox", "pack my box with jugs")
    val corpusFps = corpusTexts.toDF("text")
      .select(graft.operators.Dedup.textFp.as("fp"))
    val shards = graft.operators.Curation.bloomWordsSharded(corpusFps, nShards)
    val populated = corpusFps
      .withColumn("shard", graft.operators.Curation.bloomShardCol(nShards))
      .select("shard").distinct().as[Long].collect().toSet
    assert(populated.size < nShards, "scenario vacuous: no empty shard")
    val novelTexts = (1 to 16).map(i => s"novel document number $i")
    // the scenario must actually route ≥1 probe to an empty shard
    val novelShards = novelTexts.toDF("text")
      .select(graft.operators.Dedup.textFp.as("fp"))
      .withColumn("shard", graft.operators.Curation.bloomShardCol(nShards))
      .select("shard").as[Long].collect().toSet
    assert(novelShards.exists(!populated(_)),
      "scenario vacuous: no probe routed to an empty shard")
    val input = MemoryStream[Doc]
    val q = StreamOps.bloomGateStream(input.toDF(), shards, nShards)
      .writeStream.format("memory").queryName("bloom_gate_empty_shard_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Doc(9001, ts(1), corpusTexts.head) +:
        novelTexts.zipWithIndex.map { case (t, i) => Doc(9100 + i, ts(i + 2), t) }: _*)
      q.processAllAvailable()
      val byId = spark.table("bloom_gate_empty_shard_out").collect()
        .map(r => r.getLong(0) -> r.getAs[Boolean]("maybe_dup")).toMap
      assert(byId.size == novelTexts.size + 1,
        s"gate dropped rows: ${byId.size} of ${novelTexts.size + 1} survived")
      assert(byId(9001L), "corpus doc missed the sketch (false negative)")
      novelTexts.indices.foreach(i =>
        assert(!byId(9100L + i), s"novel doc $i flagged"))
    } finally q.stop()
  }

  test("sharded streaming span gate matches batch q95 doc for doc") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    import graft.operators.Curation
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    // the whole sf0.001 corpus through the SHARDED gate (foreachBatch
    // core) against its own sharded dup-span index: per-doc verdicts
    // must match batch spanDedup EXACTLY, across two microbatches, with
    // zero cross-batch state
    val idx = StreamOps.corpusSpanIndex(spark, sfDir, 4)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val results = scala.collection.mutable.Map[Long, (Long, Long, Double)]()
    val input = MemoryStream[Doc]
    val q = StreamOps.spanGateStreamSharded(input.toDF(), idx, 4) { out =>
      val rows = out
        .filter(col("n") >= Curation.SpanW)
        .select(col("doc_id"), col("n_dup_spans"), col("n_covered"), col("keep_ratio"))
        .collect()
      results.synchronized {
        rows.foreach(r =>
          results(r.getLong(0)) = (r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
    }
    try {
      val (front, back) = docs.splitAt(docs.length / 2)
      input.addData(front.toSeq)
      q.processAllAvailable()
      input.addData(back.toSeq)
      q.processAllAvailable()
      val batch = Curation.spanDedup(spark, sfDir)
        .select(col("doc_id"), col("n_dup_spans"), col("n_covered"), col("keep_ratio"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(results.nonEmpty)
      assert(results.toMap == batch,
        "sharded streaming span gate diverged from batch q95")
      assert(q.lastProgress.stateOperators.isEmpty) // no state store
    } finally q.stop()
  }

  test("streaming dedup drops in-horizon duplicates, keeps distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Doc
    val input = MemoryStream[Doc]
    val q = StreamOps.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(1, ts(1), "the quick brown fox"),
        Doc(2, ts(2), "THE  QUICK   brown fox"), // same after normalization
        Doc(3, ts(3), "a different document"))
      q.processAllAvailable()
      input.addData(
        Doc(4, ts(10), "the quick brown fox"),   // still inside horizon → dropped
        Doc(5, ts(11), "yet another one"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L) && ids.contains(3L) && ids.contains(5L))
      assert(!ids.contains(2L) && !ids.contains(4L), s"duplicate leaked: $ids")
      assert(ids.size == 3)
    } finally q.stop()
  }

  test("restart from checkpoint: windows emit exactly once across three runs") {
    // round 7 fixed the writeWindowed query leak that kept checkpoints
    // locked; this pins the recovery behavior itself — a restarted query
    // resumes from the checkpointed offsets + state and never re-emits an
    // already-finalized window
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt").toString
    // canonical events layout (ts as TimestampType → TIMESTAMP(MICROS),
    // which eventsStream's footer sniff reads natively)
    def stage(rows: (Long, Long, String, Double)*): Unit =
      rows.map { case (id, min, typ, v) =>
        (id, new Timestamp(min * 60000L), 1L, typ, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)
    def run(): Unit = StreamOps.writeWindowed(
      StreamOps.windowedCounts(StreamOps.eventsStream(spark, src)), out, ckpt)
    def sink() = spark.read.schema(
      "window_start TIMESTAMP, event_type STRING, n_events BIGINT, sum_value DOUBLE")
      .parquet(out).collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1)) -> r.getLong(2))
    // run 1: three events, two windows — watermark (max 11min − 1h) < 0,
    // nothing finalizes yet
    stage((1, 1, "click", 1.0), (2, 2, "click", 2.0), (3, 11, "view", 3.0))
    run()
    // run 2 (RESTART): one event at min 200 pushes the watermark to 140 —
    // windows 0 and 10 finalize and emit
    stage((4, 200, "click", 4.0))
    run()
    val afterTwo = sink()
    assert(afterTwo.toMap == Map((0L, "click") -> 2L, (10L, "view") -> 1L),
      s"run 2 should finalize exactly windows 0 and 10: ${afterTwo.mkString(";")}")
    // run 3 (RESTART): watermark to 340 — window 200 finalizes; windows
    // 0/10 must NOT re-emit (their state was evicted, offsets committed)
    stage((5, 400, "click", 5.0))
    run()
    val finals = sink()
    assert(finals.length == 3, s"duplicate emission across restarts: ${finals.mkString(";")}")
    assert(finals.toMap == Map(
      (0L, "click") -> 2L, (10L, "view") -> 1L, (200L, "click") -> 1L),
      finals.mkString(";"))
  }

  test("session state restores across a checkpoint restart") {
    // the multi-session Seq state must round-trip through the state
    // store: run 1 leaves two OPEN sessions in the checkpoint, run 2
    // restarts, merges new events into the restored state, and closes
    // everything — sessions emit exactly once with merged contents
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_sess_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sess_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sess_ckpt").toString
    def stage(rows: (Long, Long, Long, Double)*): Unit =
      rows.map { case (id, min, u, v) => (id, new Timestamp(min * 60000L), u, "e", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)
    def run(): Unit = {
      val q = StreamOps.sessionizeStream(
          StreamOps.eventsStream(spark, src).as[Ev])
        .writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    // run 1: two sessions open (min 60-64 and min 150); the restored
    // watermark is 150-60 = 90 min
    stage((1, 60, 1, 1.0), (2, 64, 1, 2.0), (3, 150, 1, 4.0))
    run()
    // run 2 (RESTART): both extensions are in-watermark (> 90 min) —
    // min 92 merges the restored first session from above (28 <= gap),
    // min 130 merges the second from BELOW (straggler start-extension on
    // restored state)
    stage((4, 92, 1, 8.0), (5, 130, 1, 16.0))
    run()
    stage((6, 600, 2, 0.0), (7, 1200, 2, 0.0)) // watermark + timeout
    run()
    val rows = spark.read.schema(
      "user_id BIGINT, session_start BIGINT, n_events BIGINT, sum_value DOUBLE")
      .parquet(out).collect().filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set((60L * 60, 3L, 11.0), (130L * 60, 2L, 20.0)),
      s"restored sessions diverged: $rows")
  }

  test("file-source stream over the events directory produces same totals as batch") {
    // copy a small slice of events parquet into a staging dir, stream it
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // stage the canonical layout (ts as TimestampType → Spark writes
    // TIMESTAMP(MICROS), which eventsStream's footer sniff reads natively)
    // plus one far-future row so the watermark passes and FINALIZES every
    // real window (without it the append-mode sink would legally stay
    // empty and the parity check below would be vacuous)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, lit, window}
    val slice = graft.sources.Tables.events(spark, sfDir).limit(200).cache()
    slice.write.mode("overwrite").parquet(tmp)
    val maxTs = slice.agg(org.apache.spark.sql.functions.max(col("ts"))).head().getTimestamp(0)
    Seq((999999L, new java.sql.Timestamp(maxTs.getTime + 10L * 3600 * 1000), 1L, "wm_advance", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(tmp)
    val streamed = StreamOps.windowedCounts(
      StreamOps.eventsStream(spark, tmp))
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
    StreamOps.writeWindowed(streamed, outDir, cp)
    // every slice window is finalized → the sink must EQUAL the batch
    // aggregation of the slice (the advancer's own window stays open)
    val sink = spark.read.schema(
      "window_start TIMESTAMP, event_type STRING, n_events BIGINT, sum_value DOUBLE")
      .parquet(outDir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
        (r.getLong(2), math.rint(r.getDouble(3) * 1e6) / 1e6)).toMap
    val batch = slice
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("value")).as("s"))
      .collect()
      .map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getString(1)) ->
        (r.getLong(2), math.rint(r.getDouble(3) * 1e6) / 1e6)).toMap
    // sums rounded to 6 dp on both sides: double addition order differs
    // between the streaming partials and the batch agg
    slice.unpersist()
    assert(batch.nonEmpty && sink == batch,
      s"streamed windows diverged from batch: sink=${sink.size} batch=${batch.size}")
  }

  test("streaming ivf route equals the batch probe routing, stateless") {
    // the ANN surface's streaming dual (r13): probes arriving on a stream
    // route to the same top-nprobe cells, in the same order, as
    // Similarity.probeCells routes them in batch — one routing
    // definition, two execution shapes (window vs per-row array sort)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.streaming.StreamOps.Probe
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val idx = StreamOps.corpusIvfIndex(spark, sfDir, nlist = 8)
    val probeRows = emb.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => Probe(r.getLong(0), r.getSeq[Float](1)))
    assert(probeRows.nonEmpty)
    val input = MemoryStream[Probe]
    val q = StreamOps.ivfRouteStream(input.toDF(), idx, nprobe = 4)
      .writeStream.format("memory").queryName("ivf_route_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(probeRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("ivf_route_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val cent = emb.withColumn("nrm", Similarity.norm(col("embedding")))
        .filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("cvec"),
          col("nrm").as("cnrm"))
      val want = Similarity.probeCells(
          emb.filter(col("vec_id") % 97 === 0), cent, nprobe = 4)
        .select(col("probe_id"), col("prn"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
        .toSet
      assert(got == want,
        s"routing diverged: extra=${got -- want} missing=${want -- got}")
      // stateless: no state store rows in the progress metrics
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming bm25 scorer equals batch q116 scores row for row, stateless") {
    // the retrieval family's streaming dual: corpus docs replayed through
    // the gate against the frozen query index must reproduce the batch
    // scorer's (probe, cand, n_terms, score) rows EXACTLY — shared
    // termScore expression, same floor(1e9) integers into the fold
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamOps.Doc
    import graft.operators.Retrieval
    import graft.sources.Tables
    val qidx = Retrieval.bm25QueryIndex(spark, sfDir)
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    assert(docRows.nonEmpty)
    val input = MemoryStream[Doc]
    val q = StreamOps.bm25ScoreStream(input.toDF(), qidx)
      .writeStream.format("memory").queryName("bm25_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("bm25_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val docs = Tables.documents(spark, sfDir)
      // batch with k unbounded: every scored (probe, cand) pair
      val want = Retrieval.bm25From(docs,
          docs.filter(col("doc_id") % 97 === 0), nTerms = 3, k = Int.MaxValue)
        .select(col("probe_id"), col("cand_id"), col("n_terms"), col("score"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want,
        s"bm25 stream diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming frame gate equals batch q131 row for row, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Multimodal
    import graft.streaming.StreamOps.Doc
    import graft.sources.Tables
    val idx = StreamOps.corpusFrameIndex(spark, sfDir)
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamOps.frameGateStream(input.toDF(), idx)
      .writeStream.format("memory").queryName("framegate_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("framegate_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = Multimodal.frameDedup(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want,
        s"frame gate diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming self-repeat equals batch q130 row for row, index-free") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Curation
    import graft.streaming.StreamOps.Doc
    import graft.sources.Tables
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamOps.selfRepeatStream(input.toDF())
      .writeStream.format("memory").queryName("selfrep_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("selfrep_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      val want = Curation.selfRepeat(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      assert(got == want,
        s"self-repeat stream diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming ngram repetition equals batch q143 row for row, index-free") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Curation
    import graft.streaming.StreamOps.Doc
    import graft.sources.Tables
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamOps.ngramRepStream(input.toDF())
      .writeStream.format("memory").queryName("ngramrep_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("ngramrep_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4))).toSet
      val want = Curation.ngramRepetition(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4))).toSet
      assert(got == want,
        s"ngram-rep stream diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming ml scorer equals batch q125 scores row for row, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamOps.Doc
    import graft.operators.Curation
    import graft.sources.Tables
    val w = Curation.defaultQualityWeights(spark)
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamOps.mlScoreStream(input.toDF(), w)
      .writeStream.format("memory").queryName("mlscore_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("mlscore_out")
        .select(col("doc_id"), col("ml_score"), col("keep_ml")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
      val want = Curation.qualityScorer(spark, sfDir)
        .select(col("doc_id"), col("ml_score"), col("keep_ml")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
      assert(got == want,
        s"ml scorer stream diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming dsir scorer equals batch q128 log weights row for row, stateless") {
    // corpus docs replayed through the gate score exactly the batch
    // selector's (doc_id, n_feats, log_w) — shared feature/ratio
    // definitions, identical integer fold
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamOps.Doc
    import graft.operators.Curation
    import graft.sources.Tables
    val idx = StreamOps.corpusDsirIndex(spark, sfDir)
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamOps.dsirScoreStream(input.toDF(), idx)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val docs = Tables.documents(spark, sfDir)
      val target = Curation.qualityGateFrom(Curation.tokenTable(docs))
        .filter(col("keep")).select(col("doc_id"))
      val want = Curation.dsirSelectFrom(docs, target, k = Int.MaxValue)
        .select(col("doc_id"), col("n_feats"), col("log_w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"dsir stream diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming drift monitor reproduces batch q139 candidate bin counts per window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    import graft.streaming.StreamOps.DocMeta
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    // a language the even-half reference never saw: its lang bin is
    // candidate-only — the drifting case whose k_ref/n_ref the one-join
    // formulation left NULL (review finding r15)
    val novel = DocMeta(-2L, ts(5), "novel tongue words entirely", "zz", 27L)
    val rows = odd.select("doc_id", "text", "lang", "n_chars").collect()
      .map(r => DocMeta(r.getLong(0), ts(5), r.getString(1),
        r.getString(2), r.getLong(3))) :+ novel
    assert(rows.nonEmpty)
    val refBins = StreamOps.corpusDriftRef(spark, sfDir)
    val input = MemoryStream[DocMeta]
    val q = StreamOps.driftBinsStream(input.toDF(), refBins)
      .writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.toSeq: _*)
      q.processAllAvailable()
      // sentinel far in the future finalizes the first window
      input.addData(DocMeta(-1L, ts(500), "x", "en", 1L))
      q.processAllAvailable()
      val got = spark.table("drift_out")
        .filter(col("window_start") === ts(0))
        .collect()
        .map(r => (r.getString(1), r.getString(2)) ->
          ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      val candBatch = odd.select("doc_id", "text", "lang", "n_chars")
        .unionByName(Seq((novel.doc_id, novel.text, novel.lang,
          novel.n_chars)).toDF("doc_id", "text", "lang", "n_chars"))
      val want = Curation.driftBinned(candBatch)
        .groupBy(col("feature"), col("bin"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got.keySet == want.keySet,
        s"bins diverged: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
      want.foreach { case (k, c) =>
        assert(got(k)._1 == c, s"count for $k: ${got(k)._1} vs $c")
      }
      // reference counts attached from the shared snapshot; k_ref/n_ref
      // are per-feature constants and must be present on EVERY bin,
      // including candidate-only ones
      val ref = refBins.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val perFeature = refBins.select(col("feature"), col("k_ref"),
          col("n_ref")).distinct().collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      got.foreach { case (k, (_, cRef, kRef, nRef)) =>
        assert(cRef == ref.getOrElse(k, 0L), s"ref count for $k")
        assert((kRef, nRef) == perFeature(k._1), s"feature constants for $k")
      }
      val zz = got(("lang", "zz"))
      assert(zz._2 == 0L && zz._3 > 0L && zz._4 > 0L,
        s"candidate-only bin must carry the feature's reference constants: $zz")
      // the ALARM value (VERDICT r15 #7): finalizing the closed window's
      // sink rows must reproduce batch q139's psi to the last decimal —
      // same union bin universe, same smoothing, same decimal-exact sum
      val sink = spark.table("drift_out").filter(col("window_start") === ts(0))
      val psiGot = StreamOps.driftPsiFinalize(sink, refBins).collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val psiWant = Curation.driftPsiFrom(
          docs.filter(col("doc_id") % 2 === 0)
            .select("doc_id", "text", "lang", "n_chars"), candBatch).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(psiGot == psiWant,
        s"streamed psi diverged from batch q139: $psiGot vs $psiWant")
      assert(psiGot.keySet == Set("lang", "len", "tok"))
    } finally q.stop()
  }

  test("streaming semantic-decontam gate reproduces batch q136 flags row for row, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Curation
    import graft.streaming.StreamOps.Probe
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val idx = StreamOps.corpusEvalIndex(spark, sfDir)
    val vecRows = emb.select("vec_id", "embedding").collect()
      .map(r => Probe(r.getLong(0), r.getSeq[Float](1)))
    assert(vecRows.nonEmpty)
    val input = MemoryStream[Probe]
    val q = StreamOps.semanticGateStream(input.toDF(), idx)
      .writeStream.format("memory").queryName("semdecon_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(vecRows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("semdecon_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Curation.semanticDecontam(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"semantic gate diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming sq8 scorer reproduces batch q120 ranking row for row, stateless") {
    // the compressed-storage tier's streaming dual (r14): corpus vectors
    // replayed through the gate are SQ8-encoded with the shared code
    // columns and scored by the shared reconstruction chain, so
    // re-ranking the streamed distances reproduces sq8AnnFrom EXACTLY
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Similarity
    import graft.streaming.StreamOps.Probe
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val idx = StreamOps.corpusSq8Index(spark, sfDir)
    val vecRows = emb.select("vec_id", "embedding").collect()
      .map(r => Probe(r.getLong(0), r.getSeq[Float](1)))
    assert(vecRows.nonEmpty)
    val input = MemoryStream[Probe]
    val q = StreamOps.sq8ScoreStream(input.toDF(), idx)
      .writeStream.format("memory").queryName("sq8_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(vecRows.toSeq: _*)
      q.processAllAvailable()
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sqdist").asc, col("cand_id"))
      val got = spark.table("sq8_out")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("cand_id"), round(col("sqdist"), 6).as("sqdist"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = Similarity.sq8Ann(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want,
        s"sq8 stream diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("builtin session_window stream equals batch q22 closed sessions (r19)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Events
    import graft.sources.Tables
    val evRows = Tables.events(spark, sfDir).collect().map(r =>
      Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    val maxTs = evRows.map(_.ts.getTime).max
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionWindowStream(input.toDF())
      .writeStream.format("memory").queryName("sw_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(evRows.toSeq: _*)
      q.processAllAvailable()
      // a far-future sentinel pushes the watermark past every real
      // session's end + gap, closing them all; its own session stays
      // open (append emits only watermark-closed sessions)
      input.addData(Ev(-1, new Timestamp(maxTs + 10 * 3600 * 1000L), -1, "x", 0.0))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))
      val got = spark.table("sw_out").collect().filter(_.getLong(0) >= 0)
        .map(key).toSet
      // batch q22, minus the global session_seq ordinal
      val want = Events.sessionize(spark, sfDir)
        .select(col("user_id"), col("session_start"), col("n_events"),
          col("sum_value"), col("duration_s"))
        .collect().map(key).toSet
      assert(got == want,
        s"session_window stream diverged from batch q22: " +
          s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(got.nonEmpty)
      // the SAME expression in batch mode agrees too (one definition,
      // two execution modes)
      val batchSw = StreamOps.sessionWindowAgg(Tables.events(spark, sfDir))
        .collect().map(key).toSet
      assert(batchSw == want, "batch session_window diverged from q22")
      // engine-managed state: present, and only the sentinel's open
      // session survives the watermark
      val st = q.lastProgress.stateOperators
      assert(st.nonEmpty && st.head.numRowsTotal < 10,
        s"session state not evicted: ${st.map(_.numRowsTotal).mkString(",")}")
    } finally q.stop()
  }

  test("session_window boundary: an exact-gap event MERGES, matching q22's inclusive rule") {
    // `session_window` merges a new event whose window START equals the
    // open session's end (inclusive boundary) — the same call batch
    // q22's `diff > gap` test makes on an exact-1800 s follower. Pinned
    // so an engine version changing the merge comparison surfaces here
    // rather than as a silent q22-vs-stream divergence.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, new Timestamp(60000L), 7L, "click", 1.0),
      (2L, new Timestamp(60000L + 1800 * 1000L), 7L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val sw = StreamOps.sessionWindowAgg(df).collect()
    assert(sw.length == 1 && sw.head.getLong(2) == 2L &&
      sw.head.getLong(4) == 1800L,
      s"exact-gap pair must merge into one session: ${sw.mkString(";")}")
    // the q22 window formulation over the same two rows agrees
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lag, sum, when}
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val q22Sessions = df
      .withColumn("prev_ts", lag(col("ts").cast("double"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (col("ts").cast("double") - col("prev_ts")) > 1800.0, 1L).otherwise(0L))
      .agg(sum(col("new_session")))
      .collect().head.getLong(0)
    assert(q22Sessions == 1L)
  }
}
