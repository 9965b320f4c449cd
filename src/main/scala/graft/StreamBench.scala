package graft

import org.apache.spark.sql.DataFrame

/** Dev tool (ScaleCheck's streaming sibling, VERDICT r14 #7): measure
  * each streaming GATE family's admission throughput — rows/s through a
  * real Structured Streaming query — at the given SF, so BASELINE.md's
  * "the gates run at ingest rate" claim is a measurement per family,
  * not prose.
  *
  * Methodology:
  *  - the arriving side is a parquet FILE-SOURCE stream over the SF
  *    dir's documents/embeddings table (distributed read, no driver
  *    collect — MemoryStream would serialize the corpus through the
  *    driver and measure that instead), drained in one microbatch by a
  *    noop sink via `processAllAvailable`;
  *  - each gate's STATIC index is built batch-side before the timer
  *    starts (deployments refresh indexes by batch job — index build is
  *    not admission cost) and forced eager via count;
  *  - 3 trials per gate after one warmup, median reported, rows/s =
  *    input rows / median seconds. Input rows (not output rows): a gate
  *    that filters or explodes still ADMITS the input rate.
  *  - each timed drain INCLUDES the streaming query's start/stop
  *    (planning + source file listing + one microbatch), because every
  *    trial builds a fresh query — so the published rows/s UNDERSTATES
  *    steady-state throughput by a per-query constant, the conservative
  *    direction for the "ingest rate" claim. The sf0.1 → sf1 pair
  *    exposes the split: rates that RISE at 10× rows (bloom 10k → 48k,
  *    frame 12k → 70k) are amortizing exactly that constant; a
  *    continuous deployment pays it once per day, not once per batch.
  *
  * `runMain graft.StreamBench` against `SPARK_GRAFT_SF_DIR`; compare two
  * SF dirs by running twice (the sf0.1 → sf1 pair's interesting axis is
  * the INDEX side growing 10× while the per-row probe work stays flat).
  * Emits one JSON line of rows/s per gate, like Bench/ScaleCheck.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    import graft.operators.{Curation, Retrieval}
    import graft.sources.Tables
    import graft.streaming.StreamOps

    val nDocs = Tables.documents(spark, sfDir).count()
    val nVecs = Tables.embeddings(spark, sfDir).count()
    val nEvents = Tables.events(spark, sfDir).count()
    // each table is ONE parquet file in the SF dir; a non-glob file path
    // makes the file source set basePath to the file itself and reject
    // it, so stream via a glob that matches exactly that file (a
    // deployment streams an arrival directory instead)
    // `ts` = arrival time, the column a live source carries (the
    // candidate feed forwards it); the parquet table has none, so stamp
    // ingest time per row like a file-drop deployment would
    def docStream: DataFrame = spark.readStream
      .schema(Tables.documentsSchema).parquet(s"$sfDir/documents.parque[t]")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    def vecStream: DataFrame = spark.readStream
      .schema(Tables.embeddingsSchema).parquet(s"$sfDir/embeddings.parque[t]")
    // events carry their own event time; the physical ts unit rides the
    // same footer sniff the batch reader uses
    def evStream: DataFrame = {
      val (readSchema, finish) = Tables.tsReadPlan(spark,
        s"$sfDir/events.parquet", Tables.eventsSchema, Seq("ts"))
      finish(spark.readStream.schema(readSchema)
        .parquet(s"$sfDir/events.parque[t]"))
    }

    // static sides, built batch-side and forced OUTSIDE the timed window
    def eager(df: DataFrame): DataFrame = {
      val s = graft.operators.Materialize.stage(df); s.count(); s
    }
    val weights = eager(Curation.defaultQualityWeights(spark))
    val bloom = eager(StreamOps.corpusBloom(spark, sfDir))
    val spanIdx = eager(StreamOps.corpusSpanIndex(spark, sfDir))
    val bandIdx = eager(StreamOps.corpusBandIndex(spark, sfDir))
    val bm25Idx = eager(Retrieval.bm25QueryIndex(spark, sfDir))
    val dsirIdx = eager(StreamOps.corpusDsirIndex(spark, sfDir))
    val frameIdx = eager(StreamOps.corpusFrameIndex(spark, sfDir))
    val sq8Idx = eager(StreamOps.corpusSq8Index(spark, sfDir))
    val evalIdx = eager(StreamOps.corpusEvalIndex(spark, sfDir))

    // one representative per gate family (the batch=stream equality for
    // each is pinned in StreamingSpec; this measures rate only)
    val cases: Seq[(String, Long, () => DataFrame)] = Seq(
      ("gate_quality", nDocs, () => StreamOps.gateStream(docStream)),
      ("gate_ml_score", nDocs, () => StreamOps.mlScoreStream(docStream, weights)),
      ("gate_self_repeat", nDocs, () => StreamOps.selfRepeatStream(docStream)),
      ("gate_ngram_rep", nDocs, () => StreamOps.ngramRepStream(docStream)),
      ("gate_bloom_dedup", nDocs, () => StreamOps.bloomGateStream(docStream, bloom)),
      ("gate_span", nDocs, () => StreamOps.spanGateStream(docStream, spanIdx)),
      ("gate_neardup_cand", nDocs,
        () => StreamOps.nearDupCandidatesStream(docStream, bandIdx)),
      ("gate_bm25", nDocs, () => StreamOps.bm25ScoreStream(docStream, bm25Idx)),
      ("gate_dsir", nDocs, () => StreamOps.dsirScoreStream(docStream, dsirIdx)),
      ("gate_frame", nDocs, () => StreamOps.frameGateStream(docStream, frameIdx)),
      ("gate_sq8", nVecs, () => StreamOps.sq8ScoreStream(vecStream, sq8Idx)),
      ("gate_semantic", nVecs,
        () => StreamOps.semanticGateStream(vecStream, evalIdx)),
      // the two STATEFUL sessionizers (r19): engine-managed
      // session_window state vs the custom flatMapGroupsWithState
      // machine, same 30-min gap semantics over the events feed
      ("session_window", nEvents,
        () => StreamOps.sessionWindowStream(evStream)),
      ("session_custom", nEvents, () => {
        import spark.implicits._
        StreamOps.sessionizeStream(evStream.select(
          "event_id", "ts", "user_id", "event_type", "value")
          .as[StreamOps.Ev]).toDF()
      }))

    def drain(mk: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      val q = mk().writeStream.format("noop").start()
      try q.processAllAvailable() finally q.stop()
      (System.nanoTime() - t0) / 1e9
    }

    val timed = cases.map { case (name, rows, mk) =>
      drain(mk) // warmup: codegen + file listing
      val ts = (1 to 3).map(_ => drain(mk)).sorted
      name -> math.rint(rows / ts(1))
    }

    // r20: per-MICROBATCH latency for the two STATEFUL session
    // formulations. State-heavy operators are latency-bound at
    // deployment (a slow microbatch delays every admission behind it),
    // so the single-drain throughput rows above are completed by
    // p50/p95 triggerExecution over a 16-microbatch drain: the events
    // feed pre-split to 16 files, maxFilesPerTrigger=1, so each batch
    // carries ~1/16 of the feed plus the session state store's
    // incremental merge/evict cost. Stateless gates are deliberately
    // not re-measured — their per-batch cost IS the throughput row.
    val splitDir = s"${sys.props("java.io.tmpdir")}/graft_stream_split_" +
      java.util.UUID.randomUUID
    // try/finally: a failed drain must not leak the full split copy of
    // the events feed in tmpdir
    val latency: Seq[(String, Seq[(String, Double)])] =
      try {
        Tables.events(spark, sfDir).repartition(16).write.parquet(splitDir)
        val evSplitSchema = spark.read.parquet(splitDir).schema
        def evSplitStream: DataFrame = spark.readStream.schema(evSplitSchema)
          .option("maxFilesPerTrigger", "1").parquet(splitDir)
        def batchLatency(mk: () => DataFrame): Seq[(String, Double)] = {
          def drainDurs(): Seq[Double] = {
            val q = mk().writeStream.format("noop").start()
            try q.processAllAvailable() finally q.stop()
            q.recentProgress.toSeq.filter(_.numInputRows > 0)
              .map(_.durationMs.get("triggerExecution").toDouble).sorted
          }
          drainDurs() // warmup: codegen + state-store init
          val durs = drainDurs()
          def pct(f: Double): Double =
            durs((math.ceil(f * durs.size).toInt - 1).max(0).min(durs.size - 1))
          Seq("p50_ms" -> pct(0.5), "p95_ms" -> pct(0.95),
            "batches" -> durs.size.toDouble)
        }
        val stateful: Seq[(String, () => DataFrame)] = Seq(
          "session_window" ->
            (() => StreamOps.sessionWindowStream(evSplitStream)),
          "session_custom" -> (() => {
            import spark.implicits._
            StreamOps.sessionizeStream(evSplitStream.select(
              "event_id", "ts", "user_id", "event_type", "value")
              .as[StreamOps.Ev]).toDF()
          }))
        // r22 (VERDICT r20 #4 / r21 #8): the same two stateful machines
        // under BOTH state-store providers — the default HDFS-backed
        // in-memory map vs RocksDB (the provider a deployment picks when
        // session state outgrows executor heap). One conf line per query;
        // the provider only changes state put/get/evict cost, never
        // results (StreamingSpec pins batch==stream semantics).
        val providerKey = "spark.sql.streaming.stateStore.providerClass"
        val providers = Seq(
          "" -> spark.conf.get(providerKey),
          "_rocksdb" -> ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider"))
        val prevProvider = spark.conf.get(providerKey)
        try {
          for {
            (suffix, provider) <- providers
            (name, mk) <- stateful
          } yield {
            spark.conf.set(providerKey, provider)
            (name + suffix) -> batchLatency(mk)
          }
        } finally spark.conf.set(providerKey, prevProvider)
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(splitDir))

    // latency stats nest under their own object with their own unit —
    // the top-level "unit" describes only the flat gate rate keys
    val latencyJson = latency.map { case (name, stats) =>
      "\"" + name + "\":{" + stats.map { case (k, v) =>
        "\"" + k + "\":" + math.rint(v).toLong }.mkString(",") + "}"
    }.mkString("\"latency\":{", ",", "}")
    println(timed.map { case (k, v) => "\"" + k + "\":" + v.toLong }
      .mkString(s"""{"n_docs":$nDocs,"n_vecs":$nVecs,"n_events":$nEvents,""", ",",
        s""",$latencyJson,"unit":"rows_per_sec","sf":"$sfDir"}"""))
    spark.stop()
  }
}
