package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import graft.operators.{Curation, Dedup}
import graft.sources.Tables

class CurationSpec extends SparkSpec {

  test("drop provenance: each stage's rows equal its standalone operator's verdicts") {
    val out = Curation.dropProvenance(spark, sfDir).cache()
    val byStage = out.groupBy(col("stage")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.keySet.subsetOf(
      Set("quality", "exact_dedup", "near_dedup", "decontamination")))
    // quality rows = gate failures, and every detail names ≥1 failed rule
    val gate = Curation.qualityGate(spark, sfDir)
    assert(byStage.getOrElse("quality", 0L) == gate.filter(!col("keep")).count())
    out.filter(col("stage") === "quality").collect().foreach { r =>
      val rules = r.getString(3).split(",").toSet
      assert(rules.nonEmpty && rules.subsetOf(
        Set("min_tokens", "low_ttr", "dominant_token")))
    }
    // exact-dup rows = corpus minus distinct fingerprints (q34's keepers)
    val docs = Tables.documents(spark, sfDir)
    val nFp = Dedup.dedupExact(spark, sfDir).count()
    assert(byStage.getOrElse("exact_dedup", 0L) == docs.count() - nFp)
    // near-dup rows = distinct d2 of the verified pair table, keeper < doc
    val nd = Dedup.lshNearDup(spark, sfDir)
    assert(byStage.getOrElse("near_dedup", 0L) ==
      nd.select(col("d2")).distinct().count())
    out.filter(col("stage") === "near_dedup").collect().foreach { r =>
      val dupOf = r.getString(3).split(",")(0).stripPrefix("dup_of=").toLong
      assert(dupOf < r.getLong(0), s"keeper not lower-id: $r")
    }
    // decontamination rows = distinct contaminated docs
    assert(byStage.getOrElse("decontamination", 0L) ==
      Curation.decontaminate(spark, sfDir).select(col("doc_id")).distinct().count())
    out.unpersist()
    ()
  }

  test("span fingerprints partition spans exactly like the raw span strings") {
    // the r15 kernel contract: spanHashes is xxhash64 over per-token
    // hashes, used ONLY for equality classes — the DuckDB oracles
    // partition by the raw span STRING, so the two partitions must
    // coincide on real data (a 64-bit collision would silently merge
    // two distinct spans; this pins its absence at fixture scale, in
    // both directions)
    val spans = Tables.documents(spark, sfDir)
      .withColumn("toks", Dedup.toks)
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= Curation.SpanW)
      .withColumn("tokh", Curation.tokHashes)
      .select(col("toks"), posexplode(Curation.spanHashes).as(Seq("i", "h")))
      .withColumn("s",
        array_join(slice(col("toks"), col("i") + 1, lit(Curation.SpanW)), " "))
      .select(col("h"), col("s"))
    assert(spans.count() > 0)
    assert(spans.groupBy(col("h")).agg(countDistinct(col("s")).as("k"))
      .filter(col("k") =!= 1).count() == 0, "fingerprint collision")
    assert(spans.groupBy(col("s")).agg(countDistinct(col("h")).as("k"))
      .filter(col("k") =!= 1).count() == 0, "non-deterministic fingerprint")
  }

  test("quality gate: ratios bounded, keep splits the corpus, rules consistent") {
    val out = Curation.qualityGate(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nTok, nDist) = (r.getLong(1), r.getLong(2))
      assert(nDist >= 1L && nDist <= nTok)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0) // ttr
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0) // top_ratio
      val expect = nTok >= 30 && r.getDouble(4) >= 0.45 && r.getDouble(5) <= 0.15
      assert(r.getBoolean(6) == expect)
    }
    val kept = out.count(_.getBoolean(6))
    assert(kept > 0 && kept < out.length, s"gate is degenerate: $kept/${out.length}")
  }

  test("semDedup blocking knob: larger k partitions the corpus and shrinks pair work") {
    def stats(k: Int): (Long, Long) = {
      val rows = Curation.semDedupK(spark, sfDir, k).collect()
      (rows.map(_.getAs[Long]("n_members")).sum,
        rows.map(r => { val m = r.getAs[Long]("n_members"); m * m }).sum)
    }
    val n = Tables.embeddings(spark, sfDir).count()
    val (members8, work8) = stats(8)
    val (members32, work32) = stats(32)
    // every vector lands in exactly one cluster at any k
    assert(members8 == n && members32 == n)
    // the blocking bound Σ c_i² tightens as k grows — the scale knob
    assert(work32 < work8, s"expected less pair work at k=32: $work32 !< $work8")
  }

  test("routed SemDeDup preserves the dedup signal of the flat assignment (r20)") {
    // the routed two-level assign is the corpus-proportional-k scale
    // path (flat is O(n·k) = quadratic when k ∝ n — the r20 sf10 smoke).
    // Routing is the IVF approximation: cluster SHAPES legitimately
    // differ from the flat E-step (a vector near a routing boundary
    // lands in a neighboring cluster), but near-duplicate pairs have
    // near-identical embeddings and therefore route TOGETHER — so the
    // dedup totals (pairs found, vectors pruned) must stay within a
    // tight band of the flat baseline, and every vector must still land
    // in exactly one cluster.
    val n = Tables.embeddings(spark, sfDir).count()
    for (k <- Seq(8, Curation.semDedupClusterCount(n))) {
      def totals(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
        val rows = df.collect()
        (rows.map(_.getAs[Long]("n_members")).sum,
          rows.map(_.getAs[Long]("n_dup_pairs")).sum,
          rows.map(_.getAs[Long]("n_pruned")).sum)
      }
      val (fm, fp, fpr) = totals(Curation.semDedupK(spark, sfDir, k))
      val (rm, rp, rpr) = totals(Curation.semDedupRoutedK(spark, sfDir, k))
      assert(rm == n && fm == n, s"k=$k membership not total: $rm/$fm vs $n")
      assert(math.abs(rp - fp) <= math.max(2L, fp / 10),
        s"k=$k dup pairs drifted: routed $rp vs flat $fp")
      assert(math.abs(rpr - fpr) <= math.max(2L, fpr / 10),
        s"k=$k pruned drifted: routed $rpr vs flat $fpr")
    }
  }

  test("weighted sample is deterministic and biased toward quality") {
    val q = graft.operators.Text.textQuality(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    val kept = Curation.weightedSample(spark, sfDir)
    val nKept = kept.count(); val nAll = q.count()
    // a Bernoulli keep with p = quality thins the corpus, never empties it
    assert(nKept > 0 && nKept < nAll, s"kept $nKept of $nAll")
    // value-derived coin: identical output on every evaluation
    assert(Curation.weightedSample(spark, sfDir).exceptAll(kept).count() == 0L)
    // survivors must average HIGHER quality than the full corpus — the
    // whole point of weighting the coin by the score
    val avgAll = q.agg(avg(col("quality"))).head().getDouble(0)
    val avgKept = kept.agg(avg(col("quality"))).head().getDouble(0)
    assert(avgKept > avgAll, s"kept avg $avgKept !> corpus avg $avgAll")
  }

  test("an empty pair table yields empty clusters, not a crash") {
    // a pre-deduped corpus produces zero LSH pairs; the label-propagation
    // fixpoint must converge immediately on the empty graph
    val empty = Curation.pairTable(spark, sfDir).filter(lit(false))
    assert(Curation.nearDupClustersFrom(empty).count() == 0L)
  }

  test("pairTable deployment mode: q80/q82/q87 identical via shared pairs") {
    // One materialized pair table feeding all three consumers must give
    // exactly the per-query-isolated (recompute-the-LSH) results.
    val pairs = Curation.pairTable(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val shared = Seq(
      Curation.nearDupClustersFrom(pairs),
      Curation.clusterRepsFrom(pairs, docs),
      Curation.crossSourceDupsFrom(pairs, docs))
    val isolated = Seq(
      Curation.nearDupClusters(spark, sfDir),
      Curation.clusterReps(spark, sfDir),
      Curation.crossSourceDups(spark, sfDir))
    shared.zip(isolated).foreach { case (a, b) =>
      assert(a.columns.sameElements(b.columns))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
  }

  test("pairTable survives a parquet round-trip: q80/q82/q87 identical from the sink") {
    // the durable deployment entry: localCheckpoint dies with the
    // executors, so persistPairTable stages the (duplicate-count-sized)
    // pair table in parquet — consumers must be provably indifferent
    val tmp = java.nio.file.Files.createTempDirectory("graft_pairs")
    val sink = tmp.resolve("pairs.parquet").toString
    val reread = Curation.persistPairTable(spark, sfDir, sink)
    // the sink really is the source: a fresh read, not lineage reuse
    assert(new java.io.File(sink).exists())
    val docs = Tables.documents(spark, sfDir)
    val fromSink = Seq(
      Curation.nearDupClustersFrom(reread),
      Curation.clusterRepsFrom(reread, docs),
      Curation.crossSourceDupsFrom(reread, docs))
    val isolated = Seq(
      Curation.nearDupClusters(spark, sfDir),
      Curation.clusterReps(spark, sfDir),
      Curation.crossSourceDups(spark, sfDir))
    fromSink.zip(isolated).foreach { case (a, b) =>
      assert(a.columns.sameElements(b.columns))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("bloom increment: exact admit list, and the sketch actually prunes") {
    // the bloom prefilter must be invisible in the OUTPUT (negatives are
    // definitive, candidates are exactly verified) …
    val admitted = Curation.bloomIncrement(spark, sfDir).select(col("doc_id"))
    val expected = Curation.incrementalDedup(spark, sfDir)
      .filter(col("status") === "novel").select(col("doc_id"))
    assert(admitted.exceptAll(expected).isEmpty && expected.exceptAll(admitted).isEmpty)
    // … and visible in the PLAN: every true corpus dup must pass the
    // filter (no false negatives, ever), while the overshoot beyond the
    // true dups — the false positives the exact verify absorbs — stays
    // a sliver of the batch
    val candidates = Curation.bloomCandidates(spark, sfDir)
    val trueDups = Curation.incrementalDedup(spark, sfDir)
      .filter(col("status") === "dup_of_corpus").select(col("doc_id"))
    assert(trueDups.exceptAll(candidates.select(col("doc_id"))).count() == 0L,
      "bloom produced a false negative")
    val batchN = sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0).count()
    val overshoot = candidates.count() - trueDups.count()
    assert(overshoot <= math.max(1L, batchN / 100),
      s"bloom false-positive overshoot $overshoot of $batchN-doc batch")
    // the ORDER is pinned: the exact verify's left side must be the
    // materialized candidate sliver, not a batch scan — Catalyst would
    // otherwise push the semi-join below the sketch test (see the
    // load-bearing barrier note in bloomIncrement)
    val plan = Curation.bloomIncrement(spark, sfDir)
      .queryExecution.executedPlan.toString
    val semi = plan.linesIterator.find(_.contains("LeftSemi"))
    assert(semi.nonEmpty, plan)
    val below = plan.linesIterator.dropWhile(!_.contains("LeftSemi")).take(3).mkString("\n")
    assert(below.contains("ExistingRDD"),
      s"verify join no longer consumes the checkpointed candidates:\n$below")
  }

  test("bloom sketch of an empty corpus rules out every batch doc") {
    // pre-first-ingest deployment: no index yet → all-zero floor-sized
    // sketch → zero candidates → the whole batch is admitted novel
    import spark.implicits._
    val bloom = Curation.bloomWordsSharded(Seq.empty[String].toDF("fp"), 1)
    val arr = bloom.head().getSeq[Long](1)
    assert(arr.length == 16384 / 64 && arr.forall(_ == 0L),
      s"expected the all-zero floor sketch, got len=${arr.length}")
    val batch = Seq("a", "b", "c").toDF("fp")
    assert(Curation.bloomHitSharded(batch, bloom, 1).count() == 0L)
  }

  test("sharded Bloom words equal a driver-built reference at 1 and 4 shards") {
    // the reference sets each key's pmod(xxhash64(fp, i), m) bits into
    // one Long array per shard on the driver, with m the next power of two
    // >= BloomBitsPerKey × the shard's key count (floor 2^14)
    import spark.implicits._
    val fps = (0 until 3000).map(i => s"doc-$i").toDF("fp")
    for (nShards <- Seq(1, 4)) {
      val words = Curation.bloomWordsSharded(fps, nShards)
      // the schema the shared sketch artifacts are written with
      assert(words.schema == StructType(Seq(StructField("shard", LongType, nullable = false),
        StructField("bloom", ArrayType(LongType, containsNull = false), nullable = false))))
      val got = words.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val keyed = fps.withColumn("shard", Curation.bloomShardCol(nShards))
      val counts = keyed.groupBy("shard").count().as[(Long, Long)].collect().toMap
      val want = (0L until nShards).map { s =>
        var m = 1L
        while (m < math.max(counts.getOrElse(s, 0L) * Curation.BloomBitsPerKey, 16384L)) m <<= 1
        val words = new Array[Long]((m / 64).toInt)
        keyed.filter(col("shard") === s)
          .select(explode(array((0 until Curation.BloomK).map(i =>
            pmod(xxhash64(col("fp"), lit(i)), lit(m))): _*)))
          .as[Long].collect()
          .foreach(p => words((p / 64).toInt) |= 1L << (p % 64))
        s -> words.toSeq
      }.toMap
      assert(got.keySet == want.keySet, s"nShards=$nShards")
      want.foreach { case (s, words) =>
        assert(got(s) == words, s"nShards=$nShards shard $s: ${got(s).size} vs ${words.size} words")
      }
    }
  }

  test("sharded sketch with empty shards: every shard emits a row, no probe is dropped") {
    // regression for the r9 snapshot-commit fix: with more shards than
    // populated key ranges, a shard no corpus key routed to must still
    // emit its (floor-width, all-zero) sketch row — consumers inner-join
    // on the shard id, and a missing row silently drops every probe
    // routed there (ingest data loss, not a wrong bit)
    import spark.implicits._
    val nShards = 8
    val fps = Seq("alpha", "bravo", "charlie").toDF("fp")
    val shards = Curation.bloomWordsSharded(fps, nShards)
    val rows = shards.collect()
    assert(rows.length == nShards,
      s"expected $nShards sketch rows, got ${rows.length}")
    val populated = fps.withColumn("shard", Curation.bloomShardCol(nShards))
      .select("shard").distinct().as[Long].collect().toSet
    assert(populated.size < nShards, "scenario vacuous: no empty shard")
    rows.foreach { r =>
      val (shard, words) = (r.getLong(0), r.getSeq[Long](1))
      if (!populated(shard))
        assert(words.length == 16384 / 64 && words.forall(_ == 0L),
          s"empty shard $shard not the all-zero floor sketch (len=${words.length})")
    }
    // the membership join annotates EVERY probe row — including ones
    // routed to empty shards — before the bit test filters
    val probe = (1 to 64).map(i => s"probe_$i").toDF("fp").union(fps)
    val probeShards = probe.withColumn("shard", Curation.bloomShardCol(nShards))
    assert(probeShards.select("shard").distinct().as[Long].collect().toSet
      .exists(!populated(_)), "scenario vacuous: no probe hit an empty shard")
    assert(probeShards.join(shards, Seq("shard")).count() == 67L,
      "shard join dropped a probe row")
    // corpus keys survive the sharded bit test (no false negative), and
    // empty-shard probes are definitively ruled out, not lost
    val hits = Curation.bloomHitSharded(probe, shards, nShards)
      .as[String].collect().toSet
    assert(Set("alpha", "bravo", "charlie").subsetOf(hits),
      "sharded sketch produced a false negative")
  }

  test("sharded span-index gate matches q95 row for row") {
    // q101's machinery: the sharded route (posexplode → shard equi-join
    // → bloom-then-binary-search verify → regroup) must reproduce the
    // window formulation EXACTLY — the sketch only short-circuits
    val viaGate = Curation.spanDedupShardedGate(spark, sfDir).collect()
    val viaWindow = Curation.spanDedup(spark, sfDir).collect()
    assert(viaGate.length == viaWindow.length && viaGate.nonEmpty)
    assert(viaGate.map(_.toSeq).toSeq == viaWindow.map(_.toSeq).toSeq,
      "sharded span gate diverged from the window formulation")
    // and the sharded index honors the empty-shard contract: more shards
    // than dup-span hashes still yields one row per shard, empty arrays
    import spark.implicits._
    val tiny = Curation.spanIndexSharded(Seq("h1", "h2").toDF("h"), 8)
    val rows = tiny.collect()
    assert(rows.length == 8, s"expected 8 shard rows, got ${rows.length}")
    assert(rows.map(_.getSeq[String](2).length).sum == 2,
      "exact arrays must partition the index")
  }

  test("zero-token documents pass the sharded span gate with keep_ratio 1") {
    // the documented short-doc contract: no spans → nothing covered →
    // keep. n = 0 once made the ratio 0/0 → NULL under Spark's non-ANSI
    // division (r10 advice); the verdict now guards it explicitly.
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "one two"),
      (3L, "a b c d e f g h a b c d e f g h a b c d e f g h"))
      .toDF("doc_id", "text")
    val st = Curation.spanTable(spark, sfDir)
    val idx = Curation.spanIndexSharded(Curation.dupSpanIndexFrom(st), 4)
    val out = Curation.spanGateSharded(docs, idx, 4)
      .select("doc_id", "n", "keep_ratio").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == (0L, 1.0), s"zero-token doc verdict: ${out(1L)}")
    assert(out(2L) == (2L, 1.0), s"short doc verdict: ${out(2L)}")
    assert(out(3L)._1 == 24L)
  }

  test("past-broadcast regime: shuffle-join gates match the broadcast path") {
    // broadcastShards/broadcastIndex = false is the past-broadcast
    // deployment regime as code — the same equi-join HINTED shuffle_hash
    // with the shard table as build side (merely dropping our broadcast
    // hint lets toy-scale stats re-broadcast whichever side looks small,
    // which is exactly not the regime the knob declares). Outputs must
    // be identical and the plan must actually shuffle on the shard id.
    import spark.implicits._
    val fps = (1 to 40).map(i => s"corpus_$i").toDF("fp")
    val probe = (30 to 70).map(i => s"corpus_$i").toDF("fp")
    val shards = Curation.bloomWordsSharded(fps, 4)
    val hintHits = Curation.bloomHitSharded(probe, shards, 4)
      .as[String].collect().sorted.toSeq
    val shuffled = Curation.bloomHitSharded(probe, shards, 4, broadcastShards = false)
    assert(shuffled.as[String].collect().sorted.toSeq == hintHits)
    // the PROBE join (single shard key, inner) must shuffle; the
    // sketch build's internal broadcasts are its own business
    val p = shuffled.queryExecution.executedPlan.toString
    assert("(ShuffledHashJoin|SortMergeJoin) \\[shard#\\d+L\\], \\[shard#\\d+L\\], Inner"
      .r.findFirstIn(p).nonEmpty, p.take(400))
    // the sharded span gate under the same regime
    val st = Curation.spanTable(spark, sfDir)
    val idx = Curation.spanIndexSharded(Curation.dupSpanIndexFrom(st), 4)
    def rows(bcast: Boolean) =
      Curation.spanGateShardedFrom(st, idx, 4, broadcastIndex = bcast)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(rows(false).toSeq == rows(true).toSeq,
      "shuffle-join span gate diverged from the broadcast path")
  }

  test("decontaminateFrom over the every-97th eval slice matches the declared q73") {
    val docs = Tables.documents(spark, sfDir)
    val ev = docs.filter(col("doc_id") % 97 === 0)
    val declared = Curation.decontaminate(spark, sfDir).collect().map(_.toSeq).toSeq
    val base = Curation.decontaminateFrom(docs, ev).collect().map(_.toSeq).toSeq
    assert(base == declared, "From variant diverged from the declared query")
  }

  test("component labels: a chain and a disjoint pair reach the min-label fixpoint") {
    import spark.implicits._
    // a 4-node chain (merges across iterations) plus a disjoint pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val labels = Curation.componentLabels(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(labels.map(_._1) == Seq(1L, 2L, 3L, 4L, 10L, 11L))
    assert(labels.forall { case (id, l) =>
      if (id <= 4L) l == 1L else l == 10L })
  }

  test("cms census: estimates never undercount and are near-exact at this load") {
    val out = Curation.cmsCensus(spark, sfDir).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val (df, est, over) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(est >= df, s"CMS undercounted ${r.getString(0)}: $est < $df")
      assert(over == est - df)
    }
    // at ~0.4 insertions per bucket, min-of-4-rows collisions are rare:
    // the heavy hitters should be mostly exact (sketch is USEFUL, not a
    // vacuous upper bound)
    val exact = out.count(r => r.getLong(4) == 0L)
    assert(exact >= 15, s"only $exact/20 heavy hitters exact — sketch overloaded")
  }

  test("span dedup: bounds hold and exact-dup documents are fully covered") {
    val out = Curation.spanDedup(spark, sfDir)
    out.collect().foreach { r =>
      val (n, spans, covered) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(covered <= n && spans <= n - 8 + 1)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // the corpus's mutated near-dup copies share long token runs, so
    // duplicated spans must exist …
    val withSpans = out.filter(col("n_dup_spans") > 0)
    assert(withSpans.count() > 0, "no duplicated spans found in the corpus")
    // … and coverage must respect the interval-union bounds: k distinct
    // 8-token windows cover at least max(8, k) and at most 8k positions
    val broken = withSpans.filter(
      col("n_covered") < greatest(lit(8L), col("n_dup_spans")) ||
        col("n_covered") > col("n_dup_spans") * 8)
    assert(broken.count() == 0L, broken.collect().take(3).mkString(";"))
  }

  test("span trim is consistent with span dedup and is a no-op without spans") {
    val dedup = Curation.spanDedup(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("n_covered"), col("n_dup_spans"))
    val trim = Curation.spanTrim(spark, sfDir)
      .select(col("doc_id"), col("n_kept"), col("text_trimmed"))
    val both = dedup.join(trim, Seq("doc_id"))
    // the trim keeps exactly the uncovered tokens q95 counted
    assert(both.filter(col("n_kept") =!= col("n_tokens") - col("n_covered")).count() == 0L)
    // docs with no duplicated span pass through as their token join
    val untouched = both.filter(col("n_dup_spans") === 0)
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_join(graft.operators.Dedup.toks, " ").as("joined"))
    assert(untouched.join(docs, Seq("doc_id"))
      .filter(col("text_trimmed") =!= col("joined")).count() == 0L)
    // trimmed docs really lost tokens
    assert(both.filter(col("n_dup_spans") > 0 && col("n_kept") === col("n_tokens"))
      .count() == 0L)
  }

  test("span provenance: ordered pairs, positive counts, consistent with span dedup") {
    val out = Curation.spanProvenance(spark, sfDir).collect()
    assert(out.nonEmpty, "corpus has cross-source duplicated spans; matrix empty")
    val nSources = sources.Tables.documents(spark, sfDir)
      .select(col("source")).distinct().count()
    assert(out.length <= nSources * (nSources - 1) / 2)
    out.foreach { r =>
      assert(r.getString(0) < r.getString(1), s"unordered pair: $r")
      assert(r.getLong(2) > 0)
    }
    // every cross-source shared span is by definition a duplicated span,
    // so q95 must report at least one doc with spans whenever q98 is
    // non-empty (weak cross-operator consistency, cheap to pin)
    assert(Curation.spanDedup(spark, sfDir)
      .filter(col("n_dup_spans") > 0).count() > 0)
  }

  test("repetition ratio: bounded, and the plan has no shuffle at all") {
    val df = Curation.repetitionRatio(spark, sfDir)
    df.collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // distinct <= total
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0)
    }
    // narrow per-row projection: the only exchange allowed is the final
    // orderBy's range partitioning — no hash shuffle anywhere
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("boilerplate census: 20 rows ordered by df, occ >= df >= 1") {
    val out = Curation.boilerplateCensus(spark, sfDir).collect()
    assert(out.length == 20)
    out.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(1) >= b.getLong(1))
      case _           =>
    }
    out.foreach(r => assert(r.getLong(2) >= r.getLong(1) && r.getLong(1) >= 1L))
  }

  test("stratified sample: at most 3 per stratum, covers every stratum, reproducible") {
    val a = Curation.stratifiedSample(spark, sfDir).collect()
    val perStratum = a.groupBy(r => (r.getString(0), r.getString(1)))
    perStratum.values.foreach(rows => assert(rows.length <= 3))
    val allStrata = Tables.documents(spark, sfDir)
      .select("lang", "source").distinct().count()
    assert(perStratum.size == allStrata)
    val b = Curation.stratifiedSample(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("kmeans assign: partitions all vectors, centroids self-assign") {
    val out = Curation.kmeansAssign(spark, sfDir).collect()
    val total = Tables.embeddings(spark, sfDir).count()
    assert(out.map(_.getLong(1)).sum == total)
    // each cluster contains its own centroid, whose self-cosine is 1
    out.foreach(r => assert(r.getDouble(3) == 1.0))
    assert(out.map(_.getLong(0)).toSet.subsetOf((0L until 8L).toSet))
  }

  test("kmeans update: 64 dims per cluster, member counts match the E-step") {
    val assign = Curation.kmeansAssign(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val upd = Curation.kmeansUpdate(spark, sfDir).collect()
    upd.groupBy(_.getLong(0)).foreach { case (cluster, rows) =>
      assert(rows.length == 64)
      assert(rows.map(_.getLong(1)).sorted.sameElements(0L until 64L))
      rows.foreach { r =>
        assert(r.getLong(2) == assign(cluster))
        assert(math.abs(r.getDouble(3)) < 1.0) // means stay in the value range
      }
    }
  }

  test("chunking: stride/window arithmetic holds for every chunk") {
    val docLen = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = Curation.chunkTokens(spark, sfDir).collect()
    chunks.groupBy(_.getLong(0)).foreach { case (doc, rows) =>
      val len = docLen(doc)
      assert(rows.length == ((len + 23) / 24).toInt) // ceil(len/stride)
      rows.foreach { r =>
        val start = r.getLong(1) * 24 // 0-based offset of chunk start
        assert(r.getLong(2) == math.min(32L, len - start))
      }
    }
  }

  test("decontamination: no self-pairs, shared counts >= threshold, eval ids on probe grid") {
    val out = Curation.decontaminate(spark, sfDir).collect()
    out.foreach { r =>
      assert(r.getLong(0) != r.getLong(1))
      assert(r.getLong(1) % 97 == 0)
      assert(r.getLong(2) >= 2L)
    }
  }

  test("packing: bins partition each source's docs, token totals conserved") {
    val out = Curation.packSequences(spark, sfDir).collect()
    val expected = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("total"), count(lit(1)).as("docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      assert(rows.map(_.getLong(3)).sum == expected(src)._1) // tokens conserved
      assert(rows.map(_.getLong(2)).sum == expected(src)._2) // docs conserved
      // bin ids are dense from 0
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids.head == 0L && ids.last == ids.length - 1)
    }
  }

  test("unigram surprisal: positive, bounded by rarest token, perplexity = exp(mean)") {
    val out = Curation.unigramSurprisal(spark, sfDir).collect()
    assert(out.nonEmpty)
    // the per-doc mean NLL can never exceed the corpus-wide max token NLL
    val totalToks = Tables.documents(spark, sfDir)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("t"))
      .count()
    val maxNll = -math.log(1.0 / totalToks)
    out.foreach { r =>
      val mean = r.getDouble(2)
      assert(mean > 0.0 && mean <= maxNll)
      assert(math.abs(r.getDouble(3) - math.exp(mean)) < 1e-4)
    }
  }

  test("mixture weights: shares sum to ~1, weights invert the shares") {
    val out = Curation.mixtureWeights(spark, sfDir).collect()
    val n = out.length
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-3)
    out.foreach { r =>
      // weight * share == 1/n_sources (up to the 6-dp truncation)
      assert(math.abs(r.getDouble(4) * r.getDouble(3) - 1.0 / n) < 1e-3)
    }
  }

  test("curation funnel: stage counts monotone, totals match the standalone operators") {
    val out = Curation.curationFunnel(spark, sfDir).collect()
    out.foreach { r =>
      val (docs, gate, dedup, clean) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(docs >= gate && gate >= dedup && dedup >= clean)
      if (clean == 0) assert(r.getLong(5) == 0L && r.getLong(6) == 0L)
      else assert(r.getLong(5) >= 1L && r.getLong(6) > 0L)
    }
    // funnel's gate stage == the standalone gate, summed over sources
    val keptStandalone = Curation.qualityGate(spark, sfDir)
      .filter(col("keep")).count()
    assert(out.map(_.getLong(2)).sum == keptStandalone)
    assert(out.map(_.getLong(1)).sum ==
      Tables.documents(spark, sfDir).count())
  }

  test("incremental dedup: every batch doc classified, novel implies first occurrence") {
    val out = Curation.incrementalDedup(spark, sfDir).collect()
    val batchCount = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0).count()
    assert(out.length == batchCount)
    val statuses = out.map(_.getString(1)).toSet
    assert(statuses.subsetOf(Set("novel", "dup_of_corpus", "dup_in_batch")))
  }

  test("neardup clusters: rep = min member, size >= 2, members disjoint and sorted") {
    val out = Curation.nearDupClusters(spark, sfDir).collect()
    val allMembers = out.flatMap(_.getString(2).split(",").map(_.toLong))
    assert(allMembers.distinct.length == allMembers.length)
    out.foreach { r =>
      val members = r.getString(2).split(",").map(_.toLong)
      assert(r.getLong(1) == members.length && members.length >= 2)
      assert(r.getLong(0) == members.min)
      assert(members.sameElements(members.sorted))
    }
  }

  test("cluster reps: exactly one keep per cluster, and it has the cluster-max n_chars") {
    val out = Curation.clusterReps(spark, sfDir).collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val kept = rows.filter(_.getBoolean(4))
      assert(kept.length == 1)
      assert(kept.head.getLong(2) == rows.map(_.getLong(2)).max)
    }
  }

  test("redact census: all docs counted, mask delta = 2 chars per hit, no PII in corpus") {
    val out = Curation.redactCensus(spark, sfDir).collect()
    assert(out.map(_.getLong(1)).sum == Tables.documents(spark, sfDir).count())
    out.foreach { r =>
      // both blocklist terms are 8 chars; '[REDACTED]' is 10 → +2 per hit
      assert(r.getLong(5) == 2 * r.getLong(3))
      assert(r.getLong(4) == 0L) // synthetic vocabulary has no email/IP
      assert(r.getLong(3) >= r.getLong(2)) // flagged docs carry >= 1 hit each
    }
  }

  test("semdedup: members partition the corpus, kept = members - pruned") {
    val out = Curation.semDedup(spark, sfDir).collect()
    assert(out.map(_.getLong(1)).sum ==
      Tables.embeddings(spark, sfDir).count())
    out.foreach { r =>
      assert(r.getLong(4) == r.getLong(1) - r.getLong(3))
      assert(r.getLong(3) <= r.getLong(2)) // pruned <= qualifying pairs
    }
  }

  test("split manifest: covers all docs, within-source shares sum to 1") {
    val out = Curation.splitManifest(spark, sfDir).collect()
    assert(out.map(_.getLong(2)).sum == Tables.documents(spark, sfDir).count())
    assert(out.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-3)
    }
  }

  test("length outliers: covers all docs, outliers bounded, mad <= spread") {
    val out = Curation.lengthOutliers(spark, sfDir).collect()
    assert(out.map(_.getLong(1)).sum == Tables.documents(spark, sfDir).count())
    out.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(4) >= 0.0) // MAD non-negative
      // by definition at most half the docs deviate more than the MAD,
      // so > 3*MAD outliers are a strict minority
      assert(r.getLong(2) <= r.getLong(1) / 2)
    }
  }

  test("zipf census: slope negative (frequency decreases with rank), vocab <= tokens") {
    val out = operators.Text.zipfCensus(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2)) // vocab_size <= n_tokens
      assert(r.getDouble(3) < 0.0)         // rank-frequency always decreasing
    }
  }

  test("cross-source dup matrix: pair counts sum to the LSH pair total, jaccard >= threshold") {
    val out = Curation.crossSourceDups(spark, sfDir).collect()
    val totalPairs = operators.Dedup.lshNearDup(spark, sfDir).count()
    assert(out.map(_.getLong(2)).sum == totalPairs)
    out.foreach { r =>
      assert(r.getString(0) <= r.getString(1)) // unordered pair canonical form
      assert(r.getDouble(3) >= 0.6)            // verified at the LSH threshold
    }
  }

  test("epoch plan: realized factor brackets the weight, copies consistent") {
    val out = Curation.epochPlan(spark, sfDir).collect()
    assert(out.map(_.getLong(2)).sum ==
      Tables.documents(spark, sfDir).count())
    out.foreach { r =>
      val (w, nDocs, nCopies) = (r.getDouble(1), r.getLong(2), r.getLong(3))
      // floor(w) <= realized factor <= floor(w)+1 by construction
      assert(nCopies >= nDocs * math.floor(w).toLong)
      assert(nCopies <= nDocs * (math.floor(w).toLong + 1))
    }
  }

  test("filter calibration: quadrants partition the gated docs, agreement consistent") {
    val out = Curation.filterCalibration(spark, sfDir).collect()
    out.foreach { r =>
      val (n, kg, kb, dg, db) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(kg + kb + dg + db == n)
      assert(math.abs(r.getDouble(6) - math.floor((kg + db) * 1.0 / n * 1e6) / 1e6) < 1e-9)
    }
    // every doc that got both scores appears exactly once
    assert(out.map(_.getLong(1)).sum == Curation.qualityGate(spark, sfDir).count())
  }

  test("chunk dedup: exact duplicate docs share all chunks, fractions bounded") {
    val out = Curation.chunkDedup(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // shared <= chunks
      val f = r.getDouble(3)
      assert(f >= 0.0 && f <= 1.0)
    }
    // whole-doc exact duplicates (q34's groups) must score dup_fraction 1.0
    val fp = sha2(trim(lower(regexp_replace(col("text"), "\\s+", " "))), 256)
    val dupIds = Tables.documents(spark, sfDir).withColumn("fp", fp)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("n") >= 2).select("doc_id").collect().map(_.getLong(0)).toSet
    // (sf0.001 has no exact dups — the invariant binds when they exist)
    val byId = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    dupIds.foreach { id => assert(byId(id) == 1.0, s"doc $id") }
  }

  test("approx length outliers track the exact operator within sketch tolerance") {
    // the at-scale formulation (mergeable quantile sketches, agg-shaped)
    // must agree with the exact window formulation on every count at this
    // accuracy/scale; medians/MADs may differ only by sketch interpolation
    val exact = Curation.lengthOutliers(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val approx = Curation.lengthOutliersApprox(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (src, (nDocs, nOut, med, mad)) =>
      val (eDocs, eOut, eMed, eMad) = exact(src)
      assert(nDocs == eDocs)
      assert(math.abs(nOut - eOut) <= math.max(2L, eDocs / 50),
        s"$src: approx outliers $nOut vs exact $eOut")
      assert(math.abs(med - eMed) <= math.max(1.0, eMed * 0.02), s"$src median")
      assert(math.abs(mad - eMad) <= math.max(1.0, eMad * 0.05), s"$src mad")
    }
  }

  test("spanTable deployment mode: q95/q96/q98 identical via the shared span table") {
    // One staged span table feeding all three consumers must give exactly
    // the per-query-isolated (recompute-the-explode) results.
    val spans = Curation.spanTable(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val shared = Seq(
      Curation.spanDedupFrom(spans),
      Curation.spanTrimFrom(spans, docs),
      Curation.spanProvenanceFrom(spans))
    val isolated = Seq(
      Curation.spanDedup(spark, sfDir),
      Curation.spanTrim(spark, sfDir),
      Curation.spanProvenance(spark, sfDir))
    shared.zip(isolated).foreach { case (a, b) =>
      assert(a.columns.sameElements(b.columns))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
  }

  test("spanTable survives a parquet round-trip: q95/q96/q98 identical from the sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_spans")
    val sink = tmp.resolve("spans.parquet").toString
    val reread = Curation.persistSpanTable(spark, sfDir, sink)
    assert(new java.io.File(sink).exists())
    val docs = Tables.documents(spark, sfDir)
    val fromSink = Seq(
      Curation.spanDedupFrom(reread),
      Curation.spanTrimFrom(reread, docs),
      Curation.spanProvenanceFrom(reread))
    val isolated = Seq(
      Curation.spanDedup(spark, sfDir),
      Curation.spanTrim(spark, sfDir),
      Curation.spanProvenance(spark, sfDir))
    fromSink.zip(isolated).foreach { case (a, b) =>
      assert(a.columns.sameElements(b.columns))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("span table increment: union of batch spans == from-scratch rebuild") {
    // split the corpus 80/20 by doc_id; the 20% "arriving batch" extends
    // the staged 80% table by union, and every span-family output over
    // the merged table must equal the full from-scratch results
    val docs = Tables.documents(spark, sfDir)
    val base = Curation.spanTable(spark, sfDir) // full table (reference)
    val old80 = docs.filter(col("doc_id") % 5 =!= 0)
    val new20 = docs.filter(col("doc_id") % 5 === 0)
    val merged = Curation.spanTableIncrement(
      Curation.spanRows(old80), new20)
    assert(merged.exceptAll(base).isEmpty && base.exceptAll(merged).isEmpty)
    val a = Curation.spanDedupFrom(merged)
    val b = Curation.spanDedup(spark, sfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("span dup marking: two-phase heavy-hitter == window count, viral span included") {
    import spark.implicits._
    // a viral 8-token span shared by 10^3 docs — the skew case the
    // two-phase formulation exists for — plus unique tails, plus one
    // occ-1 doc that must NOT be marked
    val viral = "the quick brown fox jumps over the dog"
    val docs = (0 until 1000).map(i => (i.toLong, s"$viral unique$i tail$i words$i", "s0")) :+
      (5000L, "completely unrelated eight tokens here for one doc", "s1")
    val df = docs.toDF("doc_id", "text", "source")
    val spans = Curation.spanRows(df)
    val a = Curation.dupHitsTwoPhase(spans)
    val b = Curation.dupHitsWindow(spans)
    val c = Curation.dupHitsSketchPhase(spans) // past-broadcast formulation
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(c.exceptAll(b).isEmpty && b.exceptAll(c).isEmpty)
    // the viral span is marked in every carrier, the occ-1 doc never
    val hitDocs = a.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(hitDocs.size == 1000 && !hitDocs.contains(5000L))
    // and on the real corpus, all three markers agree too
    val real = Curation.spanTable(spark, sfDir)
    val rw = Curation.dupHitsWindow(real)
    val rs = Curation.dupHitsSketchPhase(real)
    assert(rs.exceptAll(rw).isEmpty && rw.exceptAll(rs).isEmpty)
  }

  test("inverted index: postings capped at 10, sorted, df consistent") {
    val out = Curation.invertedIndex(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (df, occ) = (r.getLong(1), r.getLong(2))
      assert(occ >= df && df >= 1L)
      val posts = r.getString(3).split(",").map(_.toLong)
      assert(posts.length == math.min(df, 10L).toInt)
      assert(posts.sameElements(posts.sorted))
    }
  }

  test("dup pagerank: probability mass conserved, hub outranks leaves on a star") {
    import spark.implicits._
    // star: doc 0 paired with 1, 2, 3 — the hub must outrank the
    // (symmetric, equal-ranked) leaves
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("d1", "d2")
    val out = Curation.dupPageRankFrom(star).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L)._1 == 3L && out(1L)._1 == 1L)
    assert(out(0L)._2 > out(1L)._2, s"hub ${out(0L)._2} !> leaf ${out(1L)._2}")
    assert(out(1L)._2 == out(2L)._2 && out(2L)._2 == out(3L)._2)
    // mass conservation (undirected graph has no dangling nodes): the
    // 1e-12 contribution flooring leaks at most iters·N·1e-12
    val mass = out.values.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"rank mass $mass drifted from 1")
    // real-corpus run: every rank at least the teleport floor
    val real = Curation.dupPageRank(spark, sfDir).collect()
    if (real.nonEmpty) {
      val n = real.length
      real.foreach(r => assert(r.getDouble(2) >= (1.0 - 0.85) / n - 1e-9))
    }
  }

  test("pagerank checkpoints bound plan depth at iters=20 without changing ranks") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // a small but non-trivial graph: chain + a hub
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L),
      (0L, 5L), (0L, 6L)).toDF("d1", "d2")
    val ck = Curation.dupPageRankFrom(pairs, iters = 20)
    val raw = Curation.dupPageRankFrom(pairs, iters = 20, ckptEvery = Int.MaxValue)
    // identical ranks: the 1e-12 grid flooring each iteration makes the
    // values independent of where (or whether) the lineage is cut
    val got = ck.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = raw.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"checkpointing changed ranks: ${got -- want}")
    // bounded lineage: the optimized plan carries at most PrCkptEvery
    // iterations' joins (4 join nodes per iteration: edges, deg, the
    // left sum join, and the broadcast-nn cross) + the final deg join,
    // where the uncheckpointed plan stacks all 20 iterations' worth
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    assert(joins(ck) <= 4 * Curation.PrCkptEvery + 2,
      s"checkpointed plan still carries ${joins(ck)} joins")
    assert(joins(raw) > joins(ck),
      s"uncheckpointed ${joins(raw)} !> checkpointed ${joins(ck)}")
  }

  test("span runs: maximal, disjoint, and covering exactly q95's positions") {
    val spans = Curation.spanTable(spark, sfDir)
    val runs = Curation.spanRunsFrom(spans).collect()
    assert(runs.nonEmpty)
    // per doc: runs disjoint with a gap > 0 between them (maximality:
    // touching runs would have merged), each at least SpanW long
    runs.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      sorted.foreach { r =>
        assert(r.getLong(4) >= Curation.SpanW,
          s"run shorter than a span: $r")
        assert(r.getLong(3) == r.getLong(2) + r.getLong(4) - 1)
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(2) > a.getLong(3) + 1,
            s"adjacent runs failed to merge: $a | $b")
        case _ =>
      }
    }
    // sum of run lengths == q95's covered-position count, doc for doc
    val covByRuns = runs.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(4)).sum).toMap
    val q95 = Curation.spanDedupFrom(spans).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).filter(_._2 > 0L).toMap
    assert(covByRuns == q95,
      s"run coverage diverged from q95: ${covByRuns.size} vs ${q95.size} docs")
  }

  test("self-repeat: looping fixture flags, self coverage bounded by corpus coverage") {
    import spark.implicits._
    val phrase = "a1 a2 a3 a4 a5 a6 a7 a8"
    val docs = Seq(
      (1L, s"$phrase $phrase", "s"),                       // the loop
      (2L, (1 to 16).map(i => s"u$i").mkString(" "), "s")  // all distinct
    ).toDF("doc_id", "text", "source")
    val out = Curation.selfRepeatFrom(Curation.spanRows(docs)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 1: spans at 0 and 8 share the phrase hash -> 16/16 covered
    assert(out(1L) == ((2L, 16L, 1.0)), s"loop doc: ${out(1L)}")
    assert(out(2L) == ((0L, 0L, 0.0)), s"distinct doc: ${out(2L)}")
    // real corpus: a self-duplicated span is corpus-duplicated a
    // fortiori, so self coverage never exceeds q95's per doc
    val spans = Curation.spanTable(spark, sfDir)
    val self = Curation.selfRepeatFrom(spans).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val corpus = Curation.spanDedupFrom(spans).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    self.foreach { case (d, c) =>
      assert(c <= corpus(d), s"doc $d: self $c > corpus ${corpus(d)}")
    }
  }

  test("bigram surprisal: per-doc coverage exact, phrasing beats bag-of-words") {
    val docs = Tables.documents(spark, sfDir)
    val out = Curation.bigramSurprisal(spark, sfDir).collect()
    val eligible = docs.filter(size(graft.operators.Dedup.toks) >= 2).count()
    assert(out.length == eligible.toInt)
    // every bigram position scores exactly once (the LM join drops none)
    val nTok = docs.select(col("doc_id"), size(graft.operators.Dedup.toks).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) == nTok(r.getLong(0)) - 1L,
        s"doc ${r.getLong(0)}: ${r.getLong(1)} bigrams != n-1")
      assert(r.getDouble(2) > 0.0)
    }
    // the corpus is REAL phrasing to a bigram model: conditioning on the
    // previous token must beat the bag-of-words model on average
    // (deterministic given the fixed corpus)
    val uni = Curation.unigramSurprisal(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val mBi = out.map(_.getDouble(2)).sum / out.length
    val mUni = out.map(r => uni(r.getLong(0))).sum / out.length
    assert(mBi < mUni, s"bigram mean nll $mBi !< unigram $mUni")
  }

  test("dsir selection: deterministic, fixed-size, biased toward the target") {
    val docs = Tables.documents(spark, sfDir)
    val target = Curation.qualityGateFrom(Curation.tokenTable(docs))
      .filter(col("keep")).select(col("doc_id"))
    val sel = Curation.dsirSelectFrom(docs, target, k = 20)
    val rows = sel.collect()
    assert(rows.length == 20)
    // value-derived Gumbel: the draw replays identically
    assert(Curation.dsirSelectFrom(docs, target, k = 20)
      .exceptAll(sel).count() == 0L)
    // keys arrive rank-ordered, ties broken by doc_id
    val keys = rows.map(r => (r.getDouble(3), r.getLong(0)))
    assert(keys.sameElements(keys.sortBy { case (k2, d) => (-k2, d) }))
    // importance weighting must bias the sample toward target-like docs:
    // the selected mean log-ratio sits above the corpus mean
    val all = Curation.dsirSelectFrom(docs, target, k = Int.MaxValue).collect()
    val meanAll = all.map(_.getDouble(2)).sum / all.length
    val meanSel = rows.map(_.getDouble(2)).sum / rows.length
    assert(meanSel > meanAll,
      s"selected mean log_w $meanSel !> corpus mean $meanAll")
  }

  test("quality scorer: hand-checked logistic on a fixture, corpus non-degenerate") {
    import spark.implicits._
    val docs = Seq(
      // n=4, distinct=3, max=2, sum_len=19 -> ttr .75, top .5, mean 4.75
      (1L, "alpha beta gamma alpha"),
      // n=6, distinct=1 -> ttr .166666, top 1.0, mean 1.0: junk
      (2L, "x x x x x x"),
      // 40 distinct 5-char tokens -> ttr 1.0, top .025, mean 5.0: keeper
      (3L, (1 to 40).map(i => f"tok$i%02d").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Curation.qualityScorerFrom(
        Curation.qualityGateFrom(Curation.tokenTable(docs)),
        Curation.defaultQualityWeights(spark))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(6), r.getBoolean(7)))).toMap
    def sig(z: Double): Double =
      math.floor(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6
    // doc 1 by hand: z = -7 + ln(4) + 10*.75 - 16*.5 - .5*|4.75-5|
    val z1 = -7.0 + 1.0 * math.log(4.0) + 10.0 * 0.75 +
      (-16.0) * 0.5 + (-0.5) * math.abs(4.75 - 5.0)
    assert(out(1L)._1 == sig(z1), s"doc1 score ${out(1L)._1} != ${sig(z1)}")
    assert(!out(1L)._2 && !out(2L)._2 && out(3L)._2,
      s"keep decisions off: $out")
    // junk scores below the mixed doc, keeper above it
    assert(out(2L)._1 < out(1L)._1 && out(1L)._1 < out(3L)._1)
    // real corpus: the scorer must actually split it (both classes)
    val corpus = Curation.qualityScorer(spark, sfDir).collect()
    val kept = corpus.count(_.getBoolean(7))
    assert(kept > 0 && kept < corpus.length,
      s"scorer degenerate on corpus: $kept/${corpus.length}")
  }

  test("split leakage: fixture pairs route by the shared split rule") {
    import spark.implicits._
    // resolve splits 0..99 through the SHARED rule (the same definition
    // q84 hash-binds), then build a pair fixture around them
    val splits = spark.range(100).toDF("id")
      .withColumn("s", Curation.splitOf(col("id")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trains = (0L to 99L).filter(splits(_) == "train")
    val evals = (0L to 99L).filter(id => splits(id) != "train")
    assert(trains.size >= 2 && evals.size >= 2, s"degenerate split fixture")
    val v = evals.head
    val (t1, t2) = (trains(0), trains(1))
    def ordered(a: Long, b: Long, j: Double) =
      (math.min(a, b), math.max(a, b), j)
    // two leaking pairs onto v, plus a train–train and an eval–eval pair
    // that must NOT be reported
    val pairs = Seq(
      ordered(t1, v, 0.7), ordered(t2, v, 0.9),
      ordered(trains(0), trains(1), 0.95),
      ordered(evals(0), evals(1), 0.8))
      .toDF("d1", "d2", "jaccard")
    val out = Curation.splitLeakageFrom(pairs).collect()
    assert(out.length == 1, s"expected 1 leaked doc, got ${out.toSeq}")
    val r = out.head
    assert(r.getLong(0) == v && r.getString(1) == splits(v))
    assert(r.getLong(2) == 2L, s"n_train_partners: $r")
    assert(r.getDouble(3) == 0.9, s"max_jaccard: $r")
    assert(r.getLong(4) == math.min(t1, t2), s"min_train_partner: $r")
  }

  test("split leakage: declared query consistent with pair table + split rule") {
    val out = Curation.splitLeakage(spark, sfDir).cache()
    out.collect().foreach { r =>
      assert(Set("val", "test").contains(r.getString(1)), s"bad split: $r")
      assert(r.getDouble(3) >= 0.6, s"jaccard below verify threshold: $r")
      assert(r.getLong(2) >= 1L)
    }
    // independent recount: distinct (eval doc, train partner) relations
    val pairs = Dedup.lshNearDup(spark, sfDir)
      .withColumn("s1", Curation.splitOf(col("d1")))
      .withColumn("s2", Curation.splitOf(col("d2")))
    val expected =
      pairs.filter(col("s1") === "train" && col("s2") =!= "train")
        .select(col("d2").as("doc_id"))
        .unionByName(pairs.filter(col("s2") === "train" && col("s1") =!= "train")
          .select(col("d1").as("doc_id")))
        .distinct().count()
    assert(out.count() == expected, s"leaked-doc count mismatch")
    // every reported min partner is a train doc
    out.select(col("min_train_partner"))
      .withColumn("s", Curation.splitOf(col("min_train_partner")))
      .collect().foreach(r => assert(r.getString(1) == "train"))
    out.unpersist()
    ()
  }

  test("dedup savings: fixture census — exact first, near-dup among survivors only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a", "x y z"),
      (1L, "a", "dup dup"),
      (2L, "a", "dup dup"), // exact copy of 1 → exact-dropped
      (3L, "a", "x y w"),   // near-dup of 0 via injected pair
      (4L, "a", "q r"))     // paired only with the exact-dropped 2
      .toDF("doc_id", "source", "text")
    val pairs = Seq(
      (0L, 3L, 0.8),  // survivor partner → 3 near-dropped
      (2L, 4L, 0.9),  // partner 2 is exact-dropped → 4 survives
      (1L, 2L, 1.0))  // 2 already exact-dropped → no double count
      .toDF("d1", "d2", "jaccard")
    val out = Curation.dedupSavingsFrom(docs, pairs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 5L && r.getLong(2) == 12L) // n_docs, n_tokens
    assert(r.getLong(3) == 1L && r.getLong(4) == 2L)  // exact: doc 2
    assert(r.getLong(5) == 1L && r.getLong(6) == 3L)  // near: doc 3
    assert(r.getLong(7) == 3L && r.getLong(8) == 7L)  // kept: 0, 1, 4
    assert(r.getDouble(9) == math.floor(7.0 / 12.0 * 1e6) / 1e6)
  }

  test("dedup savings: declared census adds up and matches q34") {
    val out = Curation.dedupSavings(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(3) + r.getLong(5) + r.getLong(7),
        s"doc counts don't add up: $r")
      assert(r.getLong(2) == r.getLong(4) + r.getLong(6) + r.getLong(8),
        s"token counts don't add up: $r")
      assert(r.getDouble(9) >= 0.0 && r.getDouble(9) <= 1.0)
    }
    // total exact drops = corpus docs − q34 keepers
    val docs = Tables.documents(spark, sfDir)
    val totalExact = out.map(_.getLong(3)).sum
    assert(totalExact == docs.count() - Dedup.dedupExact(spark, sfDir).count())
    // total near drops = distinct d2 with exact-surviving d1
    val fpKeeper = docs.withColumn("fp", graft.operators.Dedup.textFp)
      .withColumn("k", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("k")).select(col("doc_id").as("d1"))
    val totalNear = Dedup.lshNearDup(spark, sfDir)
      .join(fpKeeper, "d1").select(col("d2")).distinct().count()
    assert(out.map(_.getLong(5)).sum == totalNear)
  }

  test("semantic decontam: fixture — threshold, self-exclusion, evidence") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat)
    // eval vec 0 = e1; corpus: 0 itself (self-excluded), 10 ≡ e1
    // (cos 1), 11 ⊥ (cos 0), 12 at cos 0.8, 13 at cos 0.28 (below τ)
    val emb = Seq(
      (0L, vec(1.0)), (10L, vec(2.0)), (11L, vec(0.0, 3.0)),
      (12L, vec(0.8, 0.6)), (13L, vec(0.28, 0.96)))
      .toDF("vec_id", "embedding")
    val ev = emb.filter(col("vec_id") === 0L)
    val out = Curation.semanticDecontamFrom(emb, ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10L, 0L, 1.0), (12L, 0L, 0.8)),
      s"flag set: ${out.toSeq}")
  }

  test("semantic decontam: declared query matches an independent recount") {
    import graft.operators.Similarity
    val out = Curation.semanticDecontam(spark, sfDir).cache()
    out.collect().foreach { r =>
      assert(r.getDouble(2) >= Curation.SemDecontamTau, s"below tau: $r")
      assert(r.getLong(0) != r.getLong(1), s"self-pair: $r")
    }
    // eval ends must satisfy the shared probe predicate
    assert(out.filter(!Similarity.probeFilter(col("eval_id"))).count() == 0)
    // independent recount from raw columns
    val emb = Tables.embeddings(spark, sfDir)
    val ev = emb.filter(Similarity.probeFilter(col("vec_id")))
      .select(col("vec_id").as("e_id"), col("embedding").as("e"))
    val expected = emb.crossJoin(ev)
      .filter(col("vec_id") =!= col("e_id"))
      .filter(round(Similarity.dot(col("embedding"), col("e")) /
        (Similarity.norm(col("embedding")) * Similarity.norm(col("e"))), 6)
        >= Curation.SemDecontamTau)
      .count()
    assert(out.count() == expected)
    out.unpersist()
    ()
  }

  test("quality keeper: fixture — richness, char and id tie-breaks") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c", 5L),    // rich 3
      (1L, "a a b", 5L),    // rich 2 — dominated by 0
      (2L, "a b c d", 7L),  // rich 4 — dominates 0
      (3L, "x y", 3L),      // rich 2, ties with 4 → lower id survives
      (4L, "y x", 3L))      // rich 2 — dominated by 3 on the id tie
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((0L, 1L, 0.8), (0L, 2L, 0.7), (3L, 4L, 0.9))
      .toDF("d1", "d2", "jaccard")
    val out = Curation.qualityKeeperFrom(docs, pairs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out(0L) == ((2L, 1L, 2L, 0L)), s"doc 0: ${out(0L)}")  // beaten by 2 only
    assert(out(1L) == ((1L, 1L, 0L, 0L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((1L, 0L, -1L, 1L)), s"doc 2: ${out(2L)}") // the keeper
    assert(out(3L) == ((1L, 0L, -1L, 1L)), s"doc 3: ${out(3L)}") // id tie win
    assert(out(4L) == ((1L, 1L, 3L, 0L)), s"doc 4: ${out(4L)}")
  }

  test("quality keeper: dominance is total — no pair survives whole") {
    val out = Curation.qualityKeeper(spark, sfDir).cache()
    val pairs = Dedup.lshNearDup(spark, sfDir)
    // output covers exactly the docs touched by a pair
    val touched = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
    assert(out.count() == touched.count())
    // (rich, n_chars, -id) is a strict total order, so in every verified
    // pair at least one end must be dominated
    val kept = out.filter(col("kept") === 1L).select(col("doc_id"))
    val bothKept = pairs
      .join(kept.withColumnRenamed("doc_id", "d1"), "d1")
      .join(kept.withColumnRenamed("doc_id", "d2"), "d2")
    assert(bothKept.count() == 0, "a pair with both ends kept")
    // kept verdict is exactly n_better == 0
    assert(out.filter((col("kept") === 1L) =!= (col("n_better") === 0L))
      .count() == 0)
    out.unpersist()
    ()
  }

  test("cluster purity: fixture — pure cluster at 1.0, tied cluster takes the smaller label") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat)
    // centroids = vec_ids 0 and 1; 2 joins cluster 0 (same label → pure),
    // 3 joins cluster 1 with a different label (1-1 tie → label 0 wins)
    val emb = Seq(
      (0L, vec(1.0), 0), (1L, vec(0.0, 1.0), 1),
      (2L, vec(1.0, 0.1), 0), (3L, vec(0.1, 1.0), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Curation.clusterPurityFrom(emb, 2).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(0L) == ((2L, 0L, 2L, 1.0)), s"cluster 0: ${out(0L)}")
    assert(out(1L) == ((2L, 0L, 1L, 0.5)), s"cluster 1: ${out(1L)}")
  }

  test("cluster purity: declared query covers the corpus and bounds hold") {
    val out = Curation.clusterPurity(spark, sfDir).collect()
    val emb = Tables.embeddings(spark, sfDir)
    assert(out.map(_.getLong(1)).sum == emb.count())
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), s"n_top > n_assigned: $r")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0, s"purity: $r")
    }
  }

  test("novelty curve: fixture — repeated gram is new only in its first decile") {
    import spark.implicits._
    // ids 0..9 → mx=9 → bucket = id; one shared shingle everywhere,
    // plus a second shingle appearing first in bucket 5
    val docs = (0L to 9L).map(i =>
      (i, if (i >= 5) "p q r s" else "a b c")).toDF("doc_id", "text")
    val out = Curation.noveltyCurveFrom(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(0L) == ((1L, 1L, 1L, 1.0)), s"bucket 0: ${out(0L)}")
    // bucket 5 introduces "p q r" and "q r s": 2 distinct, both new
    assert(out(5L) == ((2L, 2L, 3L, 1.0)), s"bucket 5: ${out(5L)}")
    assert(out(6L) == ((2L, 0L, 3L, 0.0)), s"bucket 6: ${out(6L)}")
    assert(out(9L)._3 == 3L, "cumulative must end at the corpus total")
  }

  test("novelty curve: declared — cumulative ends at the corpus distinct-shingle count") {
    val out = Curation.noveltyCurve(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"more new than distinct: $r")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    assert(out.map(_.getLong(2)).sum == out.last.getLong(3),
      "sum of new != final cumulative")
    val docs = Tables.documents(spark, sfDir)
    val total = docs.withColumn("toks", org.apache.spark.sql.functions.filter(
        split(col("text"), " "), t => length(t) > 0))
      .filter(size(col("toks")) >= 3)
      .select(explode(graft.operators.Dedup.shingleCol).as("g"))
      .distinct().count()
    assert(out.last.getLong(3) == total,
      s"cumulative ${out.last.getLong(3)} != corpus distinct $total")
  }

  test("ngram repetition: fixture — loop doc saturates, distinct doc floors, short docs drop rows") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a a"), (1L, "a b c d"), (2L, "x y z"), (3L, "w"))
      .toDF("doc_id", "text")
    val out = Curation.ngramRepetitionFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out((0L, 2L)) == ((3L, 1.0, 1.0)))
    assert(out((0L, 3L)) == ((2L, 1.0, 1.0)))
    // a single 4-gram is trivially the top but NOT a duplicate
    assert(out((0L, 4L)) == ((1L, 1.0, 0.0)))
    assert(out((1L, 2L)) == ((3L, 0.333333, 0.0)))
    // 3-token doc: no n=4 row; 1-token doc: no rows at all
    assert(!out.contains((2L, 4L)) && out.contains((2L, 3L)))
    assert(!out.keys.exists(_._1 == 3L))
  }

  test("ngram repetition: declared agrees with q67 on bigram duplicate existence") {
    val out = Curation.ngramRepetition(spark, sfDir)
      .filter(col("n") === 2L).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val q67 = Curation.repetitionRatio(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out.keySet == q67.keySet)
    out.foreach { case (doc, dupFrac) =>
      assert((dupFrac > 0.0) == (q67(doc) > 0.0),
        s"doc $doc: dup_frac $dupFrac vs q67 ${q67(doc)}")
    }
  }

  test("eval span overlap: fixture — quoted span flagged, clean doc absent") {
    import spark.implicits._
    val evalDocs = Seq((0L, "src", "e1 e2 e3 e4 e5 e6 e7 e8"))
      .toDF("doc_id", "source", "text")
    val corpus = Seq(
      (10L, "src", "x e1 e2 e3 e4 e5 e6 e7 e8 y"), // quotes the eval span
      (11L, "src", "a b c d f g h i j k"))          // clean
      .toDF("doc_id", "source", "text")
    val out = Curation.evalSpanOverlapFrom(
      Curation.spanRows(corpus), Curation.spanRows(evalDocs)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 10L && r.getLong(1) == 10L)
    assert(r.getLong(2) == 3L && r.getLong(3) == 1L)
    assert(r.getDouble(4) == math.floor(1.0 / 3.0 * 1e6) / 1e6)
  }

  test("eval span overlap: standing-table ride equals the from-scratch explode row-for-row") {
    // q144 rides the session-standing span table since r22; the doc-grain
    // eval/corpus filters commute with the per-doc span explode, so the
    // output must be row-identical to the r21 from-scratch formulation
    val docs = Tables.documents(spark, sfDir)
    val direct = Curation.evalSpanOverlapFrom(
        Curation.spanRows(docs.filter(!Curation.evalGrid(col("doc_id")))),
        Curation.spanRows(docs.filter(Curation.evalGrid(col("doc_id")))))
      .collect().map(_.toString).toSeq
    val standing = Curation.evalSpanOverlap(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(standing == direct)
  }

  test("eval span overlap: declared matches an independent recount, eval excluded") {
    val out = Curation.evalSpanOverlap(spark, sfDir).cache()
    assert(out.filter(Curation.evalGrid(col("doc_id"))).count() == 0)
    out.collect().foreach { r =>
      assert(r.getLong(3) >= 1L && r.getLong(3) <= r.getLong(2), s"bad counts: $r")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
    val docs = Tables.documents(spark, sfDir)
    val ev = Curation.spanRows(docs.filter(Curation.evalGrid(col("doc_id"))))
      .select(col("h")).distinct()
    val expected = Curation.spanRows(
        docs.filter(!Curation.evalGrid(col("doc_id"))))
      .join(ev, "h").select(col("doc_id")).distinct().count()
    assert(out.count() == expected)
    out.unpersist()
    ()
  }

  test("soft dedup weights: fixture — copies split the unit, near partners discount") {
    import spark.implicits._
    val docs = Seq(
      (0L, "dup dup"), (1L, "dup dup"),  // exact cluster of 2
      (2L, "a b"), (3L, "a b c"))        // near-dup pair
      .toDF("doc_id", "text")
    val pairs = Seq((2L, 3L, 0.8)).toDF("d1", "d2", "jaccard")
    val out = Curation.softDedupWeightsFrom(docs, pairs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(0L) == ((2L, 0L, 0.5, 0.5)))
    assert(out(1L) == ((2L, 0L, 0.5, 0.5)))
    assert(out(2L) == ((1L, 1L, 1.0, 0.5)))
    assert(out(3L) == ((1L, 1L, 1.0, 0.5)))
  }

  test("soft dedup weights: declared covers the corpus, clusters sum to ~1") {
    val out = Curation.softDedupWeights(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    assert(out.count() == docs.count())
    out.collect().foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) <= r.getDouble(3) + 1e-12, s"discount above base: $r")
      // weight is exactly 1/n_copies up to the 1e-6 floor
      assert(math.abs(r.getDouble(3) * r.getLong(1) - 1.0) < 1e-5, s"weight: $r")
    }
    out.unpersist()
    ()
  }

  test("padding waste: fixture — fine buckets eliminate, coarse pay the spread") {
    import spark.implicits._
    val docs = Seq((0L, Seq.fill(10)("t").mkString(" ")),
      (1L, Seq.fill(20)("t").mkString(" "))).toDF("doc_id", "text")
    val out = Curation.paddingWasteFrom(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // width 16: lens 10 and 20 land in different bins → zero padding
    assert(out(16L) == ((2L, 30L, 0L, 0.0)), s"w16: ${out(16L)}")
    // one shared bin for the coarser widths: the 10-token doc pads to 20
    assert(out(64L) == ((1L, 30L, 10L, 0.25)), s"w64: ${out(64L)}")
    assert(out(1000000L) == ((1L, 30L, 10L, 0.25)))
  }

  test("padding waste: declared — nested widths are monotone, fractions sane") {
    val out = Curation.paddingWaste(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getDouble(5))).toMap
    assert(out.size == 4)
    // 16 | 64 | 256 are nested refinements → padding can only shrink
    assert(out(16L)._1 <= out(64L)._1 && out(64L)._1 <= out(256L)._1)
    out.values.foreach { case (pad, frac) =>
      assert(pad >= 0L && frac >= 0.0 && frac < 1.0)
    }
  }

  test("increment novelty: fixture — shared shingle known, fresh tail novel") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq((0L, "a b c x y"), (7L, "a b c d"))
      .toDF("doc_id", "text")
    val out = Curation.incrementNoveltyFrom(batch, corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) == ((3L, 2L, math.floor(2.0 / 3.0 * 1e6) / 1e6)))
    assert(out(7L) == ((2L, 0L, 0.0)))
  }

  test("increment novelty: declared — batch-only docs, novelty bounded") {
    val out = Curation.incrementNovelty(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 7 == 0, s"non-increment doc: $r")
      assert(r.getLong(2) <= r.getLong(1), s"more novel than grams: $r")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("source scorecard: rates reconcile with the standalone stages") {
    val out = Curation.sourceScorecard(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    assert(out.agg(sum(col("n_docs"))).head().getLong(0) == docs.count())
    out.collect().foreach { r =>
      Seq(3, 4).foreach(i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0, s"rate: $r"))
    }
    // total pass count = q66's keepers; total dup count = q34's drops
    val passTotal = out.collect()
      .map(r => math.round(r.getDouble(3) * r.getLong(1))).sum
    val gateKeep = Curation.qualityGate(spark, sfDir)
      .filter(col("keep")).count()
    assert(math.abs(passTotal - gateKeep) <= out.count(),
      s"pass totals drifted: $passTotal vs $gateKeep") // 1e-6 floor per source
    val dupTotal = out.collect()
      .map(r => math.round(r.getDouble(4) * r.getLong(1))).sum
    val exactDrops = docs.count() - Dedup.dedupExact(spark, sfDir).count()
    assert(math.abs(dupTotal - exactDrops) <= out.count())
    out.unpersist()
    ()
  }

  test("drift PSI: fixture — disjoint langs give the closed-form PSI, identical bins give 0") {
    import spark.implicits._
    val ref = Seq((0L, "a b", "en", 10L), (2L, "c d", "en", 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val cand = Seq((1L, "e f", "de", 10L), (3L, "g h", "de", 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = Curation.driftPsiFrom(ref, cand).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // len and tok distributions are identical → PSI exactly 0
    assert(out("len") == ((1L, 0.0)), s"len: ${out("len")}")
    assert(out("tok") == ((1L, 0.0)), s"tok: ${out("tok")}")
    // lang: bins {en, de}, counts (2,0) vs (0,2), smoothed ±0.5 over
    // K=2 → p = 2.5/3 vs 0.5/3 both directions; expected mirrors the
    // decimal-exact rule (terms floored to 1e-9 units, half-up round on
    // the integer grid — ADVICE r15)
    val p = 2.5 / 3.0; val q = 0.5 / 3.0
    val termU = math.floor((p - q) * math.log(p / q) * 1e9).toLong
    val expected = math.floor((2 * termU + 500) / 1000.0) / 1e6
    assert(out("lang")._1 == 2L)
    assert(math.abs(out("lang")._2 - expected) < 1e-9,
      s"lang psi ${out("lang")._2} vs $expected")
  }

  test("drift PSI: declared query — three nonnegative features over the parity split") {
    val out = Curation.driftPsi(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSet == Set("lang", "len", "tok"))
    out.foreach { r =>
      // each PSI term (p−q)·ln(p/q) is ≥ 0, so the sum must be
      assert(r.getDouble(2) >= 0.0, s"negative PSI: $r")
      assert(r.getLong(1) >= 1L)
    }
  }
}
