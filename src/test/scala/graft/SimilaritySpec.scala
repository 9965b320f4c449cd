package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Multimodal, Similarity}
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k: cosine in [-1,1], ranks dense per probe") {
    val rows = Similarity.cosineTopK(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.000001))
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to g.length))
      val cs = g.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cs.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("bucketed ANN results are a subset of each probe's bucket, ranked") {
    val ann = Similarity.annBucketed(spark, sfDir).collect()
    assert(ann.nonEmpty)
    ann.groupBy(_.getLong(0)).foreach { case (_, g) => assert(g.length <= 5) }
  }

  test("bucketed ANN top-1 agrees with brute force when in-bucket (recall probe)") {
    // every ANN hit must appear in the brute-force pair set with the same cosine
    val bf = Similarity.cosineTopK(spark, sfDir)
      .select("probe_id", "cand_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = Similarity.annBucketed(spark, sfDir)
      .select("probe_id", "cand_id", "cosine").collect()
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bf.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
  }

  test("bounded probe budget: *From variants equal the declared queries on those probes") {
    // A fixed-SIZE probe set (the deployment shape — BASELINE.md sf1
    // smoke) must give exactly the declared fixed-fraction query's rows
    // for the probes it covers: per-probe results are independent.
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < 97L * 3)
    assert(probes.count() >= 2)

    val fullTopK = Similarity.cosineTopK(spark, sfDir).filter(col("probe_id") < 97L * 3)
    val subTopK = Similarity.cosineTopKFrom(emb, probes, k = 10)
    assert(subTopK.exceptAll(fullTopK).isEmpty && fullTopK.exceptAll(subTopK).isEmpty)

    val fullRecall = Similarity.annRecall(spark, sfDir).filter(col("probe_id") < 97L * 3)
    val subRecall = Similarity.annRecallFrom(emb, probes)
    assert(subRecall.exceptAll(fullRecall).isEmpty && fullRecall.exceptAll(subRecall).isEmpty)
  }

  test("ivf ann: nprobe = nlist degenerates to exact brute-force top-k") {
    // probing every cell means the candidate pool is the whole corpus —
    // IVF must then return exactly the brute-force ranking (the
    // structural guarantee that cells PARTITION the corpus: a dropped or
    // double-indexed vector would break this equality)
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val exact = Similarity.cosineTopKFrom(emb, probes, k = 5)
      .select("probe_id", "rank", "cand_id", "cosine")
    val full = Similarity.ivfAnnFrom(emb, probes, nlist = 8, nprobe = 8, k = 5)
      .select("probe_id", "rank", "cand_id", "cosine")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
  }

  test("ivf ann: recall against exact is monotone in nprobe") {
    // a true top-k member present in the candidate pool always outranks
    // every non-member, so hits can only grow as more cells are probed
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val exact = Similarity.cosineTopKFrom(emb, probes, k = 5)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hitsAt = (np: Int) =>
      Similarity.ivfAnnFrom(emb, probes, nlist = 16, nprobe = np, k = 5)
        .select("probe_id", "cand_id").collect()
        .count(r => exact((r.getLong(0), r.getLong(1))))
    val h = Seq(1, 4, 16).map(hitsAt)
    assert(h == h.sorted, s"recall not monotone in nprobe: $h")
    assert(h.last == exact.size, "nprobe=nlist must reach full recall")
  }

  test("ivf ann with trained cells: Lloyd-refined centroids keep the exact-degeneracy") {
    // feed q77's M-step means back in as the centroid table — the
    // trained-IVF loop. Cells still partition the corpus whatever the
    // centroids are, so probing all of them must still reproduce the
    // brute-force ranking.
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val trained = Curation.kmeansUpdate(spark, sfDir)
      .groupBy(col("cluster_id").as("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("centroid_mean")))),
        s => s.getField("centroid_mean").cast("float")).as("cvec"))
      .withColumn("cnrm", Similarity.norm(col("cvec")))
    val full = Similarity.ivfAnnWith(emb, probes, trained, nprobe = 8, k = 5)
      .select("probe_id", "rank", "cand_id", "cosine")
    val exact = Similarity.cosineTopKFrom(emb, probes, k = 5)
      .select("probe_id", "rank", "cand_id", "cosine")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    // and a realistic nprobe over trained cells returns ranked rows
    val r = Similarity.ivfAnnWith(emb, probes, trained, nprobe = 2, k = 5).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(2)).sorted.sameElements(1L to g.length)) }
  }

  test("pq ann: codes in range, ADC self-distance zero for seed vectors") {
    val emb = Tables.embeddings(spark, sfDir)
    // a seed vector (vec_id < 16) quantizes to ITSELF in every subspace
    // (self-distance 0 wins every argmin), so its own ADC distance must
    // be exactly 0 — the quantizer's fixed points. Probe ids are corpus
    // ids, so the seeds probe under ids shifted past the corpus range:
    // each probe's rank-1 candidate is then its own seed row
    val shift = 1000000L
    val seeds = emb.filter(col("vec_id") < 16)
    val self = Similarity.pqAnnFrom(emb,
        seeds.withColumn("vec_id", col("vec_id") + shift),
        m = 8, dsub = 8, nCodes = 16, k = 1)
      .filter(col("rank") === 1).collect()
    assert(self.length == seeds.count())
    self.foreach { r =>
      assert(r.getLong(0) - shift == r.getLong(2), s"seed ${r.getLong(0) - shift} not its own NN: $r")
      assert(r.getDouble(3) == 0.0, s"seed self-ADC nonzero: $r")
    }
  }

  test("pq ann: declared query ranks densely and beats random recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val rows = Similarity.pqAnn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to g.length))
      // ADC is non-decreasing down the ranking
      val byRank = g.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
    // sanity recall: PQ top-5 should recover a nontrivial share of the
    // exact cosine top-5 (loose bound — quantization is lossy by design;
    // L2-ADC vs cosine also differ by norm, so this is recall not rank)
    val exact = Similarity.cosineTopKFrom(emb, probes, k = 5)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.count(r => exact((r.getLong(0), r.getLong(2))))
    assert(hits * 5 >= exact.size,
      s"PQ recall@5 under 20%: $hits of ${exact.size}")
  }

  test("ivf-pq: nprobe = nlist degenerates to the full-ADC PQ ranking") {
    // cells partition the corpus, so probing all of them makes the
    // candidate set the whole corpus — IVF-PQ must then reproduce plain
    // PQ's ranking exactly (the PQ analogue of q102's exact-degeneracy)
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val full = Similarity.ivfPqAnnFrom(emb, probes, nlist = 8, nprobe = 8,
        m = 8, dsub = 8, nCodes = 16, k = 5)
      .select("probe_id", "rank", "cand_id", "adc")
    val pq = Similarity.pqAnnFrom(emb, probes, m = 8, dsub = 8, nCodes = 16, k = 5)
      .select("probe_id", "rank", "cand_id", "adc")
    assert(full.exceptAll(pq).isEmpty && pq.exceptAll(full).isEmpty)
  }

  test("ivf-pq: candidates come only from probed cells, ranked densely") {
    val rows = Similarity.ivfPqAnn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(2)).sorted.sameElements(1L to g.length))
      // at most nprobe distinct cells contribute per probe
      assert(g.map(_.getLong(1)).distinct.length <= 4)
    }
  }

  test("trained ivf-pq: nprobe = nlist reproduces a driver-side full residual-ADC reference") {
    // the q108 degeneracy contract carried to the fully-trained index:
    // probing every cell makes the candidate set the whole corpus, and
    // the ranking must equal an INDEPENDENT driver-side scoring of every
    // (probe, candidate) pair — same declared arithmetic (float32
    // residuals, left-assoc double chains, floor(d·1e9) long sum), no
    // routing machinery shared with the code under test
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val got = Similarity.ivfPqTrainedFrom(emb, probes, nlist = 8, nprobe = 8,
        m = 8, dsub = 8, nCodes = 16, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))

    val cent = Similarity.trainedCentroids(emb, 8)
    val residDf = Similarity.residualsWith(emb, cent)
    val cvecs = cent.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val resid = residDf.collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getSeq[Float](2).toArray))
      .map { case (cell, vid, rv) => vid -> ((cell, rv)) }.toMap
    val scvec = Similarity.trainedSubCodebook(residDf, 8, 8, 16).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
    val codes = Similarity.pqCodesSeg(residDf, Similarity
        .trainedSubCodebook(residDf, 8, 8, 16), 8, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val pEmb = probes.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    def subD(pr: Array[Float], sc: Array[Float], s: Int): Double =
      (0 until 8).map { i =>
        val d = pr(s * 8 + i).toDouble - sc(i).toDouble
        d * d
      }.sum
    val want = pEmb.keys.toSeq.sorted.flatMap { p =>
      val ranked = resid.keys.toSeq.filter(_ != p).map { v =>
        val (cell, _) = resid(v)
        val cv = cvecs(cell)
        val pr = pEmb(p).zip(cv).map { case (a, b) => a - b } // float32 sub
        val adc = (0 until 8).map { s =>
          math.floor(subD(pr, scvec((s, codes((v, s)))), s) * 1e9).toLong
        }.sum.toDouble / 1e9
        (adc, v, cell)
      }.sortBy(t => (t._1, t._2)).take(5)
      ranked.zipWithIndex.map { case ((adc, v, _), i) => (p, (i + 1).toLong, v, adc) }
    }
    assert(got.length == want.length, s"${got.length} rows vs ${want.length}")
    got.sortBy(t => (t._1, t._2)).zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3,
        s"rank row diverged: $g vs $w")
      assert(math.abs(g._4 - w._4) < 1e-6, s"adc diverged: $g vs $w")
    }
  }

  test("trained ivf-pq: declared query ranks densely within probed cells") {
    val rows = Similarity.ivfPqTrained(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(2)).sorted.sameElements(1L to g.length))
      assert(g.map(_.getLong(1)).distinct.length <= 4)
    }
  }

  test("pq recall: every probe reported, hits in [0,5], recall consistent") {
    val rows = Similarity.pqRecall(spark, sfDir).collect()
    val probes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 97 === 0).count()
    assert(rows.length == probes)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 5)
      assert(math.abs(r.getDouble(2) - r.getLong(1) / 5.0) < 1e-9)
    }
  }

  test("ivf refresh: cell occupancies conserve the corpus/batch split") {
    val emb = Tables.embeddings(spark, sfDir)
    val rows = Similarity.ivfRefresh(spark, sfDir).collect()
    val nBatch = emb.filter(col("vec_id") % 7 === 0).count()
    val nAll = emb.count()
    assert(rows.map(_.getLong(1)).sum == nAll - nBatch)
    assert(rows.map(_.getLong(2)).sum == nBatch)
    rows.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("media decode stub: byte sums consistent with payload lengths") {
    val out = Multimodal.mediaDecode(spark, sfDir).collect()
    assert(out.length == Tables.documents(spark, sfDir).count())
    out.foreach { r =>
      val nBytes = r.getLong(1)
      val byteSum = r.getLong(2)
      assert(byteSum >= 0L && byteSum <= nBytes * 255)
      assert(r.getLong(3) == byteSum % 4096)
    }
  }

  test("frame sample: ceil(bytes/256) frames per doc (q131's sizedDocs framing)") {
    val frames = Multimodal.frameSample(spark, sfDir)
      .groupBy("doc_id").count()
    val expected = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        greatest(ceil(octet_length(col("text")) / 256.0), lit(1L)).as("exp"))
    val joined = frames.join(expected, "doc_id")
      .filter(col("count") =!= col("exp")).count()
    assert(joined == 0L)
  }

  test("ann recall: every probe reported, hits in [0,5], recall consistent") {
    val out = graft.operators.Similarity.annRecall(spark, sfDir).collect()
    val probes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 97 === 0).count()
    assert(out.length == probes)
    out.foreach { r =>
      val hits = r.getLong(1)
      assert(hits >= 0L && hits <= 5L)
      assert(r.getDouble(2) == hits / 5.0)
    }
  }

  test("pq refine: full-shortlist + full-probe degenerates to exact brute force") {
    // With nprobe = nlist (every cell probed) and kShort >= corpus size
    // (the whole candidate set re-ranked exactly), the refine stage IS
    // brute-force cosine — q115's degeneracy contract, the refine
    // analogue of q102/q108's nprobe=nlist pins.
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val n = emb.count().toInt
    val refined = Similarity.pqRefineFrom(emb, probes, nlist = 16, nprobe = 16,
      m = 8, dsub = 8, nCodes = 16, kShort = n + 1, k = 5)
    val exact = Similarity.cosineTopKFrom(emb, probes, k = 5)
    assert(refined.exceptAll(exact).isEmpty && exact.exceptAll(refined).isEmpty)
  }

  test("pq refine: recall@5 never below the unrefined IVF-PQ ranking's") {
    // The point of the refine stage: exact re-ranking of the ADC
    // shortlist can only improve agreement with exact top-5.
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val exact = Similarity.cosineTopKFrom(emb, probes, k = 5)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame): Int =
      df.select("probe_id", "cand_id").collect()
        .count(r => exact((r.getLong(0), r.getLong(1))))
    val refined = hits(Similarity.pqRefineFrom(emb, probes, nlist = 16,
      nprobe = 4, m = 8, dsub = 8, nCodes = 16, kShort = 20, k = 5))
    val unrefined = hits(Similarity.ivfPqAnnFrom(emb, probes, nlist = 16,
      nprobe = 4, m = 8, dsub = 8, nCodes = 16, k = 5))
    assert(refined >= unrefined)
  }

  test("multi-probe lsh: candidate set contains q58's, recall never below") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val pairsOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full candidate sets (kRank unbounded): base-cell pairs ⊆ multi-probe pairs
    val single = pairsOf(Similarity.rpLshAnnFrom(emb, probes, kRank = Int.MaxValue))
    val multi = pairsOf(Similarity.multiprobeLshFrom(emb, probes, nFlip = 2,
      kRank = Int.MaxValue))
    assert(single.subsetOf(multi),
      s"base-cell pairs missing from multi-probe: ${(single -- multi).take(3)}")
    // recall@3 against exact top-3 can only improve
    val exact = pairsOf(Similarity.cosineTopKFrom(emb, probes, k = 3))
    val hitsSingle = pairsOf(Similarity.rpLshAnnFrom(emb, probes, kRank = 3))
      .count(exact)
    val hitsMulti = pairsOf(Similarity.multiprobeLshFrom(emb, probes, nFlip = 2,
      kRank = 3)).count(exact)
    assert(hitsMulti >= hitsSingle)
  }

  test("multi-probe lsh: every candidate's cell is the base or one flipped bit") {
    val emb = Tables.embeddings(spark, sfDir)
    val baseSig = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id"), Similarity.rpSignature(col("embedding")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Similarity.multiprobeLsh(spark, sfDir)
      .select("probe_id", "cell").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val hamming = java.lang.Long.bitCount(baseSig(r.getLong(0)) ^ r.getLong(1))
      assert(hamming <= 1, s"probe ${r.getLong(0)} candidate cell ${r.getLong(1)} " +
        s"is $hamming bits from base ${baseSig(r.getLong(0))}")
    }
  }

  test("sq8: ranks densely and recall@5 vs exact L2 stays above the fidelity floor") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val out = Similarity.sq8AnnFrom(emb, probes, k = 5).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to g.length))
      g.foreach(r => assert(r.getDouble(3) >= 0.0))
    }
    // exact L2 top-5 (driver-side, corpus is tiny at sf0.001)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => { val d = a(i).toDouble - b(i).toDouble; d * d }).sum
    val exact = probes.select("vec_id").collect().map(_.getLong(0)).flatMap { p =>
      vecs.toSeq.filter(_._1 != p)
        .sortBy { case (id, v) => (l2(vecs(p), v), id) }
        .take(5).map { case (id, _) => (p, id) }
    }.toSet
    val got = out.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@5 = $recall — 8-bit fidelity should stay high")
  }

  test("triplet mining: labels honored, negative is q118's top-1, margin consistent") {
    val out = Similarity.tripletMining(spark, sfDir).collect()
    assert(out.nonEmpty)
    val labels = Tables.embeddings(spark, sfDir).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hardest = Similarity.hardNegatives(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    out.foreach { r =>
      val (a, al) = (r.getLong(0), r.getInt(1))
      assert(labels(r.getLong(2)) == al, s"positive of $a crosses labels")
      assert(labels(r.getLong(4)) != al, s"negative of $a shares the label")
      assert(hardest(a) == r.getLong(4), s"negative of $a is not q118's top-1")
      // margin rounds the raw difference; the two separately-rounded
      // cosines can each drift 5e-7 from raw
      assert(math.abs(r.getDouble(6) - (r.getDouble(3) - r.getDouble(5))) <= 2e-6)
    }
  }

  test("trained-codebook encode: dropped empty (sub,code) clusters never misalign") {
    import spark.implicits._
    // m=2 subspaces of dsub=2 over 4-dim residuals; code 1 has NO entry
    // for subspace 0 — the empty-cluster drop the trained-codebook
    // contract allows. The grouped encode must treat the missing entry
    // as a non-candidate for that subspace (survivor argmin), never
    // shift later subspaces or let a null distance win the struct-min.
    val tcb = Seq((0, 0, Seq(0f, 0f)), (1, 0, Seq(0f, 0f)), (1, 1, Seq(10f, 10f)))
      .toDF("sub", "code", "scvec")
    val resid = Seq((100L, Seq(9f, 9f, 9f, 9f)), (101L, Seq(0f, 0f, 0f, 0f)))
      .toDF("vec_id", "resid")
    val codes = Similarity.pqCodesSeg(resid, tcb, m = 2, dsub = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes.size == 4)
    // sub 0: only code 0 survives → every vector encodes 0 there
    assert(codes((100L, 0)) == 0 && codes((101L, 0)) == 0)
    // sub 1: (9,9) is nearer (10,10)=code 1; (0,0) stays on code 0
    assert(codes((100L, 1)) == 1 && codes((101L, 1)) == 0)
  }

  test("sq8: per-dimension reconstruction error bounded by 0.6% of the range") {
    // err = Δ·|u − (c+0.5)/256| with c = floor(255u) peaks at
    // (255+128.5)/65280 ≈ 0.0059·Δ — checked for EVERY corpus vector and
    // dimension, the quantizer's hard contract
    val emb = Tables.embeddings(spark, sfDir)
    val rng = Similarity.sq8Rng(emb)
    val r = rng.collect()(0)
    val mins = r.getSeq[Float](0).map(_.toDouble)
    val maxs = r.getSeq[Float](1).map(_.toDouble)
    val codes = Similarity.sq8Codes(emb, rng).collect()
      .map(row => row.getLong(0) -> row.getSeq[Long](1).toArray).toMap
    emb.select("vec_id", "embedding").collect().foreach { row =>
      val v = row.getSeq[Float](1)
      val cs = codes(row.getLong(0))
      (0 until 64).foreach { i =>
        val delta = maxs(i) - mins(i)
        val rec = mins(i) + (cs(i) + 0.5) * delta / 256.0
        assert(math.abs(v(i) - rec) <= delta * 0.006 + 1e-12,
          s"vec ${row.getLong(0)} dim $i: |${v(i)} - $rec| > 0.6% of $delta")
      }
    }
  }

  test("ivf-sq8: nprobe = nlist degenerates to the full SQ8 ranking") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val full = Similarity.sq8AnnFrom(emb, probes, k = 5)
      .select("probe_id", "rank", "cand_id", "sqdist")
    val ivf = Similarity.ivfSq8AnnFrom(emb, probes, nlist = 16, nprobe = 16, k = 5)
      .select("probe_id", "rank", "cand_id", "sqdist")
    assert(ivf.exceptAll(full).isEmpty && full.exceptAll(ivf).isEmpty)
  }

  test("ivf-sq8: candidates come only from probed cells") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.ivfSq8Ann(spark, sfDir)
      .select("probe_id", "cell").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val en = emb.withColumn("nrm", Similarity.norm(col("embedding")))
    val cent = en.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    val allowed = Similarity.probeCells(
        emb.filter(col("vec_id") % 97 === 0), cent, nprobe = 4)
      .select("probe_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.subsetOf(allowed), s"out-of-cell candidates: ${(out -- allowed).take(3)}")
  }

  test("hard negatives: no candidate shares its probe's label, cosine ranked") {
    val out = Similarity.hardNegatives(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getInt(1) != r.getInt(4),
      s"probe ${r.getLong(0)} negative ${r.getLong(3)} shares label ${r.getInt(1)}"))
    out.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(2)).sorted.sameElements(1L to g.length))
      val cs = g.sortBy(_.getLong(2)).map(_.getDouble(5))
      assert(cs.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("hard negatives: each negative is the label-filtered brute-force neighbor") {
    // recompute per probe from the raw table: the k-th hard negative is
    // the k-th highest-cosine different-label vector
    val emb = Tables.embeddings(spark, sfDir)
    val all = Similarity.cosineTopKFrom(emb,
        emb.filter(col("vec_id") % 97 === 0), k = Int.MaxValue)
      .join(emb.select(col("vec_id").as("cand_id"), col("label").as("cl")), "cand_id")
      .join(emb.select(col("vec_id").as("probe_id"), col("label").as("pl")), "probe_id")
      .filter(col("cl") =!= col("pl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("cand_id"))
    val expect = all.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk").cast("long"), col("cand_id"))
    val got = Similarity.hardNegatives(spark, sfDir)
      .select(col("probe_id"), col("rank"), col("cand_id"))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("frame dedup: identical payloads fully flag, coverage bounded, one row per asset") {
    val out = Multimodal.frameDedup(spark, sfDir).collect()
    assert(out.length == Tables.documents(spark, sfDir).count().toInt)
    out.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(1),
        s"dup frames exceed frames: $r")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // two byte-identical payloads must flag EVERY frame on both assets
    import spark.implicits._
    val twin = Seq(
      (1L, "pad " * 200, "s"), (2L, "pad " * 200, "s"),
      (3L, (1 to 200).map(i => s"w$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    // frameDedup reads via Tables; exercise the core by writing a temp dir
    val dirT = java.nio.file.Files.createTempDirectory("graft_frames").toString
    twin.withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dirT/documents.parquet")
    val t = Multimodal.frameDedup(spark, dirT).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(t(1L)._1 == t(1L)._2 && t(2L)._1 == t(2L)._2,
      s"identical twins not fully flagged: $t")
    // the negative case is load-bearing (review finding r14): the
    // unique doc must report ZERO dup frames — an everything-flags
    // regression (constant hash, empty-tail-frame collision) dies here
    assert(t(3L)._2 == 0L, s"unique doc flagged: ${t(3L)}")
    // ceil framing: 800 chars -> 4 frames, never an empty tail frame
    assert(t(1L)._1 == 4L, s"expected ceil(800/256)=4 frames: ${t(1L)}")
  }

  test("pq drift audit: one row per probe, hits bounded, drift arithmetic exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val out = Similarity.pqDriftAudit(spark, sfDir).collect()
    assert(out.length == probes.count().toInt)
    out.foreach { r =>
      val (nf, ns) = (r.getLong(1), r.getLong(2))
      assert(nf >= 0L && nf <= 5L && ns >= 0L && ns <= 5L)
      assert(r.getDouble(3) == nf / 5.0 && r.getDouble(4) == ns / 5.0)
      assert(r.getDouble(5) == (nf - ns) / 5.0)
    }
  }

  test("fused pair scorer is row-identical to two ivfPqScoreRouted runs") {
    // the q127 fusion contract: one encode/regroup/window pass carrying
    // both codebooks must reproduce EXACTLY the per-codebook engine's
    // top-k sets — the audit audits the deployed ranking, so any drift
    // between fused and unfused is a correctness bug, not a perf detail
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") % 97 === 0)
    val en = emb.withColumn("nrm", Similarity.norm(col("embedding")))
    val cent = en.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    val resid = Similarity.residualsWith(emb, cent)
    val tcbF = Similarity.trainedSubCodebook(resid, 8, 8, 16)
    val tcbS = Similarity.trainedSubCodebook(
      resid.filter(col("vec_id") % 2 === 0), 8, 8, 16)
    val pcells = Similarity.pqProbeRouting(probes, cent, nprobe = 4)
    val cand = Similarity.pqCellCandidates(pcells, resid)
    val fused = Similarity.ivfPqScoreRoutedPair(pcells, cand, resid,
      tcbF, tcbS, m = 8, dsub = 8)
    for ((tcb, rankCol) <- Seq((tcbF, "rank_a"), (tcbS, "rank_b"))) {
      val unfused = Similarity.ivfPqScoreRouted(pcells, cand, resid,
          tcb, m = 8, dsub = 8, k = 5)
        .select(col("probe_id"), col("cand_id"))
      val viaFused = fused.filter(col(rankCol) <= 5)
        .select(col("probe_id"), col("vec_id").as("cand_id"))
      assert(viaFused.exceptAll(unfused).isEmpty &&
        unfused.exceptAll(viaFused).isEmpty,
        s"fused $rankCol top-5 differs from the unfused engine")
    }
  }

  test("trainedSubCodebook seeds exactly nCodes codes from any training slice") {
    // Seeds are the first nCodes ids PRESENT in the training table, so
    // a sliced training set with id gaps (q127's stale even-id half)
    // still seeds exactly nCodes codes — the ADVICE r14 silent-under-
    // seeding failure mode is structurally impossible
    val emb = Tables.embeddings(spark, sfDir)
    val en = emb.withColumn("nrm", Similarity.norm(col("embedding")))
    val cent = en.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    val resid = Similarity.residualsWith(emb, cent)
    val a = Similarity.trainedSubCodebook(resid, 8, 8, 16)
    // full contiguous-id table: seeds are ids 0..15 — the id set the
    // q112 oracle's `vec_id < 16` predicate describes. (Surviving
    // trained codes are a SUBSET: ids < 16 are the q108 centroids, whose
    // residuals are exactly zero, so those 16 identical seeds tie every
    // E-step argmin to code 0 — empty clusters drop, per the docstring.)
    val aCodes = a.select(col("code")).distinct().collect().map(_.getInt(0)).toSet
    assert(aCodes.nonEmpty && aCodes.forall(c => c >= 0 && c < 16))
    // gapped slice (q127's stale even-id half): top-k-by-id seeding
    // takes the first 16 ids PRESENT — {0,2,…,30} — where the old
    // `vec_id < nCodes` bound would silently seed only the 8 even ids
    // under 16. Codes ≥ 16 surviving in the trained output is exactly
    // the behavior the id bound made impossible.
    val s = Similarity.trainedSubCodebook(
      resid.filter(col("vec_id") % 2 === 0), 8, 8, 16)
    val sCodes = s.select(col("code")).distinct().collect().map(_.getInt(0)).toSet
    assert(sCodes.forall(c => c % 2 == 0 && c >= 0 && c < 32))
    assert(sCodes.exists(_ >= 16),
      "no seed beyond the old id bound survived — under-seeding regressed")
    assert(s.exceptAll(a).count() > 0, "stale codebook identical to fresh")
  }

  test("label centroid sim: fixture — identical centroids at 1, orthogonal at 0") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat)
    val emb = Seq(
      (0L, vec(1.0), 0), (1L, vec(1.0), 0),      // label 0 centroid = e1
      (2L, vec(0.0, 1.0), 1),                    // label 1 centroid = e2
      (3L, vec(1.0), 2))                         // label 2 centroid = e1
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidSimFrom(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((0L, 1L)) == 0.0)
    assert(out((0L, 2L)) == 1.0)
    assert(out((1L, 2L)) == 0.0)
  }

  test("label centroid sim: declared — full label-pair matrix, bounded cosines") {
    val out = Similarity.labelCentroidSim(spark, sfDir).collect()
    val nLabels = Tables.embeddings(spark, sfDir)
      .select("label").distinct().count()
    assert(out.length == nLabels * (nLabels - 1) / 2)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(math.abs(r.getDouble(2)) <= 1.000001, s"cosine range: $r")
    }
  }

  test("rank quality: one-bucket fixture degenerates to perfect ranking") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat)
    // all vectors share sign bucket 1111 → the ANN list IS the exact list
    val emb = Seq(
      (0L, vec(1.0, 0.5, 0.5, 0.5)),
      (1L, vec(0.9, 0.6, 0.5, 0.5)),
      (2L, vec(0.5, 1.0, 0.5, 0.5)),
      (3L, vec(0.4, 0.9, 0.6, 0.5)),
      (4L, vec(0.5, 0.5, 1.0, 0.5)))
      .toDF("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") === 0L)
    val out = Similarity.rankQualityFrom(emb, probes).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 4L, s"hits: $r")
    assert(r.getDouble(2) == 0.4 && r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0,
      s"metrics: $r")
  }

  test("rank quality: declared — metrics bounded, consistent with hit counts") {
    val out = Similarity.rankQuality(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (hits, recall, mrr, ndcg) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(recall == math.floor(hits / 10.0 * 1e6) / 1e6, s"recall: $r")
      assert((hits == 0L) == (mrr == 0.0), s"mrr vs hits: $r")
      assert(mrr >= 0.0 && mrr <= 1.0 && ndcg >= 0.0 && ndcg <= 1.0 + 1e-9, s"$r")
    }
  }

  test("dimension stats: fixture — exact moments on a two-vector column") {
    import spark.implicits._
    def vec(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat)
    val emb = Seq((0L, vec(1.0, -0.5)), (1L, vec(3.0, -0.5)))
      .toDF("vec_id", "embedding")
    val out = Similarity.dimensionStatsFrom(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(out.size == 64)
    // dim 0: values {1, 3} → mean 2, var 1, envelope [1, 3]
    assert(out(0L) == ((2L, 2.0, 1.0, 1.0, 3.0)), s"dim 0: ${out(0L)}")
    // dim 1: constant −0.5 → var exactly 0 (dead unit detected)
    assert(out(1L) == ((2L, -0.5, 0.0, -0.5, -0.5)), s"dim 1: ${out(1L)}")
    // dim 2: constant 0
    assert(out(2L) == ((2L, 0.0, 0.0, 0.0, 0.0)), s"dim 2: ${out(2L)}")
  }

  test("dimension stats: declared — 64 dims, full coverage, sane envelopes") {
    val out = Similarity.dimensionStats(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length == 64)
    assert(out.map(_.getLong(0)).toSeq == (0L to 63L))
    out.foreach { r =>
      assert(r.getLong(1) == n, s"dim missing rows: $r")
      assert(r.getDouble(4) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(5),
        s"mean outside envelope: $r")
      // truncation of the two moments can dent an exact-zero variance
      // by at most 2e-6; anything more negative is a real defect
      assert(r.getDouble(3) >= -2e-6, s"variance negative: $r")
    }
  }
}
