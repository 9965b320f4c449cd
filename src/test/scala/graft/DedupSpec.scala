package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Text}
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  test("cross-modal agreement: hand-checked fixture, counts and samples exact") {
    import spark.implicits._
    val lex = Seq((1L, 2L), (3L, 4L)).toDF("d1", "d2")
    val emb = Seq((1L, 2L, 0.9), (5L, 6L, 0.4)).toDF("v1", "v2", "cosine")
    val rows = Dedup.crossModalAgreementFrom(lex, emb).collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.35, 0.5, 0.65, 0.8))
    val at35 = rows(0)
    assert(at35.getLong(1) == 2 && at35.getLong(2) == 2 && at35.getLong(3) == 1)
    assert(at35.getDouble(4) == 0.5 && at35.getDouble(5) == 0.5)
    assert(at35.getString(6) == "000005-000006") // emb-only: (5,6) cos 0.4
    assert(at35.getString(7) == "000003-000004") // lex-only: (3,4) no cosine
    val at50 = rows(1) // only (1,2) clears 0.5 — emb-only sample empty
    assert(at50.getLong(2) == 1 && at50.getLong(3) == 1)
    assert(at50.getDouble(4) == 1.0 && at50.isNullAt(6))
    assert(at50.getString(7) == "000003-000004")
  }

  test("cross-modal agreement: declared q132 invariants on the corpus") {
    val rows = Dedup.crossModalAgreement(spark, sfDir).collect()
    assert(rows.length == 4)
    // n_lex is threshold-independent; n_emb monotone non-increasing;
    // the overlap can never exceed either side
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    val nEmb = rows.map(_.getLong(2))
    assert(nEmb.zip(nEmb.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)))
      // a null emb-only sample means every emb pair was also lexical
      assert(r.isNullAt(6) == (r.getLong(2) == r.getLong(3)))
      assert(r.isNullAt(7) == (r.getLong(1) == r.getLong(3)))
    }
  }

  test("exact dedup is idempotent and keeps min doc_id") {
    val out = Dedup.dedupExact(spark, sfDir).cache()
    val total = out.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
    // distinct fingerprints: dedup(dedup(x)) == dedup(x)
    assert(out.select("fp").distinct().count() == out.count())
    out.unpersist()
  }

  test("LSH near-dup pairs match the exact-Jaccard baseline on this corpus") {
    val exact = Dedup.jaccardNearDup(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshNearDup(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates are verified with the same exact Jaccard, so lsh ⊆ exact;
    // with 16 hashes and J≥0.6 the planted ~0.9+ dups must all be recalled.
    assert(lsh.subsetOf(exact))
    val high = Dedup.jaccardNearDup(spark, sfDir)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(high.subsetOf(lsh), s"missed high-sim pairs: ${high.diff(lsh)}")
  }

  test("q35 standing-table formulation is row-identical to the direct pipeline (r20)") {
    // the declared query rides hashedDocTable's fps column; the direct
    // single-pass pipeline is the independent formulation — identical
    // shingle sets by construction, pinned here row-for-row
    val direct = Dedup.jaccardPairs(
      sources.Tables.documents(spark, sfDir), 0.6, Dedup.ShingleDfCap)
      .collect().toSeq
    val standing = Dedup.jaccardNearDup(spark, sfDir).collect().toSeq
    assert(standing == direct)
  }

  test("jaccard df-cap drops hot boilerplate shingles, keeps rare-shingle pairs") {
    import spark.implicits._
    // 10 docs all sharing one boilerplate shingle ("the same header"), plus
    // two docs that also share a RARE shingle pair — only the rare-shingle
    // pair should survive a df cap of 3.
    val docs = (0 until 10).map { i =>
      val tail = if (i < 2) "rare common tail" else s"unique$i tok$i word$i"
      (i.toLong, s"the same header $tail")
    }.toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(docs, 0.0, dfCap = 3)
      .select("d1", "d2", "common").collect()
    // boilerplate shingles ("the same header", "same header <tail0>") with
    // df > 3 are gone: candidate pairs come only from df<=3 shingles.
    assert(capped.forall(r => Set(r.getLong(0), r.getLong(1)).subsetOf(Set(0L, 1L))),
      s"hot shingle leaked pairs: ${capped.mkString(",")}")
    assert(capped.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
    // uncapped baseline: the hot shingle generates all 45 candidate pairs
    val uncapped = Dedup.jaccardPairs(docs, 0.0, dfCap = 1000).count()
    assert(uncapped == 45L)
    // the production cap leaves the real corpus's result unchanged (max
    // observed df is 25 < 64 at every SF)
    val prod = Dedup.jaccardNearDup(spark, sfDir).count()
    val noCap = Dedup.jaccardPairs(
      sources.Tables.documents(spark, sfDir), 0.6, Int.MaxValue).count()
    assert(prod == noCap)
  }

  test("band-bucket cap: equal to uncapped on this corpus, bounded under viral buckets") {
    import spark.implicits._
    // the cap must be invisible on the declared corpus: no (band, sig)
    // bucket approaches it (headroom asserted, so a data refresh that
    // silently changes the distribution fails here first) …
    val banded = Dedup.minhashSignatures(spark, sfDir)
    val sigCols = (0 until 4).map { bnd =>
      concat_ws(",", (0 until 4).map(r => col(f"mh${bnd * 4 + r}%02d")): _*).as(s"b$bnd")
    }
    val maxOcc = banded.select(sigCols: _*)
      .select(explode(array((0 until 4).map(b => col(s"b$b")): _*)).as("sig"))
      .groupBy("sig").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxOcc * 2 <= Dedup.BandBucketCap,
      s"max band-bucket occupancy $maxOcc eats the cap headroom")
    val capped = Dedup.lshNearDupCapped(spark, sfDir).collect().map(_.toString).sorted.toSeq
    val plain = Dedup.lshNearDup(spark, sfDir).collect().map(_.toString).sorted.toSeq
    assert(capped == plain)
    // … and under a viral bucket (60 near-identical docs banding
    // together everywhere) the capped path generates NO candidates from
    // that bucket — its pairs are exact-dup territory (q34) — while the
    // uncapped join would fan out 60·59/2 pairs in one task
    val viral = (0 until 60).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta", "s"))
    val vdf = viral.toDF("doc_id", "text", "source")
    val cappedViral = Dedup.jaccardPairs(vdf, 0.6, Int.MaxValue) // sanity: they ARE near-dups
    assert(cappedViral.count() == 60L * 59 / 2)
    val guard = Dedup.lshNearDupCapped(spark, sfDir, bucketCap = 1)
    // cap=1 kills every bucket on the real corpus → zero candidates
    assert(guard.count() == 0L)
  }

  test("minhash signature values lie in [0, P)") {
    val sig = Dedup.minhashSignatures(spark, sfDir)
    val cols = sig.columns.filter(_.startsWith("mh")).toIndexedSeq
    assert(cols.length == graft.functions.Hashing.K)
    val mins = sig.select(cols.map(c => min(col(c))): _*).collect()(0)
    val maxs = sig.select(cols.map(c => max(col(c))): _*).collect()(0)
    (0 until cols.length).foreach { i =>
      assert(mins.getLong(i) >= 0L && maxs.getLong(i) < graft.functions.Hashing.P)
    }
  }

  test("simhash is a 32-bit value; identical docs would collide") {
    val sh = Dedup.simhash(spark, sfDir)
    val range = sh.agg(min("simhash"), max("simhash")).collect()(0)
    assert(range.getLong(0) >= 0L && range.getLong(1) < (1L << 32))
  }

  test("text quality scores are in (0, 1] and ratios bounded") {
    Text.textQuality(spark, sfDir).collect().foreach { r =>
      val stopRatio = r.getDouble(3)
      assert(stopRatio >= 0.0 && stopRatio <= 1.0)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("word count totals match token count") {
    val fromQuality = Text.textQuality(spark, sfDir)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    val allTokens = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    assert(fromQuality == allTokens)
  }

  test("tfidf: <=5 tokens per doc, scores descend, df bounded by corpus size") {
    val out = Text.tfidf(spark, sfDir).collect()
    assert(out.nonEmpty)
    val nDocs = Tables.documents(spark, sfDir).count()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 5)
      val ordered = rows.sortBy(_.getLong(1))
      assert(ordered.map(_.getLong(1)).toSeq == (1L to ordered.length).toSeq)
      // tfidf non-increasing with rank (ties broken by token)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(5) >= b.getDouble(5))
        case _           =>
      }
    }
    out.foreach { r =>
      assert(r.getLong(3) >= 1L)                       // tf
      assert(r.getLong(4) >= 1L && r.getLong(4) <= nDocs) // df
      assert(r.getDouble(5) > 0.0)
    }
  }

  test("rolling fingerprint is order-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "a b c", "en", "s", 5L), (2L, "c b a", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    df.createOrReplaceTempView("___tmp")
    val fps = df
      .withColumn("toks", filter(split(col("text"), " "), t => length(t) > 0))
      .withColumn("hs", transform(col("toks"), t => graft.functions.Hashing.h32p(t)))
      .withColumn("fp", aggregate(col("hs"), lit(0L),
        (acc, x) => (acc * graft.functions.Hashing.B + x) % graft.functions.Hashing.P))
      .select("fp").collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("lsh recall audit: caught flags exactly the q37-detected exact pairs") {
    import graft.operators.Dedup
    val audit = Dedup.lshRecallAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(audit.nonEmpty)
    audit.values.foreach { case (j, _) => assert(j >= 0.6) }
    val lsh = Dedup.lshNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    audit.foreach { case (pair, (j, caught)) =>
      if (caught) {
        assert(lsh.contains(pair), s"caught pair $pair missing from q37")
        assert(lsh(pair) == j, s"jaccard differs for $pair: ${lsh(pair)} vs $j")
      } else assert(!lsh.contains(pair), s"pair $pair in q37 but marked uncaught")
    }
  }
}
