package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Hashing
import graft.sources.Tables

/** Equivalence + behavior tests for the native kernel functions. */
class ExpressionSpec extends SparkSpec {

  test("native sha256_prefix32 is bit-identical to the builtin composition") {
    val df = Tables.documents(spark, sfDir)
      .select(col("text"))
      .withColumn("fast", Hashing.h32(col("text")))
      .withColumn("slow", Hashing.h32Composed(col("text")))
    assert(df.filter(col("fast") =!= col("slow")).count() == 0L)
    // also over short tokens (exercise multi-row codegen path)
    val tok = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("t"))
      .withColumn("fast", Hashing.h32(col("t")))
      .withColumn("slow", Hashing.h32Composed(col("t")))
    assert(tok.filter(col("fast") =!= col("slow")).count() == 0L)
  }

  test("native expression participates in whole-stage codegen") {
    val plan = Tables.documents(spark, sfDir)
      .select(Hashing.h32(col("text")).as("h"))
      .queryExecution.executedPlan.toString
    // "*(n)" marks a whole-stage-codegen stage in the plan string
    assert(plan.contains("*(1) Project"), plan.take(500))
  }

  test("values stay in [0, 2^32)") {
    val r = Tables.documents(spark, sfDir)
      .select(Hashing.h32(col("text")).as("h"))
      .agg(min("h"), max("h")).collect()(0)
    assert(r.getLong(0) >= 0L && r.getLong(1) < (1L << 32))
  }

  test("null input yields null") {
    import spark.implicits._
    val r = Seq(Some("a"), None).toDF("s")
      .select(Hashing.h32(col("s")).as("h")).collect()
    assert(!r(0).isNullAt(0) && r(1).isNullAt(0))
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    // every pair of document 4-gram hash sets, both formulations
    val g = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"), array_sort(array_distinct(expr(
        "transform(sequence(1, length(text) - 3), i -> xxhash64(substring(text, i, 4)))"))).as("g"))
    val pairs = g.select(col("doc_id").as("d1"), col("g").as("g1"))
      .join(g.select(col("doc_id").as("d2"), col("g").as("g2")), col("d1") < col("d2"))
      .withColumn("fast", expr("sorted_intersect_count(g1, g2)"))
      .withColumn("slow", size(array_intersect(col("g1"), col("g2"))).cast("long"))
    assert(pairs.count() > 0)
    assert(pairs.filter(col("fast") =!= col("slow")).count() == 0L)
  }

  test("sorted_array_contains equals array_contains on sorted distinct arrays") {
    // string arrays: every document's sorted 4-gram hex set probed with
    // every other document's grams (hits and misses both exercised)
    val g = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 4)
      .limit(50)
      .select(col("doc_id"), array_sort(array_distinct(expr(
        "transform(sequence(1, least(length(text) - 3, 40)), " +
          "i -> substring(text, i, 4))"))).as("g"))
    val probed = g.select(col("doc_id").as("d1"), col("g").as("g1"))
      .join(g.select(col("doc_id").as("d2"), explode(col("g")).as("p")),
        col("d1") =!= col("d2"))
      .withColumn("fast", expr("sorted_array_contains(g1, p)"))
      .withColumn("slow", array_contains(col("g1"), col("p")))
    assert(probed.count() > 0)
    assert(probed.filter(col("fast") =!= col("slow")).count() == 0L)
    assert(probed.filter(col("fast")).count() > 0, "no hit exercised")
    assert(probed.filter(!col("fast")).count() > 0, "no miss exercised")
    // long arrays: same contract, the sorted_intersect_count input shape
    val lg = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 4)
      .limit(50)
      .select(col("doc_id"), array_sort(array_distinct(expr(
        "transform(sequence(1, least(length(text) - 3, 40)), " +
          "i -> xxhash64(substring(text, i, 4)))"))).as("g"))
    val lp = lg.select(col("doc_id").as("d1"), col("g").as("g1"))
      .join(lg.select(col("doc_id").as("d2"), explode(col("g")).as("p")),
        col("d1") =!= col("d2"))
      .withColumn("fast", expr("sorted_array_contains(g1, p)"))
      .withColumn("slow", array_contains(col("g1"), col("p")))
    assert(lp.filter(col("fast") =!= col("slow")).count() == 0L)
  }

  test("sorted_array_contains edge cases: empty, null, null slot, codegen") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq[String]()), Some("x")),             // empty array → false
      (Some(Seq("a", "c", "e")), Some("c")),        // hit
      (Some(Seq("a", "c", "e")), Some("d")),        // miss between elements
      (Some(Seq("a", "c", "e")), Some("z")),        // miss past the end
      (None, Some("x")),                            // null array → null
      (Some(Seq("a", "b")), None)                   // null probe → null
    ).toDF("a", "v").withColumn("c", expr("sorted_array_contains(a, v)"))
    val r = df.select("c").collect()
    assert(!r(0).getBoolean(0) && r(1).getBoolean(0))
    assert(!r(2).getBoolean(0) && !r(3).getBoolean(0))
    assert(r(4).isNullAt(0) && r(5).isNullAt(0))
    // dirty-data armor: a null slot mid-array must not break the probe
    val dirty = Seq((Seq[Option[String]](None, Some("b"), Some("d")), "d"))
      .toDF("a", "v").selectExpr("sorted_array_contains(a, v) AS c").head()
    assert(dirty.getBoolean(0), "null slot broke the fallback scan")
    // stays inside whole-stage codegen (a local Seq would constant-fold
    // to LocalTableScan, and array_sort's lambda comparator is itself a
    // codegen fallback — this asserts the PLAN SHAPE only, so an unsorted
    // split array is fine as the probe target)
    val plan = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("a"), col("source").as("v"))
      .selectExpr("sorted_array_contains(a, v) AS c")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
  }

  test("rp_signature64 is bit-identical to the unrolled Column formulation") {
    import graft.operators.Similarity
    // the formulation the native kernel replaced: 8×64 unrolled element_at
    // terms with the same left-assoc accumulation order
    // NOTE: this baseline's generated aggregate method exceeds janino's
    // 64 KB limit, so the suite logs one expected "ERROR CodeGenerator:
    // Failed to compile … Code grows beyond 64 KB" and Spark falls back
    // to interpreted eval for THIS plan only — precisely the blowup the
    // native kernel exists to avoid; engine plans are unaffected.
    val unrolled = Similarity.hyperplanes.zipWithIndex.map { case (h, j) =>
      val dotH = h.zipWithIndex
        .map { case (w, i) => element_at(col("embedding"), i + 1).cast("double") * lit(w) }
        .reduce(_ + _)
      when(dotH > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val df = Tables.embeddings(spark, sfDir)
      .withColumn("fast", Similarity.rpSignature(col("embedding")))
      .withColumn("slow", unrolled)
    assert(df.count() > 0)
    assert(df.filter(col("fast") =!= col("slow")).count() == 0L)
    val range = df.agg(min("fast"), max("fast")).collect()(0)
    assert(range.getLong(0) >= 0L && range.getLong(1) < 256L)
  }

  test("rp_signature64 participates in whole-stage codegen; null yields null") {
    import graft.operators.Similarity
    val plan = Tables.embeddings(spark, sfDir)
      .select(Similarity.rpSignature(col("embedding")).as("sig"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
    import spark.implicits._
    val r = Seq(Some(Seq(1.0f, -2.0f)), None).toDF("embedding")
      .select(expr("rp_signature64(embedding)").as("sig")).collect()
    assert(!r(0).isNullAt(0) && r(1).isNullAt(0))
  }

  test("vec_dot is bit-identical to the composed zip_with+aggregate fold") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sfDir)
    // all pairs of the first 40 vectors — exercises both eval paths well
    // beyond float-rounding corner cases
    val p = e.filter(col("vec_id") < 40)
    val pairs = p.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .join(p.select(col("vec_id").as("v2"), col("embedding").as("e2")),
        col("v1") < col("v2"))
      .withColumn("fast", Similarity.dot(col("e1"), col("e2")))
      .withColumn("slow", Similarity.dotComposed(col("e1"), col("e2")))
    assert(pairs.count() > 0)
    assert(pairs.filter(col("fast") =!= col("slow")).count() == 0L)
  }

  test("sub_l2 is bit-identical to the unrolled element_at term chain") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sfDir)
    val p = e.filter(col("vec_id") < 24)
    // every (vector, codebook-entry, subspace) cell of an m=8, dsub=8 PQ
    // grid, in both window layouts (full-vector b and seg b) plus the
    // runtime-offset dispatch vs the m-branch CASE it replaced
    val pairs = p.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .join(p.select(col("vec_id").as("v2"), col("embedding").as("e2")),
        col("v1") < col("v2"))
      .crossJoin(spark.range(8).select(col("id").cast("int").as("sub")))
    val cells = (0 until 8).flatMap { s =>
      Seq(
        (expr(s"sub_l2(e1, e2, ${s * 8}, ${s * 8}, 8)"),
          Similarity.subL2Composed(col("e1"), col("e2"), s, 8, segB = false)),
        (expr(s"sub_l2(e1, slice(e2, ${s * 8 + 1}, 8), ${s * 8}, 0, 8)"),
          Similarity.subL2Composed(col("e1"), slice(col("e2"), s * 8 + 1, 8),
            s, 8, segB = true)))
    } ++ Seq(
      (expr("sub_l2(e1, e2, CAST(sub * 8 AS INT), CAST(sub * 8 AS INT), 8)"),
        Similarity.pqDistComposed(col("e1"), col("e2"), col("sub"), 8, 8,
          segB = false)))
    cells.zipWithIndex.foreach { case ((fast, slow), i) =>
      assert(pairs.filter(fast =!= slow).count() == 0L, s"cell $i diverged")
      assert(pairs.filter(fast.isNull =!= slow.isNull).count() == 0L,
        s"cell $i null-mask diverged")
    }
  }

  test("sub_l2 codegen + edge cases: null array, null slot, out-of-window") {
    import spark.implicits._
    val plan = Tables.embeddings(spark, sfDir)
      .select(expr("sub_l2(embedding, embedding, 0, 0, 8)").as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
    val r = Seq(
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(5.0f)))),
      (None, Some(Seq(Some(1.0f), Some(2.0f)))), // null array
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(1.0f), Some(2.0f)))), // null slot
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(1.0f), Some(2.0f)))))
      .toDF("a", "b")
      .select(expr("sub_l2(a, b, 0, 0, 2)").as("d"),
        expr("sub_l2(a, b, 1, 0, 2)").as("oow"), // window past a's end
        expr("sub_l2(a, b, CAST(NULL AS INT), 0, 2)").as("noff"))
      .collect()
    assert(r(0).getDouble(0) == 13.0) // (1-3)² + (2-5)² left-assoc
    assert(r(1).isNullAt(0) && r(2).isNullAt(0) && r(3).getDouble(0) == 0.0)
    assert(r.forall(_.isNullAt(1)) && r.forall(_.isNullAt(2)))
  }

  test("sub_l2 hostile offsets near Int.MaxValue yield null, not a wrapped bounds check") {
    // sub_l2 is registered session-wide: aOff + len must be summed in
    // Long or 2147483640 + 100 wraps negative, passes the guard, and
    // drives unchecked UnsafeArrayData reads at huge ordinals
    import spark.implicits._
    val r = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 5.0f))).toDF("a", "b")
      .select(
        expr("sub_l2(a, b, 2147483640, 0, 100)").as("hostileA"),
        expr("sub_l2(a, b, 0, 2147483640, 100)").as("hostileB"),
        expr("sub_l2(a, b, 2147483647, 2147483647, 2147483647)").as("hostileAll"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("sq8_codes/sq8_l2 are bit-identical to the unrolled CASE + reconstruction chains") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val rng = Similarity.sq8Rng(emb)
    val base = emb.crossJoin(broadcast(rng))
    // The 64-dim composed REFERENCE chains exceed Janino's 64KB method
    // limit inside a whole-stage-codegen'd join consume (expressions over
    // join variables can't be split into sub-methods) — the very bloat
    // the kernels exist to kill. Run the comparison with whole-stage off:
    // row-mode projection codegen CAN split, and the kernels' doGenCode
    // is still exercised (plus by the plan test below and every q120/q122
    // production run).
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      // encode: every corpus vector through kernel vs composed chain
      val enc = base.select(
        Similarity.sq8Code.as("fast"), Similarity.sq8CodeColsComposed.as("slow"))
      assert(enc.count() > 0)
      assert(enc.filter(col("fast") =!= col("slow")).count() == 0L)
      // distance: every (corpus vector, probe) pair of the q120 grid
      val probes = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      val scored = base.withColumn("codes", Similarity.sq8Code)
        .join(broadcast(probes), col("probe_id") =!= col("vec_id"))
        .select(Similarity.sq8Dist.as("fast"), Similarity.sq8DistComposed.as("slow"))
      assert(scored.count() > 0)
      assert(scored.filter(col("fast") =!= col("slow")).count() == 0L)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("vec_range matches the composed per-dimension min/max aggregates") {
    val emb = Tables.embeddings(spark, sfDir)
    val fast = emb
      .agg(call_function("vec_range", col("embedding"), lit(64)).as("r"))
      .select(col("r.mns"), col("r.mxs")).collect()(0)
    val mns = fast.getSeq[Float](0)
    val mxs = fast.getSeq[Float](1)
    assert(mns.size == 64 && mxs.size == 64)
    // composed reference: the 128 independent aggs the kernel replaced
    // (whole-stage off — at 128 agg states the generated
    // doAggregateWithoutKey exceeds Janino's 64KB limit, the very
    // fallback the kernel exists to kill)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val aggs = (0 until 64).map(i =>
        min(element_at(col("embedding"), i + 1))) ++
        (0 until 64).map(i => max(element_at(col("embedding"), i + 1)))
      val slow = emb.agg(aggs.head, aggs.tail: _*).collect()(0)
      (0 until 64).foreach { i =>
        assert(mns(i) == slow.getFloat(i), s"min dim $i")
        assert(mxs(i) == slow.getFloat(64 + i), s"max dim $i")
      }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("vec_range edge cases: null vectors skipped, null slots ignored, short vectors, empty input") {
    import spark.implicits._
    val df = Seq(
      Some(Seq(Some(3.0f), Some(-1.0f), None)),    // null slot at dim 2
      Some(Seq(Some(1.0f))),                        // shorter than dim
      None: Option[Seq[Option[Float]]]              // null vector
    ).toDF("embedding")
    val r = df.agg(call_function("vec_range", col("embedding"), lit(3)).as("r"))
      .select(col("r.mns"), col("r.mxs")).collect()(0)
    val mns = r.getSeq[Any](0); val mxs = r.getSeq[Any](1)
    assert(mns == Seq(1.0f, -1.0f, null) && mxs == Seq(3.0f, -1.0f, null))
    // empty input → one all-null row, like any untyped agg
    val e = df.filter(lit(false))
      .agg(call_function("vec_range", col("embedding"), lit(3)).as("r"))
      .collect()(0)
    assert(e.isNullAt(0))
  }

  test("sq8 kernels participate in whole-stage codegen") {
    // join-free projection (AQE's pre-execution plan string hides the
    // *(n) markers behind exchanges, so probe without one)
    val mns = array((0 until 64).map(_ => lit(0.0f)): _*)
    val mxs = array((0 until 64).map(_ => lit(4.0f)): _*)
    val plan = Tables.embeddings(spark, sfDir)
      .select(call_function("sq8_codes", col("embedding"), mns, mxs).as("codes"),
        call_function("sq8_l2", col("embedding"),
          call_function("sq8_codes", col("embedding"), mns, mxs), mns, mxs).as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
  }

  test("sq8 kernel edge cases: null array, null slot, degenerate delta, short vector") {
    import spark.implicits._
    // quantizer: dim0 degenerate (mn = mx = 1), dim1 range [0, 4]
    val rows = Seq(
      (0, Some(Seq(Some(0.5f), Some(2.0f)))), // regular
      (1, None: Option[Seq[Option[Float]]]),  // null embedding → null
      (2, Some(Seq(None, Some(2.0f)))),       // null slot at degenerate dim → code 0 (WHEN fires first)
      (3, Some(Seq(Some(0.5f), None))),       // null slot at live dim → null code
      (4, Some(Seq(Some(0.5f))))              // shorter than quantizer → null
    ).toDF("i", "embedding")
      .withColumn("mns", array(lit(1.0f), lit(0.0f)))
      .withColumn("mxs", array(lit(1.0f), lit(4.0f)))
      .select(col("i"), expr("sq8_codes(embedding, mns, mxs)").as("codes"))
      .orderBy("i").collect()
    // floor((2-0)/4·255) = floor(127.5) = 127; degenerate dim → 0
    assert(rows(0).getSeq[Long](1) == Seq(0L, 127L))
    assert(rows(1).isNullAt(1))
    assert(rows(2).getSeq[Any](1) == Seq(0L, 127L))
    val r3 = rows(3).getSeq[Any](1)
    assert(r3(0) == 0L && r3(1) == null)
    assert(rows(4).isNullAt(1))
    // distance: rec0 = 1 (Δ=0), rec1 = (127+0.5)·4/256 = 1.9921875 →
    // (1−1)² + (2−1.9921875)² = 2⁻¹⁴ exactly
    val d = Seq((Seq(1.0f, 2.0f), Seq(0L, 127L)))
      .toDF("p_emb", "codes")
      .withColumn("mns", array(lit(1.0f), lit(0.0f)))
      .withColumn("mxs", array(lit(1.0f), lit(4.0f)))
      .select(
        expr("sq8_l2(p_emb, codes, mns, mxs)").as("d"),
        expr("sq8_l2(p_emb, array(CAST(0 AS BIGINT), CAST(NULL AS BIGINT)), mns, mxs)").as("nullSlot"),
        expr("sq8_l2(p_emb, codes, mns, array(1.0F))").as("mismatch"),
        expr("sq8_l2(array(1.0F), codes, mns, mxs)").as("shortP"))
      .collect()(0)
    assert(d.getDouble(0) == math.pow(2, -14))
    assert(d.isNullAt(1) && d.isNullAt(2) && d.isNullAt(3))
  }

  test("ngram_rep matches the composed sort+fold formulation over the corpus") {
    import graft.operators.{Curation, Dedup}
    val base = Tables.documents(spark, sfDir)
      .withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 2)
      .withColumn("tokh", transform(col("toks"), t => xxhash64(t)))
    (2 to 4).foreach { n =>
      val cmp = base.select(
        call_function("ngram_rep", col("tokh"), lit(n)).as("fast"),
        Curation.ngramRepStatsComposed(n).as("slow"))
      assert(cmp.count() > 0)
      assert(cmp.filter(
        col("fast.n_grams") =!= col("slow.n_grams") ||
          col("fast.top_occ") =!= col("slow.top_occ") ||
          col("fast.dup_occ") =!= col("slow.dup_occ")).count() == 0L, s"n=$n")
    }
  }

  test("ngram_rep edge cases: all-same grams, short doc, null array, null n") {
    import spark.implicits._
    val r = Seq((Seq(7L, 7L, 7L, 7L), 1)).toDF("tokh", "i")
      .select(
        expr("ngram_rep(tokh, 2)").as("same"),   // 3 identical bigrams
        expr("ngram_rep(tokh, 5)").as("short"),  // n beyond length
        expr("ngram_rep(CAST(NULL AS ARRAY<BIGINT>), 2)").as("nullArr"),
        expr("ngram_rep(tokh, CAST(NULL AS INT))").as("nullN"),
        expr("ngram_rep(tokh, 0)").as("zeroN"))
      .collect()(0)
    val same = r.getStruct(0)
    assert(same.getLong(0) == 3L && same.getLong(1) == 3L && same.getLong(2) == 3L)
    val short = r.getStruct(1)
    assert(short.getLong(0) == 0L && short.getLong(1) == 0L && short.getLong(2) == 0L)
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("rp_margin64 is bit-identical to the unrolled literal chain; sign matches the signature bit") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 64)
    (0 until 8).foreach { j =>
      val chain = (0 until 64).map(i =>
        element_at(col("embedding"), i + 1).cast("double") *
          lit(Similarity.hyperplanes(j)(i))).reduce(_ + _)
      val d = e.select(
        expr(s"rp_margin64(embedding, $j)").as("fast"), chain.as("slow"),
        expr(s"rp_signature64(embedding)").as("sig"))
      assert(d.filter(col("fast") =!= col("slow")).count() == 0L, s"plane $j")
      // margin sign reproduces signature bit j (NaN-free fixture)
      assert(d.filter((col("fast") > 0.0) =!=
        (shiftright(col("sig"), j).bitwiseAND(1) === 1)).count() == 0L)
    }
    import spark.implicits._
    val r = Seq(Some(Seq.fill(64)(Some(1.0f))), None,
      Some(Seq.fill(63)(Some(1.0f)) :+ None), Some(Seq(Some(1.0f))))
      .toDF("embedding")
      .select(expr("rp_margin64(embedding, 0)").as("m"),
        expr("rp_margin64(embedding, CAST(NULL AS INT))").as("nj"))
      .collect()
    assert(!r(0).isNullAt(0)) // full vector → a real margin
    assert(r(1).isNullAt(0) && r(2).isNullAt(0) && r(3).isNullAt(0))
    assert(r.forall(_.isNullAt(1)))
  }

  test("vec_dot participates in whole-stage codegen; null yields null") {
    import graft.operators.Similarity
    val plan = Tables.embeddings(spark, sfDir)
      .select(Similarity.dot(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
    import spark.implicits._
    val r = Seq((Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (None, Some(Seq(1.0f)))).toDF("a", "b")
      .select(expr("vec_dot(a, b)").as("d")).collect()
    assert(r(0).getDouble(0) == 11.0 && r(1).isNullAt(0))
  }

  test("minhash_sig16 matches the per-permutation array_min formulation") {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("transform(filter(split(text, ' '), t -> length(t) > 0), s -> sha256_prefix32(s) % 2147483647)").as("hps"))
      .filter(size(col("hps")) > 0)
      .withColumn("fast", expr("minhash_sig16(hps)"))
    val slowCols = (0 until Hashing.K).map(i =>
      array_min(transform(col("hps"), hp => Hashing.perm(i, hp))))
    val both = sh.withColumn("slow", array(slowCols: _*))
    assert(both.count() > 0)
    assert(both.filter(col("fast") =!= col("slow")).count() == 0L)
  }

  test("minhash_sig16 codegen + edge cases: empty array, null") {
    val plan = Tables.documents(spark, sfDir)
      .select(expr("minhash_sig16(array(sha256_prefix32(text)))").as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
    import spark.implicits._
    val r = Seq(Some(Seq(42L)), Some(Seq[Long]()), None).toDF("a")
      .select(expr("minhash_sig16(a)").as("s")).collect()
    assert(r(0).getSeq[Long](0).length == Hashing.K)
    assert(r(1).getSeq[Long](0).isEmpty)
    assert(r(2).isNullAt(0))
  }

  test("sorted_intersect_count edge cases: empty, disjoint, identical, null") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq[Long]()), Some(Seq(1L, 2L))),       // empty left
      (Some(Seq(1L, 3L)), Some(Seq(2L, 4L))),       // disjoint
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L, 3L))), // identical
      (None, Some(Seq(1L)))                          // null left
    ).toDF("a", "b").withColumn("c", expr("sorted_intersect_count(a, b)"))
    val r = df.select("c").collect()
    assert(r(0).getLong(0) == 0L && r(1).getLong(0) == 0L && r(2).getLong(0) == 3L)
    assert(r(3).isNullAt(0))
  }

  test("kernel edge semantics: null elements and NaN match the builtins") {
    import spark.implicits._
    // sorted_intersect_count: a null slot must not false-match a real 0
    val sic = Seq((Seq[Option[Long]](Some(0L), Some(5L)), Seq[Option[Long]](None, Some(5L))))
      .toDF("a", "b").selectExpr("sorted_intersect_count(a, b) AS c").head()
    assert(sic.getLong(0) == 1L, "null slot must not match hash 0")
    // vec_dot: a null element nulls the result, like the composed fold
    val vd = Seq((Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(2f), Some(3f))))
      .toDF("a", "b")
      .withColumn("fast", expr("vec_dot(a, b)"))
      .withColumn("slow", aggregate(
        zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x))
      .head()
    assert(vd.isNullAt(2) && vd.isNullAt(3), s"expected null/null, got $vd")
    // rp_signature64: NaN dot products set the bit (Spark/DuckDB order
    // NaN above every number), so an all-NaN vector signs 0xFF
    val nan = Seq(Seq.fill(64)(Float.NaN)).toDF("embedding")
      .selectExpr("rp_signature64(embedding) AS s").head().getLong(0)
    assert(nan == 0xFFL, s"NaN dots must set all 8 bits, got $nan")
    // rp_signature64: a null element clears every bit, like the unrolled
    // when(null > 0) formulation
    val nul = Seq(Seq[Option[Float]](None) ++ Seq.fill(63)(Option(1f))).toDF("embedding")
      .selectExpr("rp_signature64(embedding) AS s").head().getLong(0)
    assert(nul == 0L, s"null element must clear the signature, got $nul")
    // minhash_sig16: null slots are skipped, like array_min
    val mh = Seq((Seq[Option[Long]](Some(42L), None), Seq[Option[Long]](Some(42L))))
      .toDF("a", "b")
      .selectExpr("minhash_sig16(a) AS sa", "minhash_sig16(b) AS sb").head()
    assert(mh.getSeq[Long](0) == mh.getSeq[Long](1), "null slot must not perturb the minima")
    // minhash_sig16: an ALL-NULL non-empty array collapses to the same
    // empty-signature sentinel as an empty array (documented convention —
    // the expression declares containsNull=false, so the 16-null-minima
    // shape of a composed array_min is not representable, and callers
    // filter degenerate docs before the kernel anyway)
    val mhNull = Seq(Seq[Option[Long]](None, None)).toDF("a")
      .selectExpr("minhash_sig16(a) AS s").head()
    assert(mhNull.getSeq[Long](0).isEmpty,
      "all-null input must yield the empty-signature sentinel")
  }

  test("registered functions reject wrong arity with a clear message") {
    import spark.implicits._
    val df = Seq((Seq(1L), Seq(2L))).toDF("a", "b")
    val e = intercept[Exception] {
      df.selectExpr("sorted_intersect_count(a, b, a)").collect()
    }
    assert(e.getMessage.contains("expects 2 argument"), e.getMessage)
    val e2 = intercept[Exception] {
      df.selectExpr("vec_dot(a)").collect()
    }
    assert(e2.getMessage.contains("expects 2 argument"), e2.getMessage)
  }

  test("every kernel function rejects a wrong-typed argument with a message naming it") {
    import spark.implicits._
    val df = Seq((1.5, Seq(1.5))).toDF("d", "ds")
    val calls = Seq(
      "sha256_prefix32" -> "d",
      "sorted_intersect_count" -> "ds, ds",
      "sorted_array_contains" -> "ds, d",
      "minhash_sig16" -> "ds",
      "vec_dot" -> "ds, ds",
      "sub_l2" -> "ds, ds, d, d, d",
      "sq8_codes" -> "ds, ds, ds",
      "sq8_l2" -> "ds, ds, ds, ds",
      "ngram_rep" -> "ds, d",
      "rp_signature64" -> "ds",
      "rp_margin64" -> "ds, d")
    calls.foreach { case (name, args) =>
      val e = intercept[AnalysisException](df.selectExpr(s"$name($args)").collect())
      assert(e.getMessage.contains(s"$name accepts ("), e.getMessage)
      assert(e.getMessage.contains(s"got (${if (args == "d") "double" else "array<double>"}"),
        e.getMessage)
    }
    // both signatures are named when neither matches
    val two = intercept[AnalysisException](df.selectExpr("sorted_array_contains(ds, d)").collect())
    assert(two.getMessage.contains(
      "(array<string>, string) or (array<bigint>, bigint)"), two.getMessage)
  }

  test("every kernel function keeps its result type and nullability on non-null input") {
    val floats = "array(1.0F, 2.0F)"
    val longs = "array(CAST(1 AS BIGINT), CAST(2 AS BIGINT))"
    val expected = Seq(
      "sha256_prefix32('a')" -> (LongType, false),
      s"sorted_intersect_count($longs, $longs)" -> (LongType, false),
      "sorted_array_contains(array('a'), 'a')" -> (BooleanType, false),
      s"sorted_array_contains($longs, CAST(1 AS BIGINT))" -> (BooleanType, false),
      s"minhash_sig16($longs)" -> (ArrayType(LongType, containsNull = false), false),
      s"vec_dot($floats, $floats)" -> (DoubleType, true),
      s"sub_l2($floats, $floats, 0, 0, 2)" -> (DoubleType, true),
      s"sq8_codes($floats, $floats, $floats)" -> (ArrayType(LongType, containsNull = true), true),
      s"sq8_l2($floats, $longs, $floats, $floats)" -> (DoubleType, true),
      s"ngram_rep($longs, 2)" -> (StructType(Seq(
        StructField("n_grams", LongType, nullable = false),
        StructField("top_occ", LongType, nullable = false),
        StructField("dup_occ", LongType, nullable = false))), true),
      s"rp_signature64($floats)" -> (LongType, false),
      s"rp_margin64($floats, 0)" -> (DoubleType, true))
    expected.foreach { case (call, (dataType, nullable)) =>
      val field = spark.range(1).selectExpr(call).schema.head
      assert(field.dataType == dataType, call)
      assert(field.nullable == nullable, call)
    }
  }

  /** `exprs` over `df`, collected once whole-stage codegen'd and once with
    * every projection interpreted. ConvertToLocalRelation is excluded in
    * both runs: it would evaluate a projection over a local Seq once, at
    * optimization, through the interpreted path. */
  private def codegenAndInterpreted(df: DataFrame, exprs: String*): (Seq[Row], Seq[Row]) = {
    def run(wholeStage: Boolean, factoryMode: String): Seq[Row] = {
      val confs = Seq(
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
        "spark.sql.codegen.wholeStage" -> wholeStage.toString,
        "spark.sql.codegen.factoryMode" -> factoryMode)
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val q = df.selectExpr(exprs: _*)
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("*(1) Project") == wholeStage, plan)
        q.collect().toSeq
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    (run(wholeStage = true, "CODEGEN_ONLY"), run(wholeStage = false, "NO_CODEGEN"))
  }

  test("every kernel function gives the same rows interpreted as codegen'd on the edge-case inputs") {
    import spark.implicits._
    def f(xs: Option[Float]*): Seq[Option[Float]] = xs
    def l(xs: Option[Long]*): Seq[Option[Long]] = xs
    val cases: Seq[(DataFrame, Seq[String])] = Seq(
      Seq(Some("a"), Some(""), None).toDF("s") -> Seq("sha256_prefix32(s)"),
      Seq(
        (Some(l()), Some(l(Some(1L), Some(2L)))),
        (Some(l(Some(1L), Some(3L))), Some(l(Some(2L), Some(4L)))),
        (Some(l(Some(1L), Some(2L), Some(3L))), Some(l(Some(1L), Some(2L), Some(3L)))),
        (Some(l(Some(0L), Some(5L))), Some(l(None, Some(5L)))),
        (None, Some(l(Some(1L))))
      ).toDF("a", "b") -> Seq(
        "sorted_intersect_count(a, b)", "minhash_sig16(a)", "minhash_sig16(b)",
        "sorted_array_contains(b, CAST(5 AS BIGINT))", "ngram_rep(a, 2)", "ngram_rep(b, 1)"),
      Seq(
        (Some(Seq[Option[String]]()), Some("x")),
        (Some(Seq(Some("a"), Some("c"), Some("e"))), Some("c")),
        (Some(Seq(Some("a"), Some("c"), Some("e"))), Some("d")),
        (Some(Seq(Some("a"), Some("c"), Some("e"))), Some("z")),
        (Some(Seq(None, Some("b"), Some("d"))), Some("d")),
        (None, Some("x")),
        (Some(Seq(Some("a"), Some("b"))), None)
      ).toDF("a", "v") -> Seq("sorted_array_contains(a, v)"),
      Seq(
        (Some(l(Some(7L), Some(7L), Some(7L), Some(7L))), Some(2)),
        (Some(l(Some(7L), Some(7L), Some(7L), Some(7L))), Some(5)),
        (Some(l(Some(7L), None, Some(7L))), Some(0)),
        (Some(l(None, None)), None),
        (None, Some(2))
      ).toDF("tokh", "n") -> Seq("ngram_rep(tokh, n)", "minhash_sig16(tokh)"),
      Seq(
        (Some(f(Some(1.0f), Some(2.0f))), Some(f(Some(3.0f), Some(5.0f)))),
        (None, Some(f(Some(1.0f), Some(2.0f)))),
        (Some(f(Some(1.0f), None)), Some(f(Some(1.0f), Some(2.0f)))),
        (Some(f(Some(1.0f), Some(2.0f))), Some(f(Some(1.0f), Some(2.0f))))
      ).toDF("a", "b") -> Seq(
        "vec_dot(a, b)", "sub_l2(a, b, 0, 0, 2)", "sub_l2(a, b, 1, 0, 2)",
        "sub_l2(a, b, CAST(NULL AS INT), 0, 2)", "sub_l2(a, b, 2147483640, 0, 100)",
        "sub_l2(a, b, 2147483647, 2147483647, 2147483647)"),
      Seq(
        Some(f(Some(0.5f), Some(2.0f))), None, Some(f(None, Some(2.0f))),
        Some(f(Some(0.5f), None)), Some(f(Some(0.5f)))
      ).toDF("embedding")
        .withColumn("mns", array(lit(1.0f), lit(0.0f)))
        .withColumn("mxs", array(lit(1.0f), lit(4.0f))) -> Seq(
        "sq8_codes(embedding, mns, mxs)",
        "sq8_l2(embedding, array(CAST(0 AS BIGINT), CAST(127 AS BIGINT)), mns, mxs)",
        "sq8_l2(embedding, array(CAST(0 AS BIGINT), CAST(NULL AS BIGINT)), mns, mxs)",
        "sq8_l2(embedding, sq8_codes(embedding, mns, mxs), mns, array(1.0F))"),
      Seq(
        Some(f(Seq.fill(64)(Some(1.0f)): _*)), None,
        Some(f(Seq.fill(63)(Some(1.0f)) :+ None: _*)), Some(f(Some(1.0f))),
        Some(f(Seq.fill(64)(Some(Float.NaN)): _*)),
        Some(f(None +: Seq.fill(63)(Some(1.0f)): _*))
      ).toDF("embedding") -> Seq(
        "rp_signature64(embedding)", "rp_margin64(embedding, 0)",
        "rp_margin64(embedding, 7)", "rp_margin64(embedding, CAST(NULL AS INT))"))
    cases.foreach { case (df, exprs) =>
      val (codegen, interpreted) = codegenAndInterpreted(df, exprs: _*)
      assert(codegen.nonEmpty)
      assert(codegen == interpreted, exprs.mkString(", "))
    }
  }
}
