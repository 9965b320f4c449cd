package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.rng.Seed

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Lcc, Lzw}
import graft.operators.{Curation, Dedup, Similarity}
import graft.sources.{GeoTiff, NetCdf, NetCdf4}

/** Property-based tests (SURVEY.md §5.3 item 3): ScalaCheck generators
  * with fixed seeds, driven directly (no scalatest-plus bridge on the
  * offline classpath). Pure-JVM kernels get real `forAll` fuzzing; Spark
  * properties sample a deterministic batch with `Gen` and verify the
  * universal claim in ONE job over the batch (a job per ScalaCheck case
  * would be 100 Spark jobs for no extra coverage).
  */
class PropertySpec extends SparkSpec {

  private val params = ScTest.Parameters.default
    .withMinSuccessfulTests(200)
    .withInitialSeed(Seed(20260812L))

  private def check(prop: Prop): Unit = {
    val res = ScTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  /** Deterministic batch sampling for the Spark-side properties. */
  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(20260812L)).get

  // ---------------------------------------------------------------- LCC

  test("lcc forward/inverse round-trips across the DMI domain") {
    // HARMONIE's grid covers the wider Nordic domain, not just the
    // reference bbox — fuzz the whole plausible window.
    val latG = Gen.choose(45.0, 65.0)
    val lonG = Gen.choose(-5.0, 25.0)
    // NoShrink: Double shrinking walks toward 0, outside the projection's
    // intended domain. Note inverse returns (lon, lat) — GDAL's axis order.
    check(Prop.forAllNoShrink(latG, lonG) { (lat, lon) =>
      val (x, y) = Lcc.forward(lat, lon)
      val (lon2, lat2) = Lcc.inverse(x, y)
      math.abs(lat2 - lat) < 1e-8 && math.abs(lon2 - lon) < 1e-8
    })
  }

  // ---------------------------------------------------------------- LZW

  test("lzw encode/decode round-trips arbitrary and low-entropy bytes") {
    val anyBytes = Gen.choose(0, 4096)
      .flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    // low-entropy runs grow the dictionary fastest — past 4096 entries
    // this forces the 12-bit width ceiling and the ClearCode reset path
    val lowEntropy = Gen.choose(0, 20000)
      .flatMap(n => Gen.listOfN(n, Gen.choose(0, 3).map(_.toByte)))
    check(Prop.forAll(Gen.oneOf(anyBytes, lowEntropy)) { bs =>
      val data = bs.toArray
      Lzw.decode(Lzw.encode(data), data.length).sameElements(data)
    })
  }

  // ------------------------------------------------------ dedup idempotence

  test("exact dedup is idempotent: dedup(keepers(dedup(x))) is a no-op") {
    // corpora with planted duplicates that differ only by the normalized
    // dimensions (case, whitespace runs, leading/trailing space)
    val word = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
    val text = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val texts = sample(text, 60)
    val noisy = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq(t, t.toUpperCase, s"  ${t.replace(" ", "   ")} ").take(1 + i % 3)
    }
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(noisy.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

    val first = Dedup.dedupExactFrom(docs).cache()
    val keepers = docs.join(
      first.select(col("keeper_doc_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val second = Dedup.dedupExactFrom(keepers)

    assert(second.filter(col("n_copies") =!= 1L).count() == 0L,
      "second pass still found duplicates")
    assert(first.select("fp", "keeper_doc_id")
      .exceptAll(second.select("fp", "keeper_doc_id")).count() == 0L,
      "fingerprint/keeper set changed across passes")
    assert(first.count() == second.count())
  }

  // ------------------------------------------------------ cosine properties

  test("vec_dot cosine is symmetric and bounded on generated vectors") {
    val vec = Gen.listOfN(16, Gen.choose(-10.0f, 10.0f))
      .suchThat(_.exists(v => math.abs(v) > 1e-3f)).map(_.toArray)
    val pairs = sample(Gen.zip(vec, vec), 100)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Row(a.toSeq, b.toSeq) }, 4),
      StructType(Seq(
        StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType)))))
      .withColumn("cab",
        Similarity.cosine(col("a"), col("b"), Similarity.norm(col("a")), Similarity.norm(col("b"))))
      .withColumn("cba",
        Similarity.cosine(col("b"), col("a"), Similarity.norm(col("b")), Similarity.norm(col("a"))))
    // symmetry is BIT-exact: the fold multiplies a_i*b_i in index order
    val bad = df.filter(col("cab") =!= col("cba") ||
      abs(col("cab")) > lit(1.0 + 1e-9)).count()
    assert(bad == 0L)
  }

  // ------------------------------------------------------ minhash algebra

  test("minhash signature of a union is the elementwise min of signatures") {
    val hashes = Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue)))
    val pairs = sample(Gen.zip(hashes, hashes), 100)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Row(a, b) }, 4),
      StructType(Seq(
        StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType)))))
      .withColumn("sig_union", call_function("minhash_sig16", concat(col("a"), col("b"))))
      .withColumn("min_of_sigs", zip_with(
        call_function("minhash_sig16", col("a")),
        call_function("minhash_sig16", col("b")),
        (x, y) => least(x, y)))
    val bad = df.filter(col("sig_union") =!= col("min_of_sigs")).count()
    assert(bad == 0L)
  }

  // ------------------------------------------------------ skew-guard algebra

  test("range-join salting is output-invariant under any cap") {
    // the r12 skew guard's contract: salting redistributes WORK, never
    // pairs — so the aggregated output must be identical at every cap,
    // including caps small enough to salt every bucket and a cap so
    // large no bucket salts at all. Sampled batch: most mass collapsed
    // into two 60 s buckets (the r11 failure shape) plus a sparse tail.
    import spark.implicits._
    val gen = Gen.zip(
      Gen.oneOf("a", "b", "c"),
      Gen.frequency(3 -> Gen.choose(0.0, 90.0), 1 -> Gen.choose(0.0, 36000.0)))
    val evs = sample(gen, 800).zipWithIndex
      .map { case ((tp, t), i) => (i.toLong, tp, math.rint(t * 100) / 100) }
    val df = evs.toDF("event_id", "event_type", "t")
    val outputs = Seq(2, 7, 64, Int.MaxValue).map { cap =>
      graft.operators.Temporal.rangeJoinOn(df, cap).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    assert(outputs.head.nonEmpty)
    outputs.tail.foreach(o => assert(o == outputs.head,
      "salted outputs diverged across caps"))
  }

  // ------------------------------------------------------ codec fuzzing

  test("geotiff encode/decode round-trips random rasters in every layout") {
    // ragged sizes (not tile multiples), NaN holes, classic and BigTIFF;
    // tileSize 16 keeps the fixtures small while exercising real
    // tiling/padding and the overview pyramid
    val px = Gen.frequency(
      9 -> Gen.choose(-1e6f, 1e6f), 1 -> Gen.const(Float.NaN))
    val raster = for {
      w <- Gen.choose(1, 40); h <- Gen.choose(1, 40)
      pixels <- Gen.listOfN(w * h, px)
      lon <- Gen.choose(-20.0, 20.0); lat <- Gen.choose(40.0, 70.0)
    } yield GeoTiff.Raster(w, h, lon, lat, 0.01, 0.01, pixels.toArray)
    check(Prop.forAllNoShrink(raster, Gen.oneOf(false, true)) { (r, big) =>
      val back = GeoTiff.decode(GeoTiff.encode(r, tileSize = 16, bigTiff = big))
      back.width == r.width && back.height == r.height &&
        back.originLon == r.originLon && back.originLat == r.originLat &&
        back.dLon == r.dLon && back.dLat == r.dLat &&
        back.pixels.length == r.pixels.length &&
        back.pixels.zip(r.pixels).forall { case (a, b) =>
          a == b || (a.isNaN && b.isNaN)
        }
    })
  }

  test("netcdf cube encode/decode round-trips random grids (CDF-1/2/5)") {
    // a Spark job per cube, so sample a handful rather than forAll 200×
    val cubeG = for {
      nT <- Gen.choose(1, 3); nY <- Gen.choose(1, 5); nX <- Gen.choose(1, 5)
      t0 <- Gen.choose(0L, 2000000000L)
      vals <- Gen.listOfN(nT * nY * nX, Gen.frequency(
        8 -> Gen.choose(-1e6, 1e6).map(v => math.rint(v * 1000) / 1000.0),
        1 -> Gen.const(Double.NaN)))
    } yield (nT, nY, nX, t0, vals)
    sample(cubeG, 8).zip(LazyList.continually(Seq(1, 2, 5)).flatten).foreach {
      case ((nT, nY, nX, t0, vals), version) =>
        val rows = for {
          t <- 0 until nT; y <- 0 until nY; x <- 0 until nX
        } yield Row(
          new java.sql.Timestamp((t0 + t * 3600L) * 1000L),
          8.0 + x * 0.25, 54.0 + y * 0.25,
          vals(t * nY * nX + y * nX + x) match {
            case v if v.isNaN => null
            case v => java.lang.Double.valueOf(v)
          })
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2),
          StructType(Seq(
            StructField("time", TimestampType), StructField("x", DoubleType),
            StructField("y", DoubleType), StructField("value", DoubleType))))
        val bytes = NetCdf.encodeCube(df, "param", version = version)
        assert(bytes(3) == version.toByte)
        def keyed(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
          (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
            (if (r.isNullAt(5)) null else r.getDouble(5))
        }.toMap
        val back = NetCdf.decodeCube(spark, "c", "param", bytes)
        assert(keyed(back) == keyed(df.select(
          lit("c").as("collection"), lit("param").as("parameter"),
          col("time"), col("x"), col("y"), col("value"))),
          s"cube ${nT}x${nY}x$nX v$version mismatch")
    }
  }

  test("sharded bloom: no false negatives, few false positives on a split corpus") {
    import spark.implicits._
    // a generated key population split into members (indexed) and
    // non-members (probes that must mostly miss)
    val keyG = for {
      n <- Gen.choose(4, 24)
      cs <- Gen.listOfN(n, Gen.alphaNumChar)
    } yield cs.mkString
    val keys = sample(keyG, 8000).distinct
    val (members, others) = keys.splitAt(keys.length / 2)
    val idx = members.toDF("fp").repartition(4)
    val probes = keys.toDF("fp")
    val nShards = 8
    val shards = Curation.bloomWordsSharded(idx, nShards)
    // shard count and per-shard sizing: every shard is a power-of-two
    // word array, and all nShards materialized
    val shardRows = shards.collect()
    assert(shardRows.length == nShards)
    shardRows.foreach { r =>
      val words = r.getSeq[Long](1).length
      assert(words >= 256 && (words & (words - 1)) == 0, s"width $words")
    }
    val hits = Curation.bloomHitSharded(probes, shards, nShards)
      .collect().map(_.getString(0)).toSet
    // NO FALSE NEGATIVES — every member of every shard hits
    val misses = members.filterNot(hits)
    assert(misses.isEmpty, s"sharded bloom false negatives: ${misses.take(5)}")
    // false positives bounded: the non-member overshoot stays a sliver
    val fps = others.count(hits)
    assert(fps <= math.max(4, others.length / 100),
      s"$fps false positives of ${others.length} non-members")
  }

  test("span family matches an independent model on generated corpora") {
    // q95/q96/q98 against a direct Scala implementation of the span
    // rules, over corpora the generator controls: a tiny vocabulary (so
    // spans repeat organically), docs below/at/above the 8-token window,
    // and two sources for the provenance matrix
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpusG = Gen.listOfN(12, for {
      n <- Gen.choose(0, 20)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks.mkString(" "))
    sample(corpusG, 3).zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", s"src${i % 2}", t.length.toLong)
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_span_model$ci").toString
      import spark.implicits._
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      // ---- independent model ----
      val toksBy = docs.map { case (id, t, _, src, _) =>
        (id, src, t.split(" ").filter(_.nonEmpty).toVector)
      }
      val eligible = toksBy.filter(_._3.length >= 8)
      val spans = eligible.flatMap { case (id, src, tk) =>
        (0 to tk.length - 8).map(i => (id, src, i, tk.slice(i, i + 8).mkString(" ")))
      }
      val occ = spans.groupBy(_._4).map { case (k, v) => k -> v.size }
      val hits = spans.filter(s => occ(s._4) >= 2)
      val mDedup = eligible.map { case (id, _, tk) =>
        val hs = hits.filter(_._1 == id).map(_._3).distinct
        val covered = hs.flatMap(i => i until i + 8).distinct
        val keep = math.floor((1.0 - covered.size.toDouble / tk.length) * 1e6) / 1e6
        id -> (tk.length.toLong, hs.size.toLong, covered.size.toLong, keep)
      }.toMap
      val mTrim = eligible.map { case (id, _, tk) =>
        val covered = hits.filter(_._1 == id).map(_._3)
          .flatMap(i => i until i + 8).toSet
        id -> tk.zipWithIndex.collect { case (t, p) if !covered(p) => t }.mkString(" ")
      }.toMap
      val srcSpans = spans.map(s => (s._2, s._4)).distinct
      val mProv = srcSpans.groupBy(_._2).values
        .flatMap { g =>
          val ss = g.map(_._1).distinct.sorted
          for (x <- ss; y <- ss if x < y) yield (x, y)
        }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

      // ---- engine vs model ----
      val dd = Curation.spanDedup(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toMap
      assert(dd == mDedup, s"corpus $ci spanDedup diverged")
      val tr = Curation.spanTrim(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(tr == mTrim, s"corpus $ci spanTrim diverged")
      val pv = Curation.spanProvenance(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(pv == mProv, s"corpus $ci spanProvenance diverged:\n $pv\n vs $mProv")
    }
  }

  test("netcdf-4 writer round-trips random multi-dataset files (1-8 datasets)") {
    // the group machinery (heap names, SNOD ordering, per-dataset object
    // headers and blob addresses) fuzzed beyond the fixed 4-dataset cube
    // shape encodeCube always emits; pure-JVM, so full forAll
    val dsG = for {
      n <- Gen.choose(1, 8)
      names <- Gen.listOfN(n, Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(12)))
      if names.distinct.size == n
      specs <- Gen.sequence[List[(Boolean, List[Double])], (Boolean, List[Double])](
        names.map { _ =>
          for {
            f32 <- Gen.oneOf(true, false)
            len <- Gen.choose(1, 40)
            vals <- Gen.listOfN(len, Gen.choose(-1e5, 1e5).map(v => math.rint(v * 100) / 100))
          } yield (f32, vals)
        })
    } yield names.zip(specs)
    check(Prop.forAll(dsG) { dss =>
      val bytes = NetCdf4.write(dss.map { case (name, (f32, vals)) =>
        NetCdf4.WriteDs(name, Seq(vals.length.toLong), vals.toArray, f32 = f32)
      })
      val f = NetCdf4.parse(bytes)
      dss.forall { case (name, (f32, vals)) =>
        val ds = f.dataset(name).get
        val back = NetCdf4.readValues(f, ds).toSeq
        val expect = if (f32) vals.map(v => v.toFloat.toDouble) else vals
        ds.dtype.size == (if (f32) 4 else 8) && back == expect
      }
    })
  }

  test("netcdf-4 cube encode/decode round-trips random grids (HDF5 subset)") {
    // same generator discipline as the classic-codec property above —
    // the HDF5 container must round-trip the identical cube population
    val cubeG = for {
      nT <- Gen.choose(1, 3); nY <- Gen.choose(1, 5); nX <- Gen.choose(1, 5)
      t0 <- Gen.choose(0L, 2000000000L)
      vals <- Gen.listOfN(nT * nY * nX, Gen.frequency(
        8 -> Gen.choose(-1e6, 1e6).map(v => math.rint(v * 1000) / 1000.0),
        1 -> Gen.const(Double.NaN)))
    } yield (nT, nY, nX, t0, vals)
    sample(cubeG, 8).foreach { case (nT, nY, nX, t0, vals) =>
      val rows = for {
        t <- 0 until nT; y <- 0 until nY; x <- 0 until nX
      } yield Row(
        new java.sql.Timestamp((t0 + t * 3600L) * 1000L),
        8.0 + x * 0.25, 54.0 + y * 0.25,
        vals(t * nY * nX + y * nX + x) match {
          case v if v.isNaN => null
          case v => java.lang.Double.valueOf(v)
        })
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(
          StructField("time", TimestampType), StructField("x", DoubleType),
          StructField("y", DoubleType), StructField("value", DoubleType))))
      val bytes = NetCdf4.encodeCube(df, "param")
      assert(NetCdf4.isHdf5(bytes))
      def keyed(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
        (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
          (if (r.isNullAt(5)) null else r.getDouble(5))
      }.toMap
      val back = NetCdf4.decodeCube(spark, "c", "param", bytes)
      assert(keyed(back) == keyed(df.select(
        lit("c").as("collection"), lit("param").as("parameter"),
        col("time"), col("x"), col("y"), col("value"))),
        s"hdf5 cube ${nT}x${nY}x$nX mismatch")
    }
  }
}
