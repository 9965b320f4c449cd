package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Materialize, Retrieval, Similarity, Text}
import graft.sources.Tables

/** r22 session-standing artifacts: each shared parquet table must be
  * row-identical to the per-query build it replaced (the q144
  * standing-vs-direct convention), and the two shingle-fingerprint
  * identity conversions must reproduce the string-gram results exactly
  * at test scale. */
class SharedArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("quality gate: session-standing table equals the direct build row-for-row") {
    val direct = Curation.qualityGateFrom(
      Curation.tokenTable(Tables.documents(spark, sfDir)))
    assert(rows(Curation.qualityGateShared(spark, sfDir)) == rows(direct))
    // ... and the declared q66 (orderBy re-applied on read) matches too
    assert(rows(Curation.qualityGate(spark, sfDir)) == rows(direct))
  }

  test("decontaminate: session-standing report equals the direct build row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    val direct = Curation.decontaminateFrom(
      docs, docs.filter(Similarity.probeFilter(col("doc_id"))))
    assert(rows(Curation.decontaminateShared(spark, sfDir)) == rows(direct))
  }

  test("bm25: the standing-index ride equals the per-query index build row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    val probes = docs.filter(Similarity.probeFilter(col("doc_id")))
    val direct = Retrieval.bm25From(docs, probes, nTerms = 3, k = 10)
    assert(rows(Retrieval.bm25Search(spark, sfDir)) == rows(direct))
  }

  test("bpe: the standing tokenizer table equals per-query training row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    // the sym table itself...
    assert(rows(Text.bpeSymShared(spark, sfDir)) == rows(Text.bpeSymTableFrom(docs)))
    // ... and a declared consumer through it (q138's *From with no
    // injection trains per-call — the r21 formulation)
    assert(rows(Text.tokenFertility(spark, sfDir)) ==
      rows(Text.tokenFertilityFrom(docs)))
  }

  test("q149 increment novelty: shingle-fingerprint classes equal string-gram classes") {
    // the r21 string formulation, inline as the reference
    val docs = Tables.documents(spark, sfDir)
    def gramsStr(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingleCol).as("gram"))
    val corpusVocab = gramsStr(docs.filter(col("doc_id") % 7 =!= 0))
      .select(col("gram")).distinct().withColumn("known", lit(true))
    val reference = gramsStr(docs.filter(col("doc_id") % 7 === 0)).distinct()
      .join(corpusVocab, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("known").isNull, lit(1))).as("n_novel"))
    val got = Curation.incrementNovelty(spark, sfDir)
      .select(col("doc_id"), col("n_grams"), col("n_novel"))
    assert(rows(got) == rows(reference))
  }

  test("q142 novelty curve: shingle-fingerprint classes equal string-gram classes") {
    val docs = Tables.documents(spark, sfDir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val bucketed = docs.crossJoin(broadcast(mx))
      .withColumn("bucket",
        least(lit(9L), floor(col("doc_id") * 10.0 / (col("mx") + 1))))
      .withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .select(col("bucket"), explode(Dedup.shingleCol).as("gram"))
      .distinct()
    val reference = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_distinct_grams"))
    val got = Curation.noveltyCurve(spark, sfDir)
      .select(col("bucket"), col("n_distinct_grams"))
    assert(rows(got) == rows(reference))
  }

  test("gram stats: session-standing census equals the direct build row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    val gramsDirect = docs.withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingleCol).as("gram"))
    // q68 through the standing table vs the direct per-frame path
    assert(rows(Curation.boilerplateCensus(spark, sfDir)) ==
      rows(Curation.boilerplateCensusFrom(gramsDirect)))
  }

  test("shared cells are built once per (session, key) and re-read after") {
    // two reads of the same shared artifact return identical rows and
    // the second is a parquet re-read (plan has no aggregation)
    val a = Curation.qualityGateShared(spark, sfDir)
    val b = Curation.qualityGateShared(spark, sfDir)
    assert(rows(a) == rows(b))
    assert(!b.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

  /** A writable copy of sfDir whose documents table is a directory, so a
    * spec can add a document file to it mid-session. */
  private def corpusCopy(): java.nio.file.Path = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_corpus")
    Files.list(java.nio.file.Paths.get(sfDir)).forEach { f =>
      val name = f.getFileName.toString
      if (name != "documents.parquet") Files.copy(f, dir.resolve(name))
      else {
        Files.createDirectories(dir.resolve(name))
        Files.copy(f, dir.resolve(name).resolve("part-0.parquet"))
      }
    }
    dir
  }

  /** Append `docs` to the copy's documents table as one more file. */
  private def addDocs(dir: java.nio.file.Path, docs: org.apache.spark.sql.DataFrame): Unit =
    docs.coalesce(1).write.mode("append").parquet(dir.resolve("documents.parquet").toString)

  test("a standing artifact is rebuilt when its source files change, and only then") {
    val dir = corpusCopy()
    try {
      val appId = spark.sparkContext.applicationId
      val first = rows(Curation.qualityGateShared(spark, dir.toString))
      val pending = Materialize.pendingStages(appId).size
      // unchanged files: a re-read, no build
      assert(rows(Curation.qualityGateShared(spark, dir.toString)) == first)
      assert(Materialize.pendingStages(appId).size == pending, "rebuilt over unchanged files")
      // a new document file: the next call builds, and the new doc is in it
      addDocs(dir, Tables.documents(spark, sfDir).filter(col("doc_id") === 1)
        .withColumn("doc_id", lit(1000001L)))
      val after = Curation.qualityGateShared(spark, dir.toString)
      assert(after.filter(col("doc_id") === 1000001L).count() == 1, "served a stale gate")
      assert(after.count() == first.size + 1)
      assert(Materialize.pendingStages(appId).size == pending + 1)
      // a source with no input files cannot be fingerprinted: rejected by name
      val inMemory = spark.range(3).toDF("id")
      val e = intercept[IllegalArgumentException](
        Materialize.shared("spec-in-memory", inMemory)(inMemory))
      assert(e.getMessage.contains("spec-in-memory"))
      val checkpoint = Materialize.stage(Tables.documents(spark, dir.toString))
      assert(intercept[IllegalArgumentException](
        Materialize.shared("spec-checkpoint", checkpoint)(checkpoint))
        .getMessage.contains("spec-checkpoint"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("q100's standing bloom pair follows a new corpus doc: q100 equals q94 row for row") {
    val dir = corpusCopy()
    try {
      val before = Curation.bloomIncrementSharded(spark, dir.toString).collect()
      // a corpus doc (doc_id % 7 != 0) duplicating the text of an admitted batch doc
      val dupOf = before.head.getLong(0)
      addDocs(dir, Tables.documents(spark, dir.toString).filter(col("doc_id") === dupOf)
        .withColumn("doc_id", lit(1000001L)))
      val standing = Curation.bloomIncrementSharded(spark, dir.toString).collect().toSeq
      assert(!standing.map(_.getLong(0)).contains(dupOf), s"q100 still admits doc $dupOf")
      assert(standing == Curation.bloomIncrement(spark, dir.toString).collect().toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
