package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Curation, Dedup, Materialize}

/** The pluggable materialization strategy (`graft.materialize`): all
  * three strategies must be result-equivalent on a representative
  * multi-consumer query, and the setting must be validated. */
class MaterializeSpec extends SparkSpec {

  private def withStrategy[A](s: Option[String])(body: => A): A = {
    s.foreach(spark.conf.set("graft.materialize", _))
    try body finally spark.conf.unset("graft.materialize")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("localCheckpoint, persist, and parquet stages agree on q37 (LSH near-dup)") {
    // lshNearDup stages its per-doc hash-array table for three consumers;
    // bloomIncrement stages twice (sketch + candidate barrier) — together
    // they cover chained stages and the stage-under-broadcast shape
    val expect = withStrategy(None)(rows(Dedup.lshNearDup(spark, sfDir)))
    val expectBloom = withStrategy(None)(rows(Curation.bloomIncrement(spark, sfDir)))
    assert(expect.nonEmpty)
    for (s <- Seq("persist", "parquet")) {
      assert(withStrategy(Some(s))(rows(Dedup.lshNearDup(spark, sfDir))) == expect,
        s"strategy $s diverged on lshNearDup")
      assert(withStrategy(Some(s))(rows(Curation.bloomIncrement(spark, sfDir))) == expectBloom,
        s"strategy $s diverged on bloomIncrement")
    }
  }

  test("an unknown strategy is rejected by name") {
    val e = intercept[IllegalArgumentException] {
      withStrategy(Some("tachyon"))(
        Materialize.stage(spark.range(3).toDF("id")).count())
    }
    assert(e.getMessage.contains("tachyon"))
  }

  test("the parquet stage writes under graft.materialize.dir and re-reads") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage").toString
    spark.conf.set("graft.materialize.dir", tmp)
    try withStrategy(Some("parquet")) {
      val staged = Materialize.stage(spark.range(5).toDF("id"))
      assert(staged.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1, 2, 3, 4))
      // the stage landed where the setting points
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .anyMatch(p => p.getFileName.toString.startsWith("graft_stage_")))
    } finally {
      spark.conf.unset("graft.materialize.dir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("parquet stage dirs are deleted when their session ends, not at JVM exit") {
    // A JVM that restarts its session would accumulate every session's
    // stage dirs under exit-only cleanup (r10 advice). The ApplicationEnd
    // listener deletes the owning session's dirs — parquet stages and
    // shared artifacts alike — at spark.stop(); its exact body
    // (Materialize.releaseStages) is driven here directly because this
    // suite shares its session with every other spec and must not stop it.
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_end").toString
    spark.conf.set("graft.materialize.dir", tmp)
    try withStrategy(Some("parquet")) {
      val appId = spark.sparkContext.applicationId
      val before = Materialize.pendingStages(appId).toSet
      Materialize.stage(spark.range(7).toDF("id")).count()
      Materialize.stage(spark.range(3).toDF("id")).count()
      Materialize.shared(spark, s"materialize-spec-end-${System.nanoTime}") {
        spark.range(4).toDF("id")
      }.count()
      // earlier tests' dirs may still be tracked (their files already
      // cleaned by their own finally blocks) — assert on OURS only
      val fresh = Materialize.pendingStages(appId).toSet -- before
      assert(fresh.size == 3, s"expected 3 new tracked dirs, got $fresh")
      assert(fresh.count(_.getName.startsWith("graft_shared_")) == 1,
        s"the shared build's dir is not tracked: $fresh")
      assert(fresh.forall(_.exists()), "tracked stage dir missing on disk")
      Materialize.releaseStages(appId) // what onApplicationEnd runs at stop
      assert(Materialize.pendingStages(appId).isEmpty, "dirs still tracked")
      assert(fresh.forall(!_.exists()), "stage or shared dir survived session end")
    } finally {
      spark.conf.unset("graft.materialize.dir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("shared stage builds once per (session, key) and survives unpersist-all") {
    // the q101/q103 standing-index story: two queries share one build.
    // Parquet-backed deliberately — the bench harness unpersists every
    // persistent RDD between queries, which kills cross-query checkpoint
    // blocks; the shared stage must survive exactly that.
    val appId = spark.sparkContext.applicationId
    val key = s"materialize-spec-shared-${System.nanoTime}"
    var builds = 0
    def consume(): Seq[String] = rows(
      Materialize.shared(spark, key) {
        builds += 1
        spark.range(11).toDF("id")
      })
    val first = consume()
    assert(first.size == 11)
    assert(builds == 1)
    // the bench's between-query hygiene: drop every persistent RDD
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(consume() == first, "shared stage diverged after unpersist-all")
    assert(builds == 1, "shared stage rebuilt on a warm key")
    // a different key builds independently
    assert(rows(Materialize.shared(spark, key + ".b")(
      spark.range(2).toDF("id"))).size == 2)
    assert(builds == 1)
    // session end releases the memo: the key rebuilds afterwards.
    // releaseStages also deletes OTHER pending stage dirs of this shared
    // session — fine here, every spec consumes its stages eagerly.
    Materialize.releaseStages(appId)
    assert(consume() == first)
    assert(builds == 2, "memo survived session release")
  }
}
