package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Materialize

/** Session-scoped shared stages (`Materialize.shared`): one build per
  * (session, name, source files), surviving unpersist-all, with their
  * parquet dirs under `graft.materialize.dir` deleted when the owning
  * session ends. */
class MaterializeSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `n` ids written to parquet under `dir` and read back: a shared
    * artifact keys on the files its sources read. */
  private def parquetSource(dir: java.nio.file.Path, n: Int): DataFrame = {
    val d = dir.resolve(s"src_$n").toString
    spark.range(n).toDF("id").write.parquet(d)
    spark.read.parquet(d)
  }

  test("parquet stage dirs are deleted when their session ends, not at JVM exit") {
    // A JVM that restarts its session would accumulate every session's
    // stage dirs under exit-only cleanup (r10 advice). The ApplicationEnd
    // listener deletes the owning session's shared-artifact dirs at
    // spark.stop(); its exact body (Materialize.releaseStages) is driven
    // here directly because this suite shares its session with every
    // other spec and must not stop it.
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_end").toString
    spark.conf.set("graft.materialize.dir", tmp)
    try {
      val appId = spark.sparkContext.applicationId
      val before = Materialize.pendingStages(appId).toSet
      val key = s"materialize-spec-end-${System.nanoTime}"
      val src = parquetSource(java.nio.file.Paths.get(tmp), 7)
      Materialize.shared(key, src)(spark.range(7).toDF("id")).count()
      Materialize.shared(key + ".b", src)(spark.range(3).toDF("id")).count()
      // earlier tests' dirs may still be tracked (their files already
      // cleaned by their own finally blocks) — assert on OURS only
      val fresh = Materialize.pendingStages(appId).toSet -- before
      assert(fresh.size == 2, s"expected 2 new tracked dirs, got $fresh")
      assert(fresh.forall(_.getName.startsWith("graft_shared_")), fresh)
      // the dirs landed where the setting points
      assert(fresh.forall(_.getParentFile.getCanonicalPath ==
        new java.io.File(tmp).getCanonicalPath), s"not under $tmp: $fresh")
      assert(fresh.forall(_.exists()), "tracked stage dir missing on disk")
      Materialize.releaseStages(appId) // what onApplicationEnd runs at stop
      assert(Materialize.pendingStages(appId).isEmpty, "dirs still tracked")
      assert(fresh.forall(!_.exists()), "shared dir survived session end")
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_src")
    try {
      val src = parquetSource(tmp, 11)
      var builds = 0
      def consume(): Seq[String] = rows(
        Materialize.shared(key, src) {
          builds += 1
          src
        })
      val first = consume()
      assert(first.size == 11)
      assert(builds == 1)
      // the bench's between-query hygiene: drop every persistent RDD
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      assert(consume() == first, "shared stage diverged after unpersist-all")
      assert(builds == 1, "shared stage rebuilt on a warm key")
      // a different key builds independently
      assert(rows(Materialize.shared(key + ".b", src)(
        spark.range(2).toDF("id"))).size == 2)
      assert(builds == 1)
      // session end releases the memo: the key rebuilds afterwards.
      // releaseStages also deletes OTHER pending stage dirs of this shared
      // session — fine here, every spec consumes its stages eagerly.
      Materialize.releaseStages(appId)
      assert(consume() == first)
      assert(builds == 2, "memo survived session release")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
