package graft

import graft.sources.Tables

/** Per-round benchmark: one JSON line with per-query seconds.
  *
  *  - queries run in sorted name order after a warm-up (every table
  *    counted, one full query), so JVM and codegen warm-up is charged to
  *    no query;
  *  - results are materialized with a noop-format write, which evaluates
  *    every output column — `count()` would let Catalyst prune the very
  *    expressions being timed;
  *  - each query runs `SPARK_GRAFT_TRIALS` times (default 3) and reports
  *    the median; `value` is the sum of medians. `BENCH_LOCAL.json` also
  *    records each query's min and max;
  *  - a query that throws on any trial is an `err` and is never timed, so
  *    a crash cannot improve the total.
  *
  * The harness reports; it does not adjudicate host noise. Same-host
  * before/after comparisons go through `perfbench/run.py` and
  * `perfbench/compare.py`, which alternate parent and change runs.
  *
  * Env: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_TRIALS`, `SPARK_GRAFT_ONLY`
  * (comma-separated name prefixes, a dev subset) and `SPARK_GRAFT_CPUS`.
  */
object Bench {
  /** The queries a run times, in sorted order: every name in `names`, or
    * with `only` (comma-separated prefixes) those starting with one of
    * them. A prefix that matches no name throws, naming it, so a typo
    * can neither drop a query nor turn the run into an empty one that
    * overwrites `BENCH_LOCAL.json`. */
  def select(names: Seq[String], only: Option[String]): Seq[String] = {
    val prefixes = only.map(_.split(",").toSeq).getOrElse(Seq(""))
    val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    if (unmatched.nonEmpty)
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_ONLY prefixes match no query: ${unmatched.mkString(",")}")
    names.filter(n => prefixes.exists(n.startsWith)).sorted
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Spark re-applies its default log4j2 config (rootLogger=INFO) during
    // SparkContext init when no user configuration exists, and its INFO
    // lines land in the bounded stdout/stderr tail the JSON line must
    // survive — so select a bench-only config file before any log4j or
    // Spark class initializes. The non-default name keeps library
    // consumers' log4j discovery from ever finding it.
    if (!sys.props.contains("log4j2.configurationFile"))
      System.setProperty("log4j2.configurationFile",
        "classpath:graft-bench-log4j2.properties")
    // backstop for a classpath layout that drops the resource
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    // before any session is built: a bad selection must not cost a
    // Spark start-up, nor reach the BENCH_LOCAL.json write
    val names = select(SparkEntry.queries.keys.toSeq, sys.env.get("SPARK_GRAFT_ONLY"))
    val trials = sys.env.get("SPARK_GRAFT_TRIALS").map(_.toInt).getOrElse(3)
    require(trials >= 1, s"SPARK_GRAFT_TRIALS must be >= 1, got $trials")
    val spark = Session.local()

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Release a query's cached and locally-checkpointed blocks before the
    // next one runs, outside the timer: accumulated blocks otherwise turn
    // the suite's tail into a GC measurement. blocking=true, because an
    // async unpersist defers the removal into the next query's timed
    // window. The GC nudges the ContextCleaner, which frees shuffle files
    // and broadcasts only once their driver-side objects are collected.
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc()
    }

    Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
      Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
      Tables.documents _, Tables.embeddings _)
      .foreach(t => t(spark, sfDir).count())
    names.headOption.foreach(run)
    release()

    def timed(name: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { run(name); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally release()
    }
    val results: Seq[(String, Either[String, Seq[Double]])] = names.map { name =>
      val runs = Seq.fill(trials)(timed(name))
      name -> runs.collectFirst { case Left(err) => err }.toLeft(runs.collect { case Right(v) => v })
    }

    def median(vs: Seq[Double]): Double = vs.sorted.apply(vs.size / 2)
    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    // Short keys with 3-decimal medians on stdout (the line must fit the
    // driver's bounded tail capture); full names with {sec, min, max} in
    // BENCH_LOCAL.json.
    def entries(short: Boolean): String = results.map { case (k, r) =>
      val key = if (short) k.takeWhile(_ != '_') else k
      val v = r match {
        case Right(vs) if short => ms(median(vs)).toString
        case Right(vs) => s"""{"sec":${median(vs)},"min":${vs.min},"max":${vs.max}}"""
        case Left(err) => s"""{"err":"${err.replaceAll("[\"\\\\\\n\\r\\t]", " ")}"}"""
      }
      s""""$key":$v"""
    }.mkString("{", ",", "}")
    val total = ms(results.collect { case (_, Right(vs)) => median(vs) }.sum)
    val nErr = results.count(_._2.isLeft)
    // the scalars come after the queries map: the driver keeps only the
    // last ~2000 chars of stdout, which can start mid-map
    def line(short: Boolean) =
      s"""{"metric":"total","unit":"sec","queries":${entries(short)},"value":$total,"n_err":$nErr,"sf":"$sfDir"}"""

    // anchored at the repo root (the dir holding build.sbt), not the cwd:
    // `sbt run` forks with cwd = base dir, a bare java invocation may not
    val repoRoot = Iterator.iterate(
        java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).take(8)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(java.nio.file.Paths.get(sys.props("user.dir")))
    java.nio.file.Files.write(
      repoRoot.resolve("BENCH_LOCAL.json"),
      (line(short = false) + "\n").getBytes("UTF-8"))
    println(line(short = true))
    spark.stop()
  }
}
