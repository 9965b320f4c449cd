package graft

import org.apache.spark.sql.SparkSession

/** The one place the program builds a SparkSession: Verify, Bench,
  * PlanDump and the test harness all run on these confs, so a plan or a time captured by one tool is the plan or
  * time the others see. */
object Session {

  /** `SPARK_GRAFT_CPUS` (a deployment setting), else every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.ansi.enabled", "true")
      // Static conf, default 100: the query suite compiles thousands of
      // distinct codegen units (one trained IVF-PQ query's ~55 stages
      // alone approach the default), so repeated trials and recurring
      // subplans paid full Janino recompiles after eviction. build.sbt
      // reserves the JIT code cache the retained classes need.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: unpersisting locally-checkpointed RDDs emits one
    // "cannot be recomputed after unpersisting" WARN per block
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
