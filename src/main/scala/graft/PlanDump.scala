package graft

/** Dump `.explain("formatted")` for named queries to text files — the
  * optimization-round evidence trail (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [<query> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS — the
  * [[Session]] every tool runs on, so the captured plans are the plans
  * [[Bench]] and [[Verify]] actually run. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    java.nio.file.Files.createDirectories(outDir)
    for (q <- names) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      // QueryExecution.explainString mirrors df.explain("formatted")
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        outDir.resolve(s"${q}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"wrote ${outDir.resolve(s"${q}_$suffix.txt")}")
    }
    spark.stop()
  }
}
