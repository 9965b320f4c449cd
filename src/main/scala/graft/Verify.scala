package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only subset filter (comma-separated name prefixes); the driver
    // sets no env var and always verifies the full surface. Selected
    // before the session: a prefix matching no query stops the run by
    // name instead of writing a partial oracle_sql.json.
    val names = Bench.select(SparkEntry.queries.keys.toSeq,
      sys.env.get("SPARK_GRAFT_ONLY")).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => names(q._1)).foreach { case (name, fn) =>
      try LocalFs.write(fn(spark, sfDir).coalesce(1)).mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => names(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
