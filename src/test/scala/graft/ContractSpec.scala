package graft

import scala.jdk.CollectionConverters._

/** Pins the driver contract: every oracle key names a declared query, the
  * flagship entry smokes, and every declared query executes at sf0.001 —
  * on the one session shape [[Session.local]] builds. */
class ContractSpec extends SparkSpec {

  test("every oracle entry has a matching declared query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("every declared query has an oracle (no rows-only checks remain)") {
    val rowsOnly = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(rowsOnly.isEmpty, s"queries without an oracle: $rowsOnly")
  }

  test("entry() smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes and is non-empty at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0) Some(name) else None
    }
    // near-dup pair queries may legitimately return few rows, but none of
    // the declared queries should be empty on the planted test corpus
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("the test session is Session.local(4): graft functions, UTC, ANSI, 4 partitions") {
    assert(spark.sql("select sha256_prefix32('graft')").head().get(0) != null)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("SparkSession.builder appears in src/main only inside Session.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${sys.props("user.dir")}")
    val walk = java.nio.file.Files.walk(root)
    val builders = try walk.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Session.scala")
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
    finally walk.close()
    assert(builders.isEmpty, s"sessions built outside graft.Session: $builders")
  }

  test("CF packing attributes are read in one file under src/main/scala") {
    // one CF cube decoder serves both NetCDF containers; a second file
    // naming these attributes is a second copy of the CF rules
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${sys.props("user.dir")}")
    val walk = java.nio.file.Files.walk(root)
    val readers = try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = java.nio.file.Files.readString(p)
        src.contains("\"scale_factor\"") || src.contains("\"missing_value\"")
      }
    finally walk.close()
    assert(readers.size <= 1, s"CF packing attributes read in several files: $readers")
  }
}
