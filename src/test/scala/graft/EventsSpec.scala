package graft

import org.apache.spark.sql.functions._
import graft.operators.{Events, Ingest, Manifest}
import graft.sources.Tables

class EventsSpec extends SparkSpec {

  test("tumbling windows cover every event exactly once") {
    val total = Tables.events(spark, sfDir).count()
    val windowed = Events.tumblingWindow(spark, sfDir)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(windowed == total)
  }

  test("sliding windows (width 600, slide 300) count each event twice") {
    val total = Tables.events(spark, sfDir).count()
    val slid = Events.slidingWindow(spark, sfDir)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(slid == 2 * total)
  }

  test("sessions partition events, durations are non-negative") {
    val rows = Events.sessionize(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    assert(rows.map(_.getLong(3)).sum == total)
    assert(rows.forall(_.getLong(5) >= 0L))
    // session_seq starts at 1 per user
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getLong(1)).min == 1L)
    }
  }

  test("late-data counts bounded by totals") {
    Events.lateData(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= r.getLong(2))
    }
  }

  test("manifest entries are sorted and count matches n_bands") {
    Manifest.manifestAgg(spark, sfDir).collect().foreach { r =>
      val entries = r.getString(2).split(",")
      assert(entries.length == r.getLong(1))
      assert(entries.sameElements(entries.sorted))
    }
  }

  test("partitioned overwrite sink writes one dir per time_key and reads back") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val df = Tables.events(spark, sfDir)
      .withColumn("collection", lit("events"))
      .withColumn("parameter", lit("value"))
      .withColumn("time_key", date_format(col("ts"), "yyyyMMdd'T'HH"))
    def counts(): Map[String, Long] = spark.read.parquet(tmp).groupBy("time_key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Ingest.writeCube(df, tmp)
    val expected = df.groupBy("time_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts() == expected)
    // partition dirs on disk named time_key=...
    val dirs = new java.io.File(tmp, "collection=events/parameter=value")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("time_key=")))
    assert(dirs.length == expected.size)
    // overwrite of a single partition leaves the others intact (dynamic mode)
    val key = expected.keys.min
    Ingest.writeCube(df.filter(col("time_key") === key).limit(1)
      .withColumn("value", lit(-1.0)), tmp)
    val rewritten = spark.read.parquet(tmp).filter(col("time_key") === key)
      .select("value").collect().map(_.getDouble(0))
    assert(rewritten.toSeq == Seq(-1.0))
    assert(counts() == expected.updated(key, 1L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
