package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MoneySum
import graft.sources.Tables

/** Reference-parity ingestion sink ops (SURVEY.md §2 R3, R10-R14).
  *
  * The reference's inner loop — split a cube per time step, upload each
  * band, accumulate a {time_key -> public_url} JSON manifest (reference
  * dmi_ingestor/ingestor.py:90-122, 219-227) — becomes one partitioned
  * write ([[Ingest.writeCube]]) plus one aggregation. The manifest agg is O(groups), not O(rows):
  * entries are collected per (small) group after a map-side combine.
  */
object Manifest {

  /** R11 timestamp→key format (ingestor.py:104 semantics:
    * `yyyyMMdd'T'HHmmss`). */
  val TimeKeyFormat = "yyyyMMdd'T'HHmmss"

  /** Per-time-partition key census — the engine dual of the reference's
    * band split (R10): `time_str` is just a column, so "one file per time
    * step" is `partitionBy(time_key)` at write, and this query shows the
    * partition layout that write would produce. */
  def timePartitionKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("time_key", date_format(col("ts"), "yyyyMMdd'T'HH"))
      .groupBy(col("time_key"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(MoneySum.sumAsDouble(col("value"), 1e2), 2).as("sum_value"))
      .orderBy(col("time_key"))

  /** R13+R14 manifest aggregation: per collection (event_type stands in),
    * the sorted time_key=url index the reference serializes as
    * forecasts.json. Entries are made unique with event_id so the sorted
    * concatenation is deterministic in both engines. */
  def manifestAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("time_key", date_format(col("ts"), TimeKeyFormat))
      .withColumn("url", format_string(
        "https://bucket.example/forecasts/%s/%s_%d.tif",
        col("event_type"), col("time_key"), col("event_id")))
      .withColumn("entry", concat(col("time_key"), lit("="), col("url")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_bands"),
        array_join(array_sort(collect_list(col("entry"))), ",").as("manifest"))
      .orderBy(col("event_type"))
}
