package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.MoneySum
import graft.sources.Tables

/** Event-time operators over the `events` table — the batch expression of
  * the streaming checklist row (SURVEY.md §2 Table B "Streaming").
  *
  * Window starts are emitted as epoch-second BIGINTs, not timestamps:
  * integer bucket arithmetic is identical between Spark and the oracle
  * regardless of the file's physical timestamp unit (which Tables sniffs
  * from the footer), while raw timestamp output would be unit-fragile.
  *
  * Scale: every query here is a single hash-shuffle on (bucket[, key]) with
  * map-side partial aggregation; sessionization shuffles once on user_id.
  * The same transforms run under Structured Streaming by swapping the
  * source for `readStream` + `withWatermark` (see streaming.StreamOps).
  *
  * MoneySum long-safety audit (r22, verdict r21 #1): every 1e2-scale value
  * sum here groups by a TIME BUCKET (10-min window), a (user, session), or
  * an hour partition key — corpus growth adds GROUPS, not rows per group,
  * unlike q01/q04's fixed-cardinality flag/priority groups. A group wraps
  * long only past ~9.2e16 scaled units ≈ 9e14 currency in one 10-minute
  * bucket — beyond any realistic ingest rate; if events ever grows
  * corpus-like per bucket, switch to [[MoneySum.sumAsDoubleExact]].
  */
object Events {

  private def bucketStart(slideSec: Int, offsetSec: Int = 0) =
    (floor((col("ts").cast("double") - offsetSec) / slideSec) * slideSec + offsetSec)
      .cast("long")

  /** Tumbling 10-minute event-time windows: count + sum per window. */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("window_start", bucketStart(600))
      .groupBy(col("window_start"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(MoneySum.sumAsDouble(col("value"), 1e2), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding windows: 10-minute width, 5-minute slide. Each event lands in
    * width/slide = 2 windows; expressed as an explicit explode over slide
    * offsets so the oracle can mirror it exactly. Spark's `window()` with a
    * slide produces the same buckets. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", explode(array(lit(0L), lit(1L))))
      .withColumn("window_start", bucketStart(300) - col("k") * 300)
      .groupBy(col("window_start"))
      .agg(
        count(lit(1)).as("n_events"),
        MoneySum.trunc6(MoneySum.sumAsDouble(col("value"), 1e2) / count(lit(1))).as("avg_value"))
      .orderBy(col("window_start"))

  /** Gap-based sessionization (30-minute inactivity gap): the classic
    * lag → gap-flag → running-sum session id, then per-session rollup.
    * This is the batch dual of flatMapGroupsWithState session windows. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts").cast("double"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (col("ts").cast("double") - col("prev_ts")) > 1800.0, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        floor(min(col("ts").cast("double"))).cast("long").as("session_start"),
        count(lit(1)).as("n_events"),
        round(MoneySum.sumAsDouble(col("value"), 1e2), 2).as("sum_value"),
        floor(max(col("ts").cast("double")) - min(col("ts").cast("double"))).cast("long")
          .as("duration_s"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Late-data accounting: events older than (global max ts − 2 h), the
    * batch analogue of a watermark drop count. The global max is computed
    * distributed and broadcast back (scalar subquery → BroadcastExchange —
    * no driver collect). */
  def lateData(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val wm = ev.agg(max(col("ts").cast("double")).as("max_ts"))
    ev.crossJoin(broadcast(wm))
      .withColumn("is_late", (col("ts").cast("double") < col("max_ts") - 7200.0).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("is_late")).as("n_late"),
        count(lit(1)).as("n_total"))
      .orderBy(col("event_type"))
  }
}
