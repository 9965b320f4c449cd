package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** As-of and range joins (SURVEY.md §2 Table B "Joins" row: "range/as-of
  * join for events-vs-forecast-time") — the two temporal join shapes Spark
  * has no native operator for, composed from builtins.
  *
  * As-of: implemented with the union-sort trick — interleave both sides on
  * (key, time), carry the right side's values forward with a last_value
  * window, keep left rows. ONE shuffle on (key), no per-row subquery, no
  * equi+inequality join explosion: this is the formulation that scales to
  * 100 TB (the naive join-then-filter-then-rank explodes on hot keys).
  *
  * Range: bucketize time, join on (bucket ± 1), filter the exact band —
  * turns an inequality join into an equality join with bounded fanout.
  */
object Temporal {

  /** For each event: the most recent order (same user/customer key) placed
    * at or before the event time. Events with no prior order drop out
    * (inner as-of). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select(col("user_id").as("k"), col("ts").cast("double").as("t"),
        col("event_id"), col("event_type"))
      .withColumn("side", lit(1))
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey").as("k"), col("o_orderdate").cast("double").as("t"),
        col("o_orderkey"), col("o_totalprice"))
      .withColumn("side", lit(0))

    // interleave; at equal t the order sorts first (side 0) so an event at
    // exactly the order time sees it ("at or before")
    val unioned = events
      .withColumn("o_orderkey", lit(null).cast("long"))
      .withColumn("o_totalprice", lit(null).cast("double"))
      .select("k", "t", "side", "event_id", "event_type", "o_orderkey", "o_totalprice")
      .unionByName(orders
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("event_type", lit(null).cast("string"))
        .select("k", "t", "side", "event_id", "event_type", "o_orderkey", "o_totalprice"))

    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("side"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_price", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("asof_orderkey").isNotNull)
      .select(col("event_id"), col("k").as("user_id"), col("event_type"),
        col("asof_orderkey"), col("asof_price"))
      .orderBy(col("event_id"))
  }

  /** q107: tolerance-band as-of join — the pandas `merge_asof(tolerance=)`
    * semantic, expressed as last-touch attribution inside the events
    * stream: for each purchase, the most recent click by the same user at
    * or before it AND within one hour; staler clicks attribute nothing.
    *
    * Same union-sort shape as [[asofJoin]] (ONE shuffle on the key): the
    * matched click's time is carried forward alongside its id, so the
    * band test is a post-window filter — the tolerance costs nothing
    * extra, versus the equi+inequality join formulation whose per-hot-key
    * fanout grows with the band. */
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolSec = 3600.0
    val ev = Tables.events(spark, dir)
    def sided(tpe: String, side: Int) = ev
      .filter(col("event_type") === tpe)
      .select(col("user_id").as("k"), col("ts").cast("double").as("t"),
        col("event_id").as("eid"))
      .withColumn("side", lit(side))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("side"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sided("click", 0).unionByName(sided("purchase", 1))
      .withColumn("asof_click",
        last(when(col("side") === 0, col("eid")), ignoreNulls = true).over(w))
      .withColumn("asof_t",
        last(when(col("side") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("asof_click").isNotNull &&
        col("t") - col("asof_t") <= tolSec)
      .select(col("eid").as("event_id"), col("k").as("user_id"),
        col("asof_click"), floor(col("t") - col("asof_t")).cast("long").as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** Range self-join: pairs of events of different types within a 60-second
    * band, via the bucket-join pattern (equality join on adjacent 60 s
    * buckets, then the exact band filter). Fanout per row is bounded by
    * bucket population — no quadratic blowup on the time axis. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame =
    rangeJoinOn(Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts").cast("double").as("t")))

  /** Bucket-join core, guarded against time-axis skew. A bucket whose
    * population exceeds `saltCap` is split into ceil(n/saltCap) sub-salts:
    * the build side lands in exactly one (bucket, salt) cell by hash, the
    * probe side replicates across that bucket's salts — every in-band pair
    * still meets exactly once, but no single join cell holds more than
    * ~saltCap build rows. Salting cannot shrink the genuine pair count
    * (that is output, not skew); what it bounds is per-task build size and
    * it spreads the pair work across the cluster instead of one straggler
    * task. The r11 testdata regression was a live demo of the unguarded
    * failure: a 1000×-collapsed time axis put ~2300 events per bucket and
    * the suite spent 34–57 s in a handful of near-cartesian tasks — any
    * bursty real corpus (outage replays, batch backfills) does the same at
    * 100 TB. The guard is [[Skew.saltOverfull]]. */
  private[graft] def rangeJoinOn(ev: DataFrame, saltCap: Int = 256): DataFrame = {
    val bucketed = ev.withColumn("bucket", floor(col("t") / 60).cast("long"))
    // probe side explodes to its own bucket ± 1 so every in-band pair
    // shares a bucket with the build side, then to that bucket's salts
    val (left, probe) = Skew.saltOverfull(bucketed, Seq("bucket"), saltCap)(
      bucketed.select(col("event_id").as("e1"), col("event_type").as("type1"),
        col("t").as("t1"), col("bucket")), "e1",
      bucketed.withColumn("bucket",
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1))))
    val right = probe
      .select(col("event_id").as("e2"), col("event_type").as("type2"),
        col("t").as("t2"), col("bucket"), col("salt").cast("int").as("salt"))
    // each qualifying pair matches on exactly one (bucket, salt): the left
    // row's own bucket and its hash-assigned salt — no post-join distinct
    left.join(right, Seq("bucket", "salt"))
      .filter(col("e1") < col("e2") && col("type1") =!= col("type2") &&
        abs(col("t2") - col("t1")) <= 60.0)
      // (type1, type2) is ORIENTED by the e1 < e2 dedup filter, so one
      // unordered type pair can appear as two rows; the oracle mirrors
      // this exactly. An unordered census would group on
      // least/greatest(type1, type2) instead.
      .groupBy(col("type1"), col("type2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("type1"), col("type2"))
  }
}
