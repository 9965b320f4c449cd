package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.MoneySum
import graft.sources.Tables

/** Relational query surface — SURVEY.md §2 Table B rows Projection..JSON fns.
  *
  * Scale notes (100 TB design, per query):
  *  - Dimension joins (`nation`, `region`, small `customer` slices) are
  *    broadcast explicitly — no shuffle of the fact side.
  *  - Fact-fact joins (lineitem ⋈ orders) are left to sort-merge + AQE;
  *    both sides shuffle on the join key once and the aggregation that
  *    follows reuses the exchange where possible.
  *  - All aggregates are algebraic (sum/count/avg/min/max) → Spark plans
  *    partial (map-side) + final aggregation automatically; no operator
  *    here ever collects to the driver.
  *  - Floating-point sums are rounded identically here and in the DuckDB
  *    oracle (SURVEY.md §7.4 float-determinism note).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: filter → groupBy → agg → orderBy.
    * Reference parity: this is the canonical scan+reduce the engine must
    * run at 100 TB; the filter is pushed to Parquet row groups.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-06-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // decimal-exact sums: both engines then round the IDENTICAL double,
        // immune to accumulation-order ulps (source values are 2-dp; the
        // discount product is an exact 4-dp value). Scaled-long
        // formulation — [[MoneySum]] proves it equals the former
        // decimal(18,s) casts on these grid-exact columns; the decimal
        // path's per-row BigDecimal was 60% of this query's runtime (r21).
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(MoneySum.sumAsDouble(col("l_extendedprice"), 1e2), 2).as("sum_base_price"),
        // 1e6 scale over ~6 corpus-global groups: the pure-long sum wraps
        // at sf≈170 — decimal-accumulated exact variant (r21 verdict #1)
        (floor(MoneySum.sumAsDoubleExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 1e6) * 100) / 100).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        MoneySum.trunc6(MoneySum.sumAsDouble(col("l_extendedprice"), 1e2) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + predicate pushdown: both reach the Parquet scan
    * (mirrors reference server-side bbox/parameter pruning, R2). */
  def filterPushdown(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") < 5.0 && col("l_discount") >= 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Star-schema dimension join: region/nation broadcast to every executor —
    * zero shuffle of the customer side beyond the final aggregation. */
  def broadcastJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(MoneySum.sumAsDouble(col("c_acctbal"), 1e2), 2).as("total_acctbal"))
      .orderBy(col("r_name"), col("n_name"))

  /** Fact-fact join: lineitem ⋈ orders on orderkey. At 100 TB this is a
    * sort-merge join; both sides hash-shuffle on o_orderkey once. AQE
    * handles skewed keys. */
  def factJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        // 1e6 scale over ~5 corpus-global o_orderpriority groups: long
        // wraps at sf≈170 — decimal-accumulated exact variant (r21 #1)
        (floor(MoneySum.sumAsDoubleExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 1e6) * 100) / 100).as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** Left-semi join: customers that have at least one order. Semi joins
    * never duplicate the left side, so the aggregate is exact without a
    * distinct. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_active_customers"))
      .orderBy(col("c_mktsegment"))

  /** Left-anti join: customers who never placed a high-value order. The
    * filter on the right side is applied before the anti join (pushed below
    * it by Catalyst), shrinking the build side. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter(col("o_totalprice") > 350000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_inactive_customers"))
      .orderBy(col("c_mktsegment"))

  /** Exact distinct aggregation. At scale count(distinct) expands to a
    * two-phase plan (partial distinct per partition, then merge) — still
    * fully distributed. approx_count_distinct (HLL) is the cheap variant;
    * exposed via [[approxDistinct]] with a tolerance-checked test instead
    * of a hash oracle. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_distinct_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** HLL sketch count, made hash-checkable: the raw estimate differs
    * engine-to-engine (different sketch impls), so the query outputs the
    * exact distinct count plus a boolean `within_15pct` — each engine
    * compares ITS OWN HLL estimate against its own exact count. rsd 0.05
    * (the Spark default) keeps the sketch small (~2^9 registers vs ~2^13
    * at 0.01); 15% = 3 sigma, so both engines agree `true` on any sane
    * sketch and the hashes match. ApproxSpec still tolerance-tests the
    * raw estimate. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_exact"),
        approx_count_distinct(col("o_custkey"), 0.05).as("approx"))
      .select(
        col("o_orderstatus"),
        col("n_exact"),
        (abs(col("approx") - col("n_exact")) <= col("n_exact") * 0.15).as("within_15pct"))
      .orderBy(col("o_orderstatus"))

  /** ROLLUP hierarchy aggregate — Catalyst expands to a single shuffle with
    * grouping-set expansion, not one job per level. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** Ranking window: top orders per priority class. Window shuffles once on
    * the partition key; no global sort. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** lag/lead window: per-customer order-value deltas over time. */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_orderkey", lead(col("o_orderkey"), 1).over(w))
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") - coalesce(col("prev_price"), lit(0.0)), 2).as("price_delta"),
        coalesce(col("next_orderkey"), lit(-1L)).as("next_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Sliding row-frame window: 3-row moving average per customer. */
  def windowFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, 0)
    Tables.orders(spark, dir)
      .withColumn("moving_avg", floor(
        (sum(MoneySum.term(col("o_totalprice"), 1e2)).over(w)
          .cast("double") / 1e2) /
          count(lit(1)).over(w) * 1e4) / 1e4)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"), col("moving_avg"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Top-k per group via ranking window + filter — the scalable idiom (no
    * global sort; per-group heap in the window operator). */
  def topKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
      .orderBy(col("p_brand"), col("rn"))
  }

  /** Set operations: nation keys that have customers and/or suppliers.
    * intersect/except plan as aggregate + semi/anti joins in Spark. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val custNations = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val suppNations = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    val both = custNations.intersect(suppNations).withColumn("relation", lit("both"))
    val custOnly = custNations.except(suppNations).withColumn("relation", lit("customers_only"))
    val all = custNations.union(suppNations).distinct().withColumn("relation", lit("any"))
    both.unionByName(custOnly).unionByName(all)
      .orderBy(col("relation"), col("nationkey"))
  }

  /** Scalar string functions (reference R11 string cleanup parity). */
  def stringFns(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_partkey") <= 200)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        upper(col("p_brand")).as("brand_upper"),
        length(col("p_type")).as("type_len"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devoweled"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        substring(col("p_name"), 1, 5).as("name_prefix"))
      .orderBy(col("p_partkey"))

  /** Date/time functions incl. the reference's timestamp→key format (R11:
    * `yyyyMMdd'T'HHmmss`, ingestor.py:104). */
  def datetimeFns(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 300)
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMdd'T'HHmmss").as("ts_key"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("order_day"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        col("o_orderdate").cast("long").as("epoch_s"))
      .orderBy(col("o_orderkey"))

  /** Math functions (the building blocks of the LCC kernel, SURVEY §7.5). */
  def mathFns(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 50)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        round(pow(col("l_discount"), lit(2.0)), 6).as("disc_sq"),
        round(sin(col("l_quantity")), 6).as("sin_qty"),
        round(atan(col("l_tax")), 6).as("atan_tax"),
        floor(col("l_quantity") / 7.0).cast("long").as("qty_div7"),
        abs(col("l_quantity") - 25.0).as("qty_dev"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Conditional branch (reference R7: collection-prefix dispatch). */
  def caseWhen(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        when(col("p_type").startsWith("STANDARD"), lit("std"))
          .when(col("p_size") >= 40, lit("large"))
          .otherwise(lit("other")).as("class"),
        col("p_size"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("p_size").cast("long")).as("total_size"))
      .orderBy(col("class"))

  /** JSON field extraction from events.props (declared with from_json /
    * get_json_object in Spark; the oracle uses an equivalent regexp so the
    * check does not depend on DuckDB's JSON extension). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
}
