package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.MoneySum
import graft.sources.Tables

/** Third relational wave (round 2): the remaining ranking-window family,
  * GROUPING SETS (distinct from rollup/cube), and unpivot/melt
  * (SURVEY.md §2 Table B rows Window functions / Aggregations).
  */
object Analytic {

  /** Distribution-window family: ntile / percent_rank / cume_dist plus
    * first/last_value frames, partitioned by a HIGH-cardinality key
    * (custkey) — thousands of small independent groups, so the single
    * window shuffle parallelizes across every executor at any scale
    * (a low-cardinality partition key would cap parallelism at its
    * distinct count). Composite ORDER BY with a unique tie-breaker makes
    * every ranking deterministic on both engines. */
  def windowFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 500)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        // floor-truncation, not round: both engines derive the identical
        // (rank-1)/(n-1) double, and floor of identical doubles always
        // agrees (OPERATORS.md determinism rules)
        MoneySum.trunc6(percent_rank().over(w)).as("pct_rank"),
        MoneySum.trunc6(cume_dist().over(w)).as("cume"),
        first(col("o_orderkey")).over(wAll).as("cheapest_order"),
        last(col("o_orderkey")).over(wAll).as("priciest_order"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** GROUPING SETS — explicitly chosen subsets, not the rollup/cube
    * closure: (flag, status), (flag), (status). One shuffle; Spark
    * expands the sets map-side before partial aggregation. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        round(MoneySum.sumAsDouble(col("l_quantity"), 1e2), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("qty"))
      .orderBy(col("flag"), col("status"))

  /** Unpivot/melt: wide lineitem measures → long (measure, val) — the
    * schema-normalization idiom (dual of q47 pivot). `unpivot` is a
    * zero-shuffle row-local expansion; the following aggregate is one
    * shuffle on the tiny measure key. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"),
        col("l_discount").cast("double").as("l_discount"),
        col("l_tax").cast("double").as("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "val")
      .groupBy(col("measure"))
      .agg(
        count(lit(1)).as("n"),
        round(MoneySum.sumAsDouble(col("val"), 1e4), 4).as("total"),
        round(min(col("val")), 4).as("lo"),
        round(max(col("val")), 4).as("hi"))
      .orderBy(col("measure"))
}
