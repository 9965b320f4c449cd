package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Skew-handling join utility (SURVEY.md §7.4 "salting for skew").
  *
  * For a fact⋈dim join where a few fact keys dominate: replicate the dim
  * side `nSalts` times and scatter fact rows across salt buckets, so one
  * hot key spreads over `nSalts` reducers instead of one straggler task.
  * AQE's skew-join handles sort-merge cases adaptively; explicit salting
  * is the deterministic fallback when AQE can't (e.g. aggregations after
  * the join keyed on the skewed column, or non-AQE environments).
  *
  * Result is row-identical to the plain join (asserted in SkewSpec).
  */
object Skew {

  /** Deterministic scatter: the salt hashes the DISCRIMINATOR column only
    * (not the join key — hashing the key would send a hot key's rows to
    * one salt and defeat the whole point). Choose a high-cardinality
    * discriminator (a row id): a low-cardinality one collapses the
    * scatter the same way. */
  private def saltCol(discriminator: Column, nSalts: Int): Column =
    pmod(xxhash64(discriminator), lit(nSalts.toLong))

  /** fact ⋈ dim on `factKey == dimKey`, salted `nSalts` ways.
    *
    * @param discriminator a fact column (any, e.g. the row id) used to
    *                      scatter rows of the same key across salts
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                 discriminator: String, nSalts: Int = 8): DataFrame = {
    val saltedFact = fact.withColumn("__salt", saltCol(col(discriminator), nSalts))
    val saltedDim = dim
      .withColumn("__salt", explode(array((0 until nSalts).map(i => lit(i.toLong)): _*)))
    saltedFact
      .join(saltedDim, col(factKey) === col(dimKey) && saltedFact("__salt") === saltedDim("__salt"))
      .drop("__salt")
  }

  /** The overfull-bucket salt guard of a bucketed band self-join on
    * `keys`: a bucket holding more than `saltCap` rows of `rows` splits
    * into ceil(n/saltCap) salts. Each `build` row lands in exactly one of
    * its bucket's salts by the hash of its `id` column; each `probe` row
    * is replicated to every salt of its bucket, so every in-band pair
    * still meets exactly once on (keys, salt), and no join cell holds
    * more than ~saltCap build rows. The overfull table is tiny by
    * construction (only buckets past the cap) and is broadcast to both
    * sides; uniform data pays one column-pruned histogram scan and an
    * empty broadcast. Returns (build, probe), each with an int `salt`. */
  private[graft] def saltOverfull(rows: DataFrame, keys: Seq[String], saltCap: Int)(
      build: DataFrame, id: String, probe: DataFrame): (DataFrame, DataFrame) = {
    val overfull = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > saltCap)
      .withColumn("nsalt", ceil(col("bn") / saltCap).cast("int"))
      .select((keys :+ "nsalt").map(col): _*)
    (build.join(broadcast(overfull), keys, "left_outer")
      .withColumn("salt", coalesce(pmod(hash(col(id)), col("nsalt")), lit(0)).cast("int"))
      .drop("nsalt"),
      probe.join(broadcast(overfull), keys, "left_outer")
        .withColumn("salt", explode(sequence(lit(0), coalesce(col("nsalt"), lit(1)) - 1))))
  }

  /** q92: the salted join as a declared query — lineitem⋈supplier salted
    * 8 ways, aggregated per nation. The oracle is the PLAIN join SQL:
    * salting is a physical rewrite, so the result must be row-identical
    * to the unsalted join (the same property SkewSpec asserts at row
    * granularity; this query puts it under the driver's hash check).
    *
    * Scale shape: the dim side replicates 8× (25·8 supplier rows here —
    * still broadcast-sized; for a shuffled join the fan-out bounds the
    * hottest fact key's reducer at 1/8 of its rows), the fact side adds
    * one narrow salt column, and the per-nation agg is map-side combined
    * before its one shuffle. */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val dim = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    saltedJoin(fact, dim, "l_suppkey", "s_suppkey",
        discriminator = "l_orderkey", nSalts = 8)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("s_nationkey"))
  }
}
